"""Session-scoped ANN index handle (operators.similarity.open_ann_index):
every change to the index on disk — a rebuild, an append, a delete, a
compaction — is seen by the next query on an open handle, the LRU and
release_caches() bound what stays open, and a literal query vector
answers exactly as the same vector read from a source table does."""

from __future__ import annotations

import io

import pytest

from bigdata_elephant_spark import session
from bigdata_elephant_spark.cli import main
from bigdata_elephant_spark.operators import search as S
from bigdata_elephant_spark.operators import similarity as sim


def _run(spark, argv) -> str:
    buf = io.StringIO()
    assert main(argv, spark=spark, out=buf) == 0
    return buf.getvalue()


def _parse(out: str) -> list[tuple[str, str]]:
    lines = [ln for ln in out.splitlines() if ln]
    assert lines[0] == "vec_id\tcos_sim"
    return [tuple(ln.split("\t")) for ln in lines[1:]]


def _vec(row) -> str:
    return ",".join(repr(float(x)) for x in row["embedding"])


@pytest.fixture(autouse=True)
def _no_open_handles():
    sim.close_ann_indexes()
    yield
    sim.close_ann_indexes()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _query(spark, idx, vec, k=5, extra=()):
    return _parse(_run(spark, [
        "ann-query", "--index", idx, f"--vec={vec}", "-k", str(k),
        "--probe", "3", *extra,
    ]))


def test_rebuild_at_same_path_follows_new_build(spark, emb, tmp_path):
    """Rebuilding the index at the same path in the same session: the
    next query answers from the new build, exactly as the inline IVF
    scorer over the new vectors does."""
    idx = str(tmp_path / "ivf")
    first = emb.filter("vec_id % 2 = 0")
    second = emb.filter("vec_id % 3 = 0")
    sim.build_ivf_index(first, idx, n_cells=8)
    before = sim.ivf_topk_indexed(spark, idx, 0, n_probe=3, k=5).collect()
    h = sim.open_ann_index(spark, idx)
    assert sim.open_ann_index(spark, idx) is h  # unchanged: reused

    sim.build_ivf_index(second, idx, n_cells=8)
    after = sim.ivf_topk_indexed(spark, idx, 0, n_probe=3, k=5).collect()
    want = sim.ivf_topk(second, 0, n_cells=8, n_probe=3, k=5).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in want]
    assert all(r["vec_id"] % 3 == 0 for r in after)
    assert [tuple(r) for r in after] != [tuple(r) for r in before]
    assert sim.open_ann_index(spark, idx) is not h


def test_ann_add_is_seen(spark, emb, sf_dir, tmp_path):
    """An ann-add append to an open handle's index is answered by the
    next query exactly as a full build over base + delta answers."""
    base_p, delta_p = str(tmp_path / "base"), str(tmp_path / "delta")
    emb.filter("vec_id < 400").write.parquet(base_p)
    emb.filter("vec_id >= 400").write.parquet(delta_p)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    _run(spark, ["ann-build", "--embeddings", base_p, "--out", inc,
                 "--cells", "8"])
    _run(spark, ["ann-build", "--embeddings", f"{sf_dir}/embeddings.parquet",
                 "--out", full, "--cells", "8"])
    vec = _vec(emb.filter("vec_id = 450").first())
    before = _query(spark, inc, vec)
    assert all(int(v) < 400 for v, _ in before)
    _run(spark, ["ann-add", "--index", inc, "--embeddings", delta_p])
    after = _query(spark, inc, vec)
    assert after == _query(spark, full, vec)
    assert after[0][0] == "450"


def test_ann_delete_and_compact_are_seen(spark, emb, sf_dir, tmp_path):
    """An ann-delete tombstone hides the ids from the next query on an
    open handle, and an ann-compact pointer flip moves the handle onto
    the compacted generation with the ranking unchanged."""
    idx = str(tmp_path / "ivf")
    _run(spark, ["ann-build", "--embeddings", f"{sf_dir}/embeddings.parquet",
                 "--out", idx, "--cells", "8"])
    vec = _vec(emb.filter("vec_id = 0").first())
    base = _query(spark, idx, vec, k=6)
    victims = [base[1][0], base[3][0]]
    _run(spark, ["ann-delete", "--index", idx, "--ids", ",".join(victims)])
    after = _query(spark, idx, vec, k=4)
    assert after == [r for r in base if r[0] not in victims]
    h = sim.open_ann_index(spark, idx)

    _run(spark, ["ann-compact", "--index", idx])
    assert _query(spark, idx, vec, k=4) == after
    h2 = sim.open_ann_index(spark, idx)
    assert h2 is not h
    assert h2.live.inputFiles()
    assert all("/vectors_v1/" in f for f in h2.live.inputFiles())


def test_lru_evicts_least_recently_used(spark, emb, tmp_path, monkeypatch):
    """The ANN LRU shares the text handles' bound and drops the least
    recently used index first."""
    monkeypatch.setattr(S, "TEXT_INDEX_LRU_MAX", 2)
    paths = [str(tmp_path / n) for n in "abc"]
    for p in paths:
        sim.build_ivf_index(emb.filter("vec_id < 300"), p, n_cells=4)
    a = sim.open_ann_index(spark, paths[0])
    sim.open_ann_index(spark, paths[1])
    assert sim.open_ann_index(spark, paths[0]) is a  # a is now most recent
    sim.open_ann_index(spark, paths[2])
    assert list(sim._ANN_INDEXES) == [paths[0], paths[2]]


def test_release_caches_closes_handles(spark, emb, tmp_path):
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(emb.filter("vec_id < 300"), idx, n_cells=4)
    h = sim.open_ann_index(spark, idx)
    session.release_caches()
    assert not sim._ANN_INDEXES
    assert sim.open_ann_index(spark, idx) is not h


def test_literal_vector_equals_source_vector(spark, emb, sf_dir, tmp_path):
    """A literal ``--vec`` (a SQL literal in the plan) gives the rows
    the same vector gives as a one-row source table, with and without
    an ``allowed`` filter; a zero-norm ``--vec`` gives no rows, and a
    literal of the wrong length is refused."""
    idx = str(tmp_path / "ivf")
    _run(spark, ["ann-build", "--embeddings", f"{sf_dir}/embeddings.parquet",
                 "--out", idx, "--cells", "8"])
    allowed_p = str(tmp_path / "allowed")
    emb.filter("vec_id % 2 = 0").select("vec_id").write.parquet(allowed_p)
    allowed = spark.read.parquet(allowed_p)
    for vid in (0, 7, 33):
        values = [float(x) for x in emb.filter(f"vec_id = {vid}").first()[
            "embedding"]]
        # perturbed off the stored vector: a fresh query, not a copy
        values = [x + 0.01 * (i % 3 - 1) for i, x in enumerate(values)]
        src = spark.createDataFrame(
            [(-1, values)], "vec_id long, embedding array<float>"
        )
        for filt in (None, allowed):
            got = sim.ivf_topk_indexed(
                spark, idx, -1, n_probe=3, k=6, allowed=filt, vec=values
            ).collect()
            want = sim.ivf_topk_indexed(
                spark, idx, -1, n_probe=3, k=6, allowed=filt, source=src
            ).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want]
            assert len(got) == 6
        cli = _query(spark, idx, ",".join(map(repr, values)), 6,
                     ["--allowed", allowed_p])
        assert cli == [(str(v), str(c)) for v, c in want]
        assert all(int(v) % 2 == 0 for v, _ in cli)
    dim = len(values)
    assert _query(spark, idx, ",".join(["0.0"] * dim)) == []
    with pytest.raises(ValueError, match="finite float32 components"):
        sim.ivf_topk_indexed(spark, idx, -1, vec=values[:-1])

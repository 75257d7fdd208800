"""Session-scoped text-index handle (operators.search.open_text_index):
answers equal the inline scorers, a rebuilt index is never served
stale, the LRU and release_caches() bound what stays cached, and a
warm CLI query stays within its Spark job budget."""

from __future__ import annotations

import io
import uuid

import pytest

from bigdata_elephant_spark import session
from bigdata_elephant_spark.cli import main
from bigdata_elephant_spark.operators import search as S

# A warm `query --scoring bm25` runs 4 jobs: one vocab collect, the
# scoring plan (the matched postings shuffled onto the cached doc
# lengths' partitioning, then the top-k collect) and one k-row
# metadata fetch. The budget leaves room for 2 more, not for a pass
# over the whole postings table per query (18 jobs before the handle).
WARM_QUERY_MAX_JOBS = 6


def _run(spark, argv) -> str:
    buf = io.StringIO()
    assert main(argv, spark=spark, out=buf) == 0
    return buf.getvalue()


def _parse(out: str) -> list[dict]:
    lines = [ln for ln in out.splitlines() if ln]
    header = lines[0].split("\t")
    return [dict(zip(header, ln.split("\t"))) for ln in lines[1:]]


def _build(spark, corpus: str, d: str) -> tuple[str, str, str]:
    v, i, m = f"{d}/v", f"{d}/i", f"{d}/m"
    _run(spark, ["vocab", "--corpus", corpus, "--out", v])
    _run(spark, ["index", "--corpus", corpus, "--vocab", v, "--out", i])
    _run(spark, ["meta", "--corpus", corpus, "--out", m])
    return v, i, m


@pytest.fixture(scope="module")
def artifacts(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("text_index"))
    return _build(spark, f"{sf_dir}/documents.parquet", d)


@pytest.fixture(autouse=True)
def _no_open_handles():
    S.close_text_indexes()
    yield
    S.close_text_indexes()


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_rebuild_at_same_path_follows_new_build(spark, tmp_path):
    """Rebuilding vocab/index/meta at the same paths inside one
    session: the next query answers from the new build, exactly as the
    inline scorer over the new artifacts does."""
    cols = "doc_id long, url string, title string, text string"
    first = [
        (1, "u1", "t1", "good wine and good food"),
        (2, "u2", "t2", "bad wine"),
        (3, "u3", "t3", "nothing relevant here"),
    ]
    second = [
        (7, "u7", "t7", "wine wine wine"),
        (8, "u8", "t8", "good people"),
        (9, "u9", "t9", "plain water"),
        (10, "u10", "t10", "good wine at last"),
    ]
    corpus = str(tmp_path / "corpus")
    d = str(tmp_path / "art")
    q = "good wine"
    argv = ["--scoring", "bm25", "-k", "10", q]

    spark.createDataFrame(first, cols).write.parquet(corpus)
    v, i, m = _build(spark, corpus, d)
    before = _parse(_run(
        spark, ["query", "--vocab", v, "--index", i, "--meta", m, *argv]
    ))
    assert {r["doc_id"] for r in before} == {"1", "2"}

    spark.createDataFrame(second, cols).write.mode("overwrite").parquet(corpus)
    _build(spark, corpus, d)
    after = _parse(_run(
        spark, ["query", "--vocab", v, "--index", i, "--meta", m, *argv]
    ))
    want = S.bm25_search(
        spark, q, spark.read.parquet(v), spark.read.parquet(i), k=10
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in after] == [
        (str(r["doc_id"]), str(r["score"])) for r in want
    ]
    assert {r["doc_id"] for r in after} == {"7", "8", "10"}
    assert all(r["url"] == f"u{r['doc_id']}" for r in after)


def test_outside_rebuild_reaches_every_key(spark, sf_dir, tmp_path):
    """An index replaced on disk by another writer (no Spark cache
    refresh in this session) is caught by the listing check, also for
    a key opened after the swap: it must not reuse the doc lengths the
    first handle cached for the same index path."""
    import shutil

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    docs.where("doc_id % 2 = 0").write.parquet(a)
    docs.where("doc_id % 3 = 0").write.parquet(b)
    built_a = _build(spark, a, str(tmp_path / "art_a"))
    built_b = _build(spark, b, str(tmp_path / "art_b"))
    serve = [str(tmp_path / "serve" / n) for n in ("v", "i", "m")]
    for src, dst in zip(built_a, serve):
        shutil.copytree(src, dst)
    v, i, m = serve
    q = "the good person"
    assert S.open_text_index(spark, v, i).query(q).count() > 0
    for src, dst in zip(built_b, serve):
        shutil.rmtree(dst)
        shutil.copytree(src, dst)
    h = S.open_text_index(spark, v, i, m)
    want = S.bm25_search(
        spark, q, spark.read.parquet(built_b[0]),
        spark.read.parquet(built_b[1]), k=10,
    ).collect()
    got = h.query(q).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert h.n_docs == spark.read.parquet(built_b[1]).select(
        "doc_id"
    ).distinct().count()


@pytest.mark.parametrize(
    "query,k",
    [
        ("1234 aaaa !!!", 10),      # every token filtered
        ("zzzzqqqq", 10),           # no vocab match
        ("join join spark", 10),    # a repeated term
        ("hash join", 10**6),       # k above the match count
    ],
)
def test_edge_queries_match_inline(spark, artifacts, query, k):
    v, i, m = artifacts
    h = S.open_text_index(spark, v, i, m)
    got = [(r["doc_id"], r["score"]) for r in h.query(query, k=k).collect()]
    want = S.bm25_search(spark, query, h.vocab, h.postings, k=k).collect()
    assert got == [(r["doc_id"], r["score"]) for r in want]
    for scoring in ("reference", "smooth"):
        got = h.query(query, k=k, scoring=scoring).collect()
        want = S.search(
            spark, query, h.vocab, h.postings, k=k, scoring=scoring,
            n_docs=h.n_docs,
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ], scoring
    batch = {1: query, 2: "the good person"}
    got = h.query_batch(batch, k=min(k, 50)).collect()
    want = S.bm25_search_batch(
        spark, batch, h.vocab, h.postings, k=min(k, 50)
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_query_output_columns_and_meta(spark, artifacts):
    """doc_id, score, then every metadata column, each row carrying
    its own document's metadata, in rank order."""
    v, i, m = artifacts
    h = S.open_text_index(spark, v, i, m)
    out = h.query("the good person", k=5)
    meta = spark.read.parquet(m)
    assert out.columns == ["doc_id", "score"] + [
        c for c in meta.columns if c != "doc_id"
    ]
    rows = out.collect()
    assert len(rows) == 5
    own = {r["doc_id"]: r for r in meta.collect()}
    for r in rows:
        assert all(r[c] == own[r["doc_id"]][c] for c in meta.columns)


def test_lru_evicts_least_recent_and_unpersists(
    spark, sf_dir, artifacts, tmp_path, monkeypatch
):
    v, i, _ = artifacts
    corpus = f"{sf_dir}/documents.parquet"
    i2, i3 = str(tmp_path / "i2"), str(tmp_path / "i3")
    for out in (i2, i3):
        _run(spark, ["index", "--corpus", corpus, "--vocab", v,
                     "--out", out])
    monkeypatch.setattr(S, "TEXT_INDEX_LRU_MAX", 2)
    a = S.open_text_index(spark, v, i)
    b = S.open_text_index(spark, v, i2)
    assert S.open_text_index(spark, v, i) is a  # a is now most recent
    c = S.open_text_index(spark, v, i3)
    assert list(S._TEXT_INDEXES.values()) == [a, c]
    assert not _cached(b.dl)
    assert _cached(a.dl) and _cached(c.dl)


def test_handles_over_one_index_share_doc_lengths(
    spark, artifacts, monkeypatch
):
    """Spark caches the doc lengths by plan (by index path), so the
    handles with and without metadata share one cache entry: evicting
    one must not uncache the other."""
    v, i, m = artifacts
    monkeypatch.setattr(S, "TEXT_INDEX_LRU_MAX", 1)
    S.open_text_index(spark, v, i)
    b = S.open_text_index(spark, v, i, m)
    assert list(S._TEXT_INDEXES.values()) == [b]
    assert _cached(b.dl)


def test_smooth_n_is_distinct_posting_docs(spark, artifacts):
    v, i, _ = artifacts
    h = S.open_text_index(spark, v, i)
    assert h.n_docs == h.postings.select("doc_id").distinct().count()


def test_cli_queries_leave_tracked_caches_unchanged(spark, artifacts):
    v, i, m = artifacts
    before = len(session._TRACKED_CACHES)
    for scoring in ("bm25", "reference", "smooth", "bm25"):
        _run(spark, ["query", "--vocab", v, "--index", i, "--meta", m,
                     "--scoring", scoring, "-k", "3", "spark table join"])
    _run(spark, ["batch", "--vocab", v, "--index", i, "-k", "3",
                 "the good person", "hash join"])
    assert len(session._TRACKED_CACHES) == before


def test_release_caches_closes_handles(spark, artifacts):
    v, i, m = artifacts
    h = S.open_text_index(spark, v, i, m)
    assert _cached(h.dl)
    session.release_caches()
    assert not S._TEXT_INDEXES
    assert not _cached(h.dl)
    h2 = S.open_text_index(spark, v, i, m)
    assert h2 is not h and _cached(h2.dl)


def test_warm_bm25_query_job_budget(spark, artifacts):
    """A warm CLI BM25 query runs at most WARM_QUERY_MAX_JOBS Spark
    jobs, counted under this test's own job group: a per-query pass
    over the whole postings table (doc lengths, N) or per-query
    artifact schema inference would push it over."""
    v, i, m = artifacts
    argv = ["query", "--vocab", v, "--index", i, "--meta", m,
            "--scoring", "bm25", "-k", "10"]
    _run(spark, [*argv, "the good person"])  # opens the handle
    sc = spark.sparkContext
    group = f"text-index-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm bm25 query")
    try:
        rows = _parse(_run(spark, [*argv, "spark table join"]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert rows
    assert 0 < len(jobs) <= WARM_QUERY_MAX_JOBS, len(jobs)

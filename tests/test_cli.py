"""CLI: the reference's staged job workflow (build artifacts, query
them) must produce the same ranking as the inline pipeline."""

from __future__ import annotations

import io

import pytest

from bigdata_elephant_spark.cli import main

# Measured: a warm `ann-query --vec` runs 1 Spark job (6 before the
# session-scoped ANN handle: two artifact opens, a probe job and a
# literal query frame) and `ann-batch` 4 (7 before the handle, 14
# before the shared IVF query core) for any batch size — the probe
# runs on the driver over one query collect, and the candidates are
# one pruned scan for the whole batch.
WARM_ANN_QUERY_MAX_JOBS = 2
ANN_BATCH_MAX_JOBS = 8
# Measured on the quantized layouts, which share the handle and the
# IVF query core: a warm IVF,SQ8 `ann-query` runs 2 jobs with `--vec`
# and 5 with `--vec-id`, an IVF-PQ `--vec-id` 9.
WARM_QUANTIZED_QUERY_MAX_JOBS = {
    ("sq8", "--vec"): 2,
    ("sq8", "--vec-id"): 5,
    ("pq", "--vec-id"): 9,
}
# ann-build flags per index layout
LAYOUT_FLAGS = {"ivf": [], "sq8": ["--sq8"], "pq": ["--pq"]}
# Measured on the tier-1 fixture (8 cells), per layout: the Spark jobs
# of a warm `ann-build` (8 on plain IVF, 12 on IVF,SQ8, which trains its
# range stats, 15 on IVF-PQ, which computes and persists its residuals)
# and of an `ann-add` of 50 vectors (6, 10 with the SQ8 range check, 12
# with the PQ residuals and codebook read). An IVF-PQ build used to
# count 8 here only because the warm-up build's residual cache leaked
# into the measured one, whose identical plan read it back.
ANN_WRITE_JOBS = {"ivf": (8, 6), "sq8": (12, 10), "pq": (15, 12)}


def _run(spark, argv):
    buf = io.StringIO()
    assert main(argv, spark=spark, out=buf) == 0
    return buf.getvalue()


def _parse(out: str) -> list[dict]:
    lines = [ln for ln in out.splitlines() if ln]
    header = lines[0].split("\t")
    return [dict(zip(header, ln.split("\t"))) for ln in lines[1:]]


def test_staged_equals_inline(spark, sf_dir, tmp_path):
    corpus = f"{sf_dir}/documents.parquet"
    v, i, m = str(tmp_path / "v"), str(tmp_path / "i"), str(tmp_path / "m")
    _run(spark, ["vocab", "--corpus", corpus, "--out", v])
    _run(spark, ["index", "--corpus", corpus, "--vocab", v, "--out", i])
    _run(spark, ["meta", "--corpus", corpus, "--out", m])

    q = "the good person"
    staged = _parse(_run(spark, [
        "query", "--vocab", v, "--index", i, "--meta", m, "-k", "5", q,
    ]))
    inline = _parse(_run(spark, [
        "search", "--corpus", corpus, "-k", "5", q,
    ]))
    assert len(staged) == 5
    assert [r["doc_id"] for r in staged] == [r["doc_id"] for r in inline]
    assert [r["score"] for r in staged] == [r["score"] for r in inline]
    # metadata joined in on both paths
    assert all("lang" in r and r["lang"] for r in staged)


def test_query_all_scoring_modes(spark, sf_dir, tmp_path):
    corpus = f"{sf_dir}/documents.parquet"
    v, i = str(tmp_path / "v"), str(tmp_path / "i")
    _run(spark, ["vocab", "--corpus", corpus, "--out", v])
    _run(spark, ["index", "--corpus", corpus, "--vocab", v, "--out", i])
    for mode in ("reference", "smooth", "bm25"):
        rows = _parse(_run(spark, [
            "query", "--vocab", v, "--index", i, "-k", "3",
            "--scoring", mode, "spark table join",
        ]))
        assert len(rows) == 3, mode
        assert all(r["doc_id"] for r in rows)


def test_cli_phrase_search(spark, sf_dir):
    """The phrase subcommand matches the operator result, slop knob
    included."""
    from bigdata_elephant_spark.operators.index import (
        build_positional_index,
        phrase_search,
    )
    from bigdata_elephant_spark.operators.vocab import build_vocabulary
    from bigdata_elephant_spark.sources.corpus import read_table

    corpus = f"{sf_dir}/documents.parquet"
    out = _parse(_run(spark, [
        "phrase", "--corpus", corpus, "-k", "5", "hash join",
    ]))
    docs = read_table(spark, sf_dir, "documents")
    vocab = build_vocabulary(docs)
    pos = build_positional_index(docs, vocab)
    expect = phrase_search("hash join", vocab, pos, k=5).collect()
    assert [r["doc_id"] for r in out] == [
        str(r["doc_id"]) for r in expect
    ]
    sloppy = _parse(_run(spark, [
        "phrase", "--corpus", corpus, "-k", "5", "--slop", "2",
        "hash join",
    ]))
    assert len(sloppy) == 5


def test_cli_curate_writes_selection(spark, sf_dir, tmp_path):
    from bigdata_elephant_spark.cli import main

    out = str(tmp_path / "curated")
    rc = main(
        [
            "curate",
            "--corpus", f"{sf_dir}/documents.parquet",
            "--frac", "0.4",
            "--out", out,
        ],
        spark=spark,
    )
    assert rc == 0
    sel = spark.read.parquet(out)
    assert set(sel.columns) == {"doc_id", "source", "rate"}
    assert sel.count() > 0


def test_cli_batch_matches_single_query(spark, sf_dir, tmp_path):
    """`batch` over saved artifacts agrees per query with `query
    --scoring bm25`, with 1-based query ids from argument order."""
    corpus = f"{sf_dir}/documents.parquet"
    v, i = str(tmp_path / "v"), str(tmp_path / "i")
    _run(spark, ["vocab", "--corpus", corpus, "--out", v])
    _run(spark, ["index", "--corpus", corpus, "--vocab", v, "--out", i])
    q1, q2 = "the good person", "spark table join"
    rows = _parse(_run(spark, [
        "batch", "--vocab", v, "--index", i, "-k", "3", q1, q2,
    ]))
    assert {r["query_id"] for r in rows} == {"1", "2"}
    for qid, q in (("1", q1), ("2", q2)):
        single = _parse(_run(spark, [
            "query", "--vocab", v, "--index", i, "-k", "3",
            "--scoring", "bm25", q,
        ]))
        got = [(r["doc_id"], r["score"]) for r in rows
               if r["query_id"] == qid]
        want = [(r["doc_id"], r["score"]) for r in single]
        assert got == want, qid


def test_cli_ann_build_then_query(spark, sf_dir, tmp_path):
    """ann-build writes the cell-partitioned IVF layout; ann-query
    over it matches the inline IVF scorer row-for-row."""
    from bigdata_elephant_spark.operators.similarity import ivf_topk

    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8"])
    rows = _parse(_run(spark, [
        "ann-query", "--index", idx, "--vec-id", "0",
        "-k", "5", "--probe", "3",
    ]))
    assert len(rows) == 5
    inline = ivf_topk(
        spark.read.parquet(emb_path), 0, n_cells=8, n_probe=3, k=5
    ).collect()
    assert [r["vec_id"] for r in rows] == [
        str(r["vec_id"]) for r in inline
    ]


def test_cli_ann_query_literal_vector(spark, sf_dir, tmp_path):
    """ann-query --vec scores a literal query vector: supplying a
    stored vector's own values must rank that vector first (cosine 1
    with itself), matching the --vec-id path's top hit."""
    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8"])
    row0 = (
        spark.read.parquet(emb_path)
        .filter("vec_id = 0").select("embedding").first()
    )
    vec_str = ",".join(repr(float(x)) for x in row0["embedding"])
    rows = _parse(_run(spark, [
        # --vec=... form: a leading negative float would otherwise
        # be parsed as an option flag
        "ann-query", "--index", idx, f"--vec={vec_str}",
        "-k", "3", "--probe", "3",
    ]))
    assert rows and rows[0]["vec_id"] == "0"


def test_cli_ann_pq_build_then_query(spark, sf_dir, tmp_path):
    """--pq: ann-build writes the IVFPQ layout (codebooks + codes);
    ann-query --pq matches the inline IVF-PQ scorer row-for-row."""
    from bigdata_elephant_spark.operators.similarity import ivfpq_topk

    idx = str(tmp_path / "ivfpq")
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--pq", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8", "--codes", "8"])
    rows = _parse(_run(spark, [
        "ann-query", "--pq", "--index", idx,
        "--embeddings", emb_path, "--vec-id", "0",
        "-k", "5", "--probe", "3", "--shortlist", "30",
    ]))
    inline = ivfpq_topk(
        spark.read.parquet(emb_path), 0, n_cells=8, n_probe=3,
        n_sub=4, sub_dim=16, n_codes=8, shortlist=30, k=5,
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in rows] == [
        (str(r["vec_id"]), str(r["cos_sim"])) for r in inline
    ]


def test_cli_ann_vec_dim_validation(
    spark, sf_dir, tmp_path, capsys, count_jobs
):
    """ann-build writes a manifest.json; ann-query --vec validates
    the literal vector's dimension against it with a plain file read
    (no Spark job per query), falls back to one centroids footer
    read on pre-manifest index dirs, and skips validation entirely
    on an unreadable index path so the query's own error surfaces
    instead of a confusing failure inside validation. Non-finite
    (also beyond float32 range) or empty --vec components, a
    non-integer --vec-ids entry, and an out-of-range -k (below 0,
    for query, batch, ann-query and ann-batch), --probe or
    --shortlist (below 1) are usage errors (exit 2) raised before
    any Spark job."""
    import io
    import json
    import os

    import pytest
    from pyspark.errors import AnalysisException

    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "4"])
    with open(os.path.join(idx, "manifest.json")) as f:
        man = json.load(f)
    assert man["kind"] == "ivf"
    assert man["n_cells"] == 4
    assert man["dim"] > 2

    bad = ["ann-query", "--index", idx, "--vec=0.5,0.5", "-k", "1"]
    # manifest path: mismatch is an argparse error (SystemExit)
    with pytest.raises(SystemExit):
        main(bad, spark=spark, out=io.StringIO())

    tail = ",0.1" * (man["dim"] - 1)
    for argv, message in [
        (["ann-query", "--index", idx, f"--vec=nan{tail}"], "finite"),
        (["ann-query", "--index", idx, f"--vec=inf{tail}"], "finite"),
        (["ann-query", "--index", idx, f"--vec=-inf{tail}"], "finite"),
        (["ann-query", "--index", idx, f"--vec=1e39{tail}"], "float32"),
        (["ann-query", "--index", idx, f"--vec=1,,2{tail}"], "number"),
        (["ann-batch", "--index", idx, "--vec-ids", "1,x"], "'x'"),
        (["ann-query", "--index", idx, "--vec-id", "0", "--probe", "-1"],
         "argument --probe: must be >= 1, got -1"),
        (["ann-query", "--index", idx, "--vec-id", "0", "--probe", "0"],
         "argument --probe: must be >= 1, got 0"),
        (["ann-query", "--index", idx, "--vec-id", "0", "-k", "-1"],
         "argument -k: must be >= 0, got -1"),
        (["ann-query", "--index", idx, "--vec-id", "0", "--pq",
          "--shortlist", "0"], "argument --shortlist: must be >= 1"),
        (["ann-batch", "--index", idx, "--vec-ids", "1,2", "-k", "-1"],
         "argument -k: must be >= 0"),
        (["ann-batch", "--index", idx, "--vec-ids", "1,2", "--probe",
          "0"], "argument --probe: must be >= 1"),
        (["query", "--vocab", idx, "--index", idx, "-k", "-1", "a"],
         "argument -k: must be >= 0"),
        (["batch", "--vocab", idx, "--index", idx, "-k", "-1", "a", "b"],
         "argument -k: must be >= 0"),
    ]:
        def usage_error():
            with pytest.raises(SystemExit) as exc:
                main(argv, spark=spark, out=io.StringIO())
            assert exc.value.code == 2, argv

        assert count_jobs(usage_error) == 0, argv
        assert message in capsys.readouterr().err, argv

    # pre-manifest dir: the footer fallback still catches it
    os.remove(os.path.join(idx, "manifest.json"))
    with pytest.raises(SystemExit):
        main(bad, spark=spark, out=io.StringIO())

    # missing index path: validation skips; the query itself raises
    with pytest.raises(AnalysisException):
        main(["ann-query", "--index", str(tmp_path / "nope"),
              "--vec=0.5,0.5", "-k", "1"],
             spark=spark, out=io.StringIO())


def test_cli_ann_add_then_query_matches_full_build(spark, sf_dir, tmp_path):
    """ann-build on a base slice + ann-add of the delta must answer
    queries exactly like ann-build over everything (append-only id
    growth keeps the seed geometry identical)."""
    emb_path = f"{sf_dir}/embeddings.parquet"
    base_p = str(tmp_path / "base.parquet")
    delta_p = str(tmp_path / "delta.parquet")
    emb = spark.read.parquet(emb_path)
    emb.filter("vec_id < 400").write.parquet(base_p)
    emb.filter("vec_id >= 400").write.parquet(delta_p)

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    _run(spark, ["ann-build", "--embeddings", base_p,
                 "--out", inc, "--cells", "8"])
    _run(spark, ["ann-add", "--index", inc,
                 "--embeddings", delta_p])
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", full, "--cells", "8"])
    q = ["ann-query", "--vec-id", "0", "-k", "5", "--probe", "3"]
    got = _parse(_run(spark, q + ["--index", inc]))
    want = _parse(_run(spark, q + ["--index", full]))
    assert got == want and len(got) == 5


def test_cli_ann_add_rejects_bad_dim_and_wrong_kind(spark, sf_dir, tmp_path):
    """ann-add must refuse delta vectors whose dimension doesn't
    match the index — a silent null-padded zip_with would sink them
    into one cell with null scores forever — and the update
    operators must refuse the other kind's layout (appending raw
    vectors to an IVFPQ dir would write a dir pq queries never
    read; the CLI dispatches by manifest so users can't hit this)."""
    import pytest

    from bigdata_elephant_spark.operators.similarity import (
        update_ivf_index,
        update_ivfpq_index,
    )

    emb_path = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "4"])
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame(
        [(900000, [0.1, 0.2, 0.3])],
        "vec_id long, embedding array<float>",
    ).write.parquet(bad)
    with pytest.raises(Exception, match="components but the index"):
        main(["ann-add", "--index", idx, "--embeddings", bad],
             spark=spark, out=io.StringIO())

    pq_idx = str(tmp_path / "ivfpq")
    _run(spark, ["ann-build", "--pq", "--embeddings", emb_path,
                 "--out", pq_idx, "--cells", "4", "--codes", "8"])
    emb = spark.read.parquet(emb_path)
    with pytest.raises(ValueError, match="kind='ivfpq'"):
        update_ivf_index(spark, pq_idx, emb)
    with pytest.raises(ValueError, match="kind='ivf'"):
        update_ivfpq_index(spark, idx, emb)
    with pytest.raises(Exception, match="components but the index"):
        main(["ann-add", "--index", pq_idx, "--embeddings", bad],
             spark=spark, out=io.StringIO())


def test_cli_ann_compact_pq_layout(spark, sf_dir, tmp_path):
    """ann-compact must dispatch to the IVF-PQ ``codes/`` table from
    the manifest, merge each fragmented cell back to one file, and
    leave query answers bit-identical."""
    import glob
    import os

    emb_path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)
    base_p = str(tmp_path / "base.parquet")
    d1_p = str(tmp_path / "d1.parquet")
    d2_p = str(tmp_path / "d2.parquet")
    emb.filter("vec_id < 300").write.parquet(base_p)
    emb.filter("vec_id >= 300 and vec_id < 400").write.parquet(d1_p)
    emb.filter("vec_id >= 400").write.parquet(d2_p)

    idx = str(tmp_path / "pq")
    _run(spark, ["ann-build", "--pq", "--embeddings", base_p,
                 "--out", idx, "--cells", "8", "--codes", "8"])
    _run(spark, ["ann-add", "--index", idx, "--embeddings", d1_p])
    _run(spark, ["ann-add", "--index", idx, "--embeddings", d2_p])

    from bigdata_elephant_spark.operators.similarity import (
        _table_path,
    )

    def files_per_cell():
        cur = _table_path(idx, "codes")
        return [
            len([f for f in os.listdir(d) if f.endswith(".parquet")])
            for d in glob.glob(f"{cur}/cell_id=*")
        ]

    q = ["ann-query", "--pq", "--index", idx, "--embeddings",
         emb_path, "--vec-id", "0", "-k", "5", "--probe", "3",
         "--shortlist", "30"]
    before = _parse(_run(spark, q))
    assert max(files_per_cell()) > 1
    _run(spark, ["ann-compact", "--index", idx])
    assert set(files_per_cell()) == {1}
    assert _parse(_run(spark, q)) == before


def test_cli_ann_add_pq_matches_full_build(spark, sf_dir, tmp_path):
    """ann-add on an IVF-PQ index (manifest-dispatched) must encode
    the delta against the frozen quantizers so queries match a full
    rebuild (append-only ids keep both seed sets in the base)."""
    emb_path = f"{sf_dir}/embeddings.parquet"
    base_p = str(tmp_path / "base.parquet")
    delta_p = str(tmp_path / "delta.parquet")
    emb = spark.read.parquet(emb_path)
    emb.filter("vec_id < 400").write.parquet(base_p)
    emb.filter("vec_id >= 400").write.parquet(delta_p)

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    _run(spark, ["ann-build", "--pq", "--embeddings", base_p,
                 "--out", inc, "--cells", "8", "--codes", "8"])
    _run(spark, ["ann-add", "--index", inc, "--embeddings", delta_p])
    _run(spark, ["ann-build", "--pq", "--embeddings", emb_path,
                 "--out", full, "--cells", "8", "--codes", "8"])
    q = ["ann-query", "--pq", "--embeddings", emb_path,
         "--vec-id", "0", "-k", "5", "--probe", "3",
         "--shortlist", "30"]
    got = _parse(_run(spark, q + ["--index", inc]))
    want = _parse(_run(spark, q + ["--index", full]))
    assert got == want and len(got) == 5


def test_cli_ann_delete_then_compact(spark, sf_dir, tmp_path):
    """ann-delete hides the ids from ann-query immediately
    (tombstone-cost), and a following ann-compact applies the delete
    physically with the ranking unchanged."""
    from bigdata_elephant_spark.operators.similarity import (
        _table_path,
    )

    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8"])
    q = ["ann-query", "--index", idx, "--vec-id", "0",
         "-k", "5", "--probe", "3"]
    base = _parse(_run(spark, q))
    victims = [base[0]["vec_id"], base[2]["vec_id"]]
    _run(spark, ["ann-delete", "--index", idx,
                 "--ids", ",".join(victims)])
    after = _parse(_run(spark, q))
    assert len(after) == 5
    assert not set(victims) & {r["vec_id"] for r in after}
    survivors = [r["vec_id"] for r in base
                 if r["vec_id"] not in victims]
    assert [r["vec_id"] for r in after][:3] == survivors
    _run(spark, ["ann-compact", "--index", idx])
    n_emb = spark.read.parquet(emb_path).count()
    assert (
        spark.read.parquet(_table_path(idx, "vectors")).count()
        == n_emb - 2
    )
    assert _parse(_run(spark, q)) == after


def test_cli_ann_query_allowed_filter(spark, sf_dir, tmp_path):
    """ann-query --allowed restricts candidates to the id set
    (filtered search); matches the inline ivf_topk operator with
    the same allowed set."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators.similarity import ivf_topk

    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)
    allowed_p = str(tmp_path / "allowed")
    emb.filter(F.col("vec_id") % 2 == 0).select("vec_id").write.parquet(
        allowed_p
    )
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8"])
    rows = _parse(_run(spark, [
        "ann-query", "--index", idx, "--vec-id", "0",
        "-k", "5", "--probe", "3", "--allowed", allowed_p,
    ]))
    assert len(rows) == 5
    assert all(int(r["vec_id"]) % 2 == 0 for r in rows)
    want = ivf_topk(
        emb, 0, n_cells=8, n_probe=3, k=5,
        allowed=emb.filter(F.col("vec_id") % 2 == 0).select("vec_id"),
    ).collect()
    assert [r["vec_id"] for r in rows] == [
        str(r["vec_id"]) for r in want
    ]


def test_cli_ann_stats(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8"])
    _run(spark, ["ann-delete", "--index", idx, "--ids", "1,2"])
    got = {r["stat"]: r["value"] for r in _parse(
        _run(spark, ["ann-stats", "--index", idx])
    )}
    assert got["kind"] == "ivf"
    assert got["n_cells"] == "8"
    assert got["generation"] == "vectors"
    assert int(got["rows"]) == emb.count()  # tombstones are logical
    assert got["tombstones_pending"] == "2"
    assert int(got["populated_cells"]) <= 8
    assert int(got["max_files_per_cell"]) >= 1
    _run(spark, ["ann-compact", "--index", idx])
    got = {r["stat"]: r["value"] for r in _parse(
        _run(spark, ["ann-stats", "--index", idx])
    )}
    assert got["generation"] == "vectors_v1"
    assert int(got["rows"]) == emb.count() - 2  # applied
    assert got["tombstones_pending"] == "0"
    assert int(got["max_files_per_cell"]) == 1


@pytest.mark.parametrize("layout", sorted(LAYOUT_FLAGS))
def test_cli_ann_batch_matches_single_queries(spark, sf_dir, tmp_path, layout):
    """`ann-batch` answers on every index layout, each query exactly
    as `ann-query` does, in the layout's own score column; the
    quantized layouts store codes only, so without --embeddings the
    batch is a usage error (exit 2)."""
    idx = str(tmp_path / layout)
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8", *LAYOUT_FLAGS[layout]])
    src = [] if layout == "ivf" else ["--embeddings", emb_path]
    batch = ["ann-batch", "--index", idx, "--vec-ids", "0,7",
             "-k", "3", "--probe", "3"]
    rows = _parse(_run(spark, batch + src))
    assert {r["q_id"] for r in rows} == {"0", "7"}
    for q in ("0", "7"):
        single = _parse(_run(spark, [
            "ann-query", "--index", idx, "--vec-id", q,
            "-k", "3", "--probe", "3", *src,
        ]))
        got = [
            {c: v for c, v in r.items() if c != "q_id"}
            for r in rows if r["q_id"] == q
        ]
        assert got == single and len(got) == 3
    if src:
        with pytest.raises(SystemExit) as exc:
            main(batch, spark=spark, out=io.StringIO())
        assert exc.value.code == 2


@pytest.mark.parametrize("layout", sorted(LAYOUT_FLAGS))
def test_cli_ann_job_budget(spark, sf_dir, tmp_path, layout, count_jobs):
    """A warm `ann-query` runs at most WARM_ANN_QUERY_MAX_JOBS Spark
    jobs with `--vec` on a plain IVF index, and at most the
    WARM_QUANTIZED_QUERY_MAX_JOBS pins on the quantized layouts;
    `ann-batch` runs the same number of jobs for 2 ids as for 20 on
    every layout, and at most ANN_BATCH_MAX_JOBS on plain IVF —
    per-query probe jobs or a per-query scan would grow the count
    with the batch."""
    idx = str(tmp_path / layout)
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8", *LAYOUT_FLAGS[layout]])
    row = spark.read.parquet(emb_path).filter("vec_id = 5").first()
    vec = ",".join(repr(float(x)) for x in row["embedding"])
    src = [] if layout == "ivf" else ["--embeddings", emb_path]
    bounds = {
        form: n
        for (lay, form), n in WARM_QUANTIZED_QUERY_MAX_JOBS.items()
        if lay == layout
    } or {"--vec": WARM_ANN_QUERY_MAX_JOBS}
    for form, bound in bounds.items():
        query = ["ann-query", "--index", idx, "-k", "5", *src,
                 f"--vec={vec}" if form == "--vec" else "--vec-id=5"]
        _run(spark, query)  # warm-up
        jobs = count_jobs(lambda: _run(spark, query))
        assert 0 < jobs <= bound, (form, jobs)

    def batch(n):
        ids = ",".join(str(i) for i in range(n))
        return count_jobs(lambda: _run(spark, [
            "ann-batch", "--index", idx, "--vec-ids", ids, "-k", "5",
            *src,
        ]))

    batch(2)  # warm-up
    two, twenty = batch(2), batch(20)
    assert two == twenty, (two, twenty)
    if layout == "ivf":
        assert 0 < twenty <= ANN_BATCH_MAX_JOBS, twenty


@pytest.mark.parametrize("layout", sorted(LAYOUT_FLAGS))
def test_cli_ann_write_job_budget(
    spark, sf_dir, tmp_path, layout, count_jobs
):
    """`ann-build` and one `ann-add` run at most their ANN_WRITE_JOBS
    pins: a build or append path that re-read its input or added a
    pass per layout would push the count over."""
    from pyspark.sql import functions as F

    emb_path = f"{sf_dir}/embeddings.parquet"
    delta = str(tmp_path / "delta.parquet")
    spark.read.parquet(emb_path).filter("vec_id % 10 = 0").withColumn(
        "vec_id", F.col("vec_id") + 1000000
    ).write.parquet(delta)
    idx = str(tmp_path / layout)
    argv = ["ann-build", "--embeddings", emb_path, "--out", idx,
            "--cells", "8", *LAYOUT_FLAGS[layout]]
    _run(spark, argv)  # warm-up
    build = count_jobs(lambda: _run(spark, argv))
    add = count_jobs(lambda: _run(spark, [
        "ann-add", "--index", idx, "--embeddings", delta,
    ]))
    pin_build, pin_add = ANN_WRITE_JOBS[layout]
    assert 0 < build <= pin_build, build
    assert 0 < add <= pin_add, add


def test_cli_ann_pq_writes_release_their_caches(spark, sf_dir, tmp_path):
    """An IVF-PQ `ann-build` and an `ann-add` leave no persisted frame
    behind: the session's tracked caches and the JVM's persisted RDDs
    are the same before and after each write."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark import session

    def state():
        jsc = spark.sparkContext._jsc.sc()
        return len(session._TRACKED_CACHES), jsc.getPersistentRDDs().size()

    emb_path = f"{sf_dir}/embeddings.parquet"
    delta = str(tmp_path / "delta.parquet")
    spark.read.parquet(emb_path).filter("vec_id % 10 = 0").withColumn(
        "vec_id", F.col("vec_id") + 1000000
    ).write.parquet(delta)
    idx = str(tmp_path / "pq")
    before = state()
    _run(spark, ["ann-build", "--embeddings", emb_path, "--out", idx,
                 "--cells", "8", "--pq"])
    assert state() == before
    _run(spark, ["ann-add", "--index", idx, "--embeddings", delta])
    assert state() == before


def test_scoped_caches_releases_only_its_own_frames(spark):
    """A frame another thread persists while a `scoped_caches` block
    is open stays tracked and cached when the block exits; the block's
    own frame is released."""
    import threading

    from bigdata_elephant_spark import session

    with session.scoped_caches():
        mine = session.persist_tracked(spark.range(3))
        other = []
        t = threading.Thread(
            target=lambda: other.append(session.persist_tracked(spark.range(4)))
        )
        t.start()
        t.join()
    try:
        assert not any(d is mine for d in session._TRACKED_CACHES)
        assert not mine.is_cached
        assert any(d is other[0] for d in session._TRACKED_CACHES)
        assert other[0].is_cached
    finally:
        session.release_caches()


def test_cli_bpe_train_and_encode(spark, sf_dir, tmp_path):
    """bpe-train prints the rule table (and persists the artifact);
    bpe-encode re-applies the saved rules and its encodings agree
    with the trained vocabulary."""
    corpus = f"{sf_dir}/documents.parquet"
    art = str(tmp_path / "bpe")
    rules = _parse(_run(spark, [
        "bpe-train", "--corpus", corpus, "--merges", "4",
        "--out", art,
    ]))
    assert [r["merge_rank"] for r in rules] == ["1", "2", "3", "4"]
    assert all(r["merged"] == r["lhs"] + r["rhs"] for r in rules)
    # counts are non-increasing only within a symbol generation, but
    # every count is positive and the table round-trips via parquet
    assert all(int(r["pair_count"]) > 0 for r in rules)
    saved = spark.read.parquet(f"{art}/merges").orderBy("merge_rank")
    assert [(r["lhs"], r["rhs"]) for r in saved.collect()] == [
        (r["lhs"], r["rhs"]) for r in rules
    ]

    enc = _parse(_run(spark, [
        "bpe-encode", "--corpus", corpus, "--rules", art,
        "--limit", "3",
    ]))
    assert len({r["doc_id"] for r in enc}) <= 3
    vocab = {
        r["word"]: r["syms"]
        for r in spark.read.parquet(f"{art}/vocab").collect()
    }
    for r in enc:
        assert r["subwords"].split(" ") == vocab[r["word"]]
        assert "".join(r["subwords"].split(" ")) == r["word"]


def test_cli_ann_build_sq8_and_query(spark, sf_dir, tmp_path):
    """ann-build --sq8 writes the codes layout; ann-query
    auto-dispatches on the manifest kind (stored-id query needs
    --embeddings for the exact query vector; --vec works without);
    ann-add accepts an in-range delta (frozen-stats re-encode) and
    refuses an out-of-range one (a clamped code would mis-encode);
    ann-stats reads the codes table."""
    import pytest

    idx = str(tmp_path / "sq8idx")
    emb_path = f"{sf_dir}/embeddings.parquet"
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", idx, "--cells", "8", "--sq8"])

    rows = _parse(_run(spark, [
        "ann-query", "--index", idx, "--vec-id", "0",
        "--embeddings", emb_path, "-k", "5", "--probe", "3",
    ]))
    from bigdata_elephant_spark.operators import similarity as sim

    emb = spark.read.parquet(emb_path)
    want = sim.ivf_sq8_topk(
        emb, 0, n_cells=8, n_probe=3, k=5
    ).collect()
    assert [r["vec_id"] for r in rows] == [
        str(r["vec_id"]) for r in want
    ]

    # literal-vector query: no --embeddings needed
    qv = emb.filter("vec_id = 0").collect()[0]["embedding"]
    lit = _parse(_run(spark, [
        "ann-query", "--index", idx,
        "--vec=" + ",".join(str(x) for x in qv),
        "-k", "5", "--probe", "3",
    ]))
    assert len(lit) == 5

    # stored-id without --embeddings: clear argparse error
    with pytest.raises(SystemExit):
        _run(spark, ["ann-query", "--index", idx, "--vec-id", "0"])

    # in-range append accepted: a fresh id carrying an existing
    # vector's components lies inside the trained range by
    # construction, so the frozen-stats re-encode is lossless
    from pyspark.sql import functions as F

    new_id = emb.agg(F.max("vec_id")).first()[0] + 1
    delta_in = emb.filter("vec_id = 0").select(
        F.lit(new_id).cast("long").alias("vec_id"), "embedding"
    )
    din = str(tmp_path / "delta_in")
    delta_in.write.parquet(din)
    _run(spark, ["ann-add", "--index", idx, "--embeddings", din])

    # out-of-range append refused with the rebuild hint
    delta_out = emb.filter("vec_id = 1").select(
        F.lit(new_id + 1).cast("long").alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(50.0)).cast("float")
        ).alias("embedding"),
    )
    dout = str(tmp_path / "delta_out")
    delta_out.write.parquet(dout)
    with pytest.raises(ValueError, match="outside the SQ8 range"):
        _run(spark, ["ann-add", "--index", idx,
                     "--embeddings", dout])

    stats = _parse(_run(spark, ["ann-stats", "--index", idx]))
    got = {r["stat"]: r["value"] for r in stats}
    assert got["kind"] == "ivfsq8"
    # the in-range append landed; the refused one did not
    assert int(got["rows"]) == emb.count() + 1


def test_cli_ann_query_kind_first_dispatch(spark, sf_dir, tmp_path):
    """The review's two dispatch traps, pinned: (a) a manifest-less
    SQ8 index is still recognized by layout (sq8_stats/ dir), never
    routed into the IVF reader that would print empty rows from a
    populated index; (b) an ivfpq index queried WITHOUT --pq
    dispatches by kind (a missing --embeddings is a clean argparse
    error, not silent empty output), and --pq on a non-pq index is
    a clean error too."""
    import os

    import pytest

    from bigdata_elephant_spark.operators.similarity import index_kind

    emb_path = f"{sf_dir}/embeddings.parquet"
    sq8 = str(tmp_path / "sq8")
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", sq8, "--cells", "8", "--sq8"])
    os.remove(f"{sq8}/manifest.json")
    assert index_kind(sq8) == "ivfsq8"
    rows = _parse(_run(spark, [
        "ann-query", "--index", sq8, "--vec-id", "0",
        "--embeddings", emb_path, "-k", "3", "--probe", "8",
    ]))
    assert len(rows) == 3  # populated index must answer

    pq = str(tmp_path / "pq")
    _run(spark, ["ann-build", "--embeddings", emb_path,
                 "--out", pq, "--cells", "8", "--pq"])
    with pytest.raises(SystemExit):  # kind-dispatched: --embeddings
        _run(spark, ["ann-query", "--index", pq, "--vec-id", "0"])
    no_flag = _parse(_run(spark, [
        "ann-query", "--index", pq, "--vec-id", "0",
        "--embeddings", emb_path, "-k", "3",
    ]))
    with_flag = _parse(_run(spark, [
        "ann-query", "--index", pq, "--vec-id", "0",
        "--embeddings", emb_path, "-k", "3", "--pq",
    ]))
    assert no_flag == with_flag and len(no_flag) == 3
    with pytest.raises(SystemExit):  # --pq on a non-pq layout
        _run(spark, ["ann-query", "--index", sq8, "--vec-id", "0",
                     "--embeddings", emb_path, "--pq"])


def test_cli_dsir_select_and_sample(spark, sf_dir, tmp_path):
    docs_path = f"{sf_dir}/documents.parquet"
    got = _parse(_run(spark, [
        "dsir", "--corpus", docs_path, "-n", "5",
    ]))
    assert len(got) == 5
    from bigdata_elephant_spark.operators.curation import dsir_select
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    tgt = docs.filter(F.col("lang") == "en").select("doc_id")
    exp = [
        (str(r["doc_id"]), str(r["logw"]))
        for r in dsir_select(docs, tgt, n=5).collect()
    ]
    assert [(r["doc_id"], r["logw"]) for r in got] == exp

    # gumbel mode writes parquet; reruns are byte-identical
    out = str(tmp_path / "sel")
    _run(spark, ["dsir", "--corpus", docs_path, "-n", "7",
                 "--sample", "--out", out])
    first = sorted(
        (r["doc_id"], r["gkey"])
        for r in spark.read.parquet(out).collect()
    )
    _run(spark, ["dsir", "--corpus", docs_path, "-n", "7",
                 "--sample", "--out", out])
    again = sorted(
        (r["doc_id"], r["gkey"])
        for r in spark.read.parquet(out).collect()
    )
    assert first == again and len(first) == 7


def test_cli_dsir_needs_target_definition(spark, tmp_path):
    import pytest

    noLang = str(tmp_path / "nolang")
    spark.createDataFrame(
        [(1, "some text")], "doc_id long, text string"
    ).write.parquet(noLang)
    with pytest.raises(SystemExit):
        _run(spark, ["dsir", "--corpus", noLang])


def test_cli_pca_and_novelty(spark, sf_dir, tmp_path):
    """pca matches the registered operators verb-for-verb; novelty
    admits everything against an empty base and sweeps rates."""
    emb = f"{sf_dir}/embeddings.parquet"
    rows = _parse(_run(spark, ["pca", "--embeddings", emb]))
    assert len(rows) == 64 and "eigval" in rows[0]

    rows2 = _parse(_run(
        spark, ["pca", "--embeddings", emb, "--components", "2"]
    ))
    assert len(rows2) > 0 and "pc1" in rows2[0] and "pc2" in rows2[0]

    import pyspark.sql.functions as F
    base_p = str(tmp_path / "base")
    delta_p = str(tmp_path / "delta")
    full = spark.read.parquet(emb)
    full.filter(F.col("vec_id") < 50).write.parquet(base_p)
    full.filter(F.col("vec_id") >= 450).write.parquet(delta_p)

    verd = _parse(_run(spark, [
        "novelty", "--base", base_p, "--delta", delta_p,
        "--threshold", "0.9",
    ]))
    assert len(verd) == 50
    assert all(r["admit"] in ("True", "False") for r in verd)

    sweep = _parse(_run(spark, [
        "novelty", "--base", base_p, "--delta", delta_p, "--sweep",
    ]))
    assert [int(r["thr_x10"]) for r in sweep] == list(range(1, 10))

    # bootstrap ingest: empty base admits the whole batch
    empty_p = str(tmp_path / "empty")
    full.filter(F.lit(False)).write.parquet(empty_p)
    boot = _parse(_run(spark, [
        "novelty", "--base", empty_p, "--delta", delta_p,
    ]))
    assert len(boot) == 50 and all(r["admit"] == "True" for r in boot)

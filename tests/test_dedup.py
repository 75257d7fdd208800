"""Behavioral tests for dedup operators on synthetic corpora with
known duplicate structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_elephant_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm window sill every single day"
)
NEAR = BASE.replace("warm", "cold")  # one token differs
OTHER = (
    "completely different content about spark catalyst optimizer "
    "plans and shuffle partitions in distributed execution engines"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, "  " + BASE.upper() + "  "),  # dup modulo case/whitespace
        (4, NEAR),                      # near-dup of 1
        (5, OTHER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(corpus):
    groups = dedup.exact_dedup(corpus).collect()
    by_canon = {r["canonical_doc_id"]: r["n_dups"] for r in groups}
    assert by_canon[1] == 3  # docs 1, 2, 3 normalize identically
    assert by_canon[4] == 1 and by_canon[5] == 1


def test_minhash_lsh_finds_near_dup(corpus):
    sigs = dedup.minhash_signatures(corpus)
    pairs = dedup.lsh_candidate_pairs(sigs).collect()
    sim = {(r["doc_a"], r["doc_b"]): r["est_sim"] for r in pairs}
    # exact dups estimate 1.0
    assert sim[(1, 2)] == 1.0 and sim[(1, 3)] == 1.0
    # the near-dup pair must be caught by banding with high est_sim
    assert sim[(1, 4)] >= 0.5
    # unrelated doc shares no band with anything
    assert not any(5 in p for p in sim)


def test_simhash_near_dup_close(corpus):
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(corpus).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert sigs[1] == sigs[2] == sigs[3]
    assert hamming(sigs[1], sigs[4]) <= 6
    assert hamming(sigs[1], sigs[5]) > 6


def test_ngram_jaccard_exact_values(corpus):
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.1).collect()
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert jac[(1, 2)] == 1.0
    assert 0.5 < jac[(1, 4)] < 1.0
    assert (1, 5) not in jac


def test_shingles_short_doc(spark):
    df = spark.createDataFrame(
        [(1, "two words"), (2, "")], "doc_id long, text string"
    )
    assert dedup.doc_shingles(df).count() == 0
    # and minhash drops shingle-less docs instead of crashing
    assert dedup.minhash_signatures(df).count() == 0


def test_duplicate_groups_transitive(spark):
    from bigdata_elephant_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["group_id"]
        for r in duplicate_groups(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_duplicate_groups_long_chain_converges(spark):
    from bigdata_elephant_spark.operators.dedup import duplicate_groups

    # path graph 0-1-2-...-9: diameter 9, forces several rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["group_id"]
        for r in duplicate_groups(pairs).collect()
    }
    assert got == {i: 0 for i in range(10)}


def test_minhash_fast_hash_deterministic_and_same_shape(spark, sf_dir):
    from bigdata_elephant_spark.sources.corpus import read_table
    from bigdata_elephant_spark.operators.dedup import minhash_signatures

    docs = read_table(spark, sf_dir, "documents")
    a = minhash_signatures(docs, fast_hash=True).collect()
    b = minhash_signatures(docs, fast_hash=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    portable = minhash_signatures(docs).collect()
    assert len(a) == len(portable)  # same docs survive shingling


def test_ngram_jaccard_max_df_is_conservative(spark, sf_dir):
    """With a doc-frequency cap, the result is a conservative subset:
    surviving pairs report a lower-bound jaccard."""
    from bigdata_elephant_spark.sources.corpus import read_table
    from bigdata_elephant_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=0.2, max_doc_freq=50
        ).collect()
    }
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j <= full[pair]  # lower bound (exact when no dropped
        # shingle is shared by the pair)
    # a generous cap keeps everything
    uncapped_equiv = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=0.2, max_doc_freq=10**9
        ).collect()
    }
    assert uncapped_equiv == full


def test_containment_pairs_synthetic(spark):
    """A is a strict prefix of B (shingle set ⊆); C shares no
    shingles; D == A's text exactly (equal sets report once,
    lower id first)."""
    from bigdata_elephant_spark.operators.dedup import containment_pairs

    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = a + " iota kappa lambda mu nu xi omicron pi rho sigma"
    c = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, a)], ["doc_id", "text"]
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(df, min_shingles=3).collect()
    }
    assert (1, 2) in pairs          # A inside B
    assert (4, 2) in pairs          # D (=A) inside B
    assert (1, 4) in pairs          # equal sets, lower id first
    assert (4, 1) not in pairs
    assert all(3 not in p for p in pairs)


def test_boilerplate_flags_planted(spark):
    """Docs sharing a navigation blurb across >= min_doc_freq
    documents get their shared shingles flagged; a unique doc does
    not; the fraction math is exact."""
    from bigdata_elephant_spark.operators.dedup import boilerplate_flags

    nav = "home about contact privacy terms"
    rows = [(i, f"{nav} page number {i} content") for i in range(5)]
    rows.append((99, "entirely unique text with no shared shingles"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in boilerplate_flags(
        df, min_doc_freq=5, frac_threshold=0.4).collect()}
    # the nav shingles appear in 5 docs -> boilerplate
    assert out[0]["n_boilerplate"] >= 3
    assert out[0]["flagged"]
    assert out[99]["n_boilerplate"] == 0
    assert not out[99]["flagged"]
    for r in out.values():
        assert r["boilerplate_frac"] == round(
            r["n_boilerplate"] / r["n_shingles"], 6
        )


def test_duplicate_passages_known_runs(spark):
    """Hand-built corpus with a known shared passage: the island
    arithmetic must report exactly the planted run length, and
    independent diagonals must count as separate runs."""
    from bigdata_elephant_spark.operators.dedup import duplicate_passages

    passage = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 toks
    filler_a = "one two three four five six seven eight nine ten"
    filler_b = "red orange yellow green blue indigo violet pink gray black"
    rows = [
        (0, f"{filler_a} {passage} {filler_b}"),
        (1, f"{filler_b} {passage} {filler_a}"),
        (2, "totally unrelated words without any overlap here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_passages(docs, shingle_n=4, min_run=8).collect()
    # docs 0/1 share: the 8-token passage (one run per diagonal) AND
    # filler_a AND filler_b (10 tokens each, different diagonals).
    assert len(out) == 1
    row = out[0]
    assert (row["doc_a"], row["doc_b"]) == (0, 1)
    assert row["max_run_tokens"] == 10  # the fillers are the longest
    assert row["n_runs"] == 3           # passage + filler_a + filler_b

    # below min_run: an identical 7-token text is a 7-token run,
    # filtered by min_run=8; at min_run=7 it surfaces exactly once.
    short = [
        (0, "alpha bravo charlie delta echo foxtrot golf"),
        (1, "alpha bravo charlie delta echo foxtrot golf"),
    ]
    docs2 = spark.createDataFrame(short, "doc_id long, text string")
    assert duplicate_passages(docs2, shingle_n=4, min_run=8).count() == 0
    low = duplicate_passages(docs2, shingle_n=4, min_run=7).collect()
    assert len(low) == 1 and low[0]["max_run_tokens"] == 7
    assert low[0]["n_runs"] == 1


def test_incremental_dedup_cross_pairs_only(spark):
    """Delta-vs-corpus dedup must flag a new doc duplicating a corpus
    doc, never flag new-new or corpus-corpus pairs, and agree with
    the full self-join LSH on the pairs it emits."""
    from bigdata_elephant_spark.operators.dedup import (
        incremental_dedup_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    base = ("spark shuffles hash partitions across executors while "
            "catalyst prunes columns and pushes filters into scans "
            "again and again for every query plan it optimizes")
    other = ("completely different words about cooking pasta with "
             "tomatoes garlic olive oil and basil simmered slowly "
             "until the sauce thickens into something wonderful")
    rows = [
        (0, base),          # corpus
        (1, other),         # corpus
        (10, base),         # new: dup of corpus doc 0
        (11, "unrelated fresh content nothing shared here with anyone "
             "at all in any shingle of any length whatsoever today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new_sigs = minhash_signatures(docs.filter("doc_id >= 10"))
    corpus_sigs = minhash_signatures(docs.filter("doc_id < 10"))
    got = {
        (r["new_id"], r["corpus_id"]): r["est_sim"]
        for r in incremental_dedup_pairs(new_sigs, corpus_sigs)
        .filter("est_sim >= 0.5").collect()
    }
    assert got == {(10, 0): 1.0}
    # agreement with the full self-join path on the same corpus
    full = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in lsh_candidate_pairs(
            minhash_signatures(docs), materialize=False
        ).filter("est_sim >= 0.5").collect()
    }
    assert full[(0, 10)] == got[(10, 0)]


def test_ngram_contamination_handcheck(spark):
    """Train doc 1 shares its only trigram with the eval set; doc 2
    shares one of two; doc 3 shares none; a 2-token doc has no
    trigrams and is absent."""
    from bigdata_elephant_spark.operators.dedup import (
        ngram_contamination,
    )

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma unrelated tail")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_ngrams, r.n_overlap, r.contamination, r.flagged)
        for r in ngram_contamination(
            train, eval_df, n=3, flag_frac=0.6
        ).collect()
    }
    assert out[1] == (1, 1, 1.0, True)
    assert out[2] == (2, 1, 0.5, False)
    assert out[3] == (1, 0, 0.0, False)
    assert 4 not in out


def test_minhash_est_error_exact_dups_zero_error(corpus):
    """Docs 1/2/3 are shingle-identical (case/whitespace normalize
    away), so their pairs sit in the top Jaccard bucket with zero
    estimate error; every reported bucket's error stats are finite
    and the max never exceeds 1."""
    rows = {r.jac_bucket: r for r in
            dedup.minhash_estimate_error(corpus).collect()}
    assert 9 in rows  # the exact-dup pairs
    top = rows[9]
    assert top.n_pairs >= 3  # (1,2),(1,3),(2,3) at least
    for r in rows.values():
        assert 0.0 <= r.max_abs_err <= 1.0
        assert 0.0 <= r.sum_abs_err <= r.n_pairs * 1.0
    # identical signatures and identical shingle sets: zero error
    # unless a hash collision perturbs a signature (none at 16
    # hashes on this corpus)
    assert top.max_abs_err == 0.0 or top.max_abs_err < 0.25


def test_lsh_recall_sweep_catches_exact_dups(corpus):
    """Exact duplicates are ground truth at EVERY threshold and LSH
    must catch them (identical signatures share every band), so
    recall at each level with truth present is 1.0 on this corpus;
    levels output is complete 5..9 even if a level has no truth."""
    out = {r.thr_x10: r for r in dedup.lsh_recall_sweep(corpus).collect()}
    assert sorted(out) == [5, 6, 7, 8, 9]
    for t, r in out.items():
        assert r.n_true >= 3  # the three exact-dup pairs survive all t
        assert r.n_caught <= r.n_true
        assert r.recall == 1.0


def test_lsh_recall_sweep_reports_misses(spark):
    """The gate can DETECT a miss: two docs sharing exactly half
    their shingles (J=0.5) whose signatures differ in every band
    are truth at thr 5 but not caught — recall drops below 1."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    a = shared + " india juliett kilo lima mike november oscar papa"
    b = shared + " quebec romeo sierra tango uniform victor whiskey xray"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    out = {r.thr_x10: r for r in dedup.lsh_recall_sweep(
        df, thr_x10_min=1, thr_x10_max=9).collect()}
    # J = 6/(14+14-6) = 0.2727... -> truth at levels 1..2 only
    assert out[1].n_true == 1 and out[2].n_true == 1
    assert out[3].n_true == 0 and out[3].recall is None
    # whether LSH catches it depends on the signatures; the report
    # must be internally consistent either way
    assert out[1].n_caught in (0, 1)
    assert out[1].recall in (0.0, 1.0)


def test_duplicate_groups_round_frame_is_one_production_round(spark):
    """The plan-audit round frame (duplicate_groups_round_frame) IS
    one production round (the doubled min-label hop): renaming its
    columns reproduces duplicate_groups(max_iter=2) exactly."""
    import warnings

    from bigdata_elephant_spark.operators.dedup import (
        duplicate_groups,
        duplicate_groups_round_frame,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 10)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.node, r.label)
        for r in duplicate_groups_round_frame(pairs).collect()
    }
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        want = {
            (r.doc_id, r.group_id)
            for r in duplicate_groups(pairs, max_iter=2).collect()
        }
    assert got == want


def test_duplicate_groups_driver_path_equals_distributed(spark):
    """The size-gated driver fast path (_cc_driver) is bit-identical
    to the distributed label-propagation loop — on a random multi-
    component graph, on a chain truncated by max_iter, and on the
    empty graph. driver_max_edges=0 forces the distributed loop for
    the comparison."""
    import random
    import warnings

    from bigdata_elephant_spark.operators.dedup import duplicate_groups

    rng = random.Random(14)
    pairs_rows = [
        (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)
    ]
    cases = [
        pairs_rows,                           # random, several components
        [(i, i + 1) for i in range(30)],      # diameter 29 > 20-hop cap
        [],                                   # empty graph
        [(5, 5)],                             # self-loop only
    ]
    for rows in cases:
        pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            fast = {
                (r.doc_id, r.group_id)
                for r in duplicate_groups(pairs).collect()
            }
            slow = {
                (r.doc_id, r.group_id)
                for r in duplicate_groups(
                    pairs, driver_max_edges=0
                ).collect()
            }
        assert fast == slow, rows[:5]


def test_duplicate_groups_driver_path_max_iter_truncation(spark):
    """Hop-budget truncation (max_iter) yields the SAME partially
    propagated labels on both paths — the driver twin simulates the
    identical synchronous hop update, not a full closure."""
    import warnings

    from bigdata_elephant_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    for cap in (1, 2, 3):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            fast = {
                (r.doc_id, r.group_id)
                for r in duplicate_groups(pairs, max_iter=cap).collect()
            }
            slow = {
                (r.doc_id, r.group_id)
                for r in duplicate_groups(
                    pairs, max_iter=cap, driver_max_edges=0
                ).collect()
            }
        assert fast == slow, cap


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_duplicate_groups_driver_result_is_job_free(spark, count_jobs):
    """The driver path's groups are a LocalRelation: collecting them
    runs no Spark job."""
    from bigdata_elephant_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    groups = duplicate_groups(pairs)
    assert _plan_node(groups) == "LocalRelation"
    assert [f.nullable for f in groups.schema] == [False, False]
    rows = []
    assert count_jobs(lambda: rows.extend(groups.collect())) == 0
    assert sorted(map(tuple, rows)) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    ]


def test_duplicate_groups_gate_boundary(spark):
    """The gate counts each pair and its mirror: ``driver_max_edges =
    2·|pairs|`` takes the driver path, one less the distributed one,
    with the same groups."""
    from bigdata_elephant_spark.operators.dedup import duplicate_groups

    rows = [(1, 2), (2, 3), (3, 3), (7, 8), (8, 9), (20, 21), (1, 2)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    at = duplicate_groups(pairs, driver_max_edges=2 * len(rows))
    over = duplicate_groups(pairs, driver_max_edges=2 * len(rows) - 1)
    assert _plan_node(at) == "LocalRelation"
    assert _plan_node(over) != "LocalRelation"
    assert sorted(map(tuple, at.collect())) == sorted(
        map(tuple, over.collect())
    )


# Spark jobs of one dedup pass on the tier-1 fixture (read → minhash →
# LSH → est_sim >= 0.5 → collect → duplicate_groups → collect),
# measured warm: 1 for the parquet read's schema, 9 for the pair
# collect (signature persist, band and est_sim joins) and 5 for the
# groups (the one checkpoint of the pairs and the bounded collect that
# gates the driver path). The groups step took 11 when it checkpointed
# the symmetrized pairs, counted them and collected them again.
DEDUP_PASS_JOBS = 15


def test_dedup_pass_job_budget(spark, sf_dir, count_jobs):
    """One dedup pass runs at most DEDUP_PASS_JOBS jobs: a groups step
    that re-ran the candidate join or added a count would push the
    count over."""
    from bigdata_elephant_spark.session import release_caches
    from bigdata_elephant_spark.sources.corpus import read_table

    def dedup_pass():
        docs = read_table(spark, sf_dir, "documents")
        sigs = dedup.minhash_signatures(docs)
        kept = dedup.lsh_candidate_pairs(sigs).filter(
            F.col("est_sim") >= 0.5
        )
        kept.collect()
        dedup.duplicate_groups(kept).collect()
        release_caches()

    dedup_pass()  # warm-up
    jobs = count_jobs(dedup_pass)
    assert 0 < jobs <= DEDUP_PASS_JOBS, jobs

"""Behavioral tests for cosine top-k (exact + LSH) vs NumPy oracle."""

from __future__ import annotations

from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_elephant_spark.operators import similarity

DIM = 8
N = 60
# build, append and build keywords per index layout, keyed like the
# CLI tests' LAYOUT_FLAGS; the PQ geometry fits 4-d vectors too
INDEX_LAYOUTS = {
    "ivf": ("build_ivf_index", "update_ivf_index", {}),
    "sq8": ("build_ivfsq8_index", "update_ivfsq8_index", {}),
    "pq": (
        "build_ivfpq_index",
        "update_ivfpq_index",
        {"n_sub": 2, "sub_dim": 2, "n_codes": 4},
    ),
}


def _layout(layout):
    """``(build, update)`` of ``layout``, the build with its keywords."""
    build, update, kw = INDEX_LAYOUTS[layout]
    return (
        partial(getattr(similarity, build), **kw),
        getattr(similarity, update),
    )


def _stored_ids(spark, path) -> set:
    """The ids in the current generation of an index's corpus table."""
    table = similarity._LAYOUTS[similarity.index_kind(path)][0]
    return {
        r["vec_id"]
        for r in spark.read.parquet(similarity._table_path(path, table))
        .select("vec_id")
        .collect()
    }


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(123)
    return rng.normal(size=(N, DIM)).astype(np.float32)


@pytest.fixture(scope="module")
def emb_df(spark, vectors):
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_matches_numpy(emb_df, vectors):
    got = similarity.cosine_topk(emb_df, query_vec_id=0, k=5).collect()
    v = vectors.astype(np.float64)
    sims = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    sims[0] = -np.inf
    expect = list(np.argsort(-sims)[:5])
    assert [r["vec_id"] for r in got] == expect
    for r in got:
        assert r["cos_sim"] == pytest.approx(sims[r["vec_id"]], abs=1e-6)


def test_cosine_topk_lsh_subset_of_bucket(emb_df, vectors):
    planes = similarity.hyperplanes(3, DIM)
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity.lsh_bucket_assignments(emb_df, planes).collect()
    }
    got = similarity.cosine_topk_lsh(emb_df, 0, planes, k=5).collect()
    # every result shares the query's bucket, ordered by true cosine
    assert all(buckets[r["vec_id"]] == buckets[0] for r in got)
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_near_dup_lsh_subset_of_exact(emb_df):
    planes = similarity.hyperplanes(3, DIM)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.near_dup_pairs(emb_df, 0.2).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in similarity.near_dup_pairs(emb_df, 0.2, planes=planes).collect()
    }
    assert bucketed <= exact
    # random hyperplanes keep most high-cosine pairs in one bucket
    assert len(bucketed) > 0


def test_near_dup_pairs_canonical_order(emb_df):
    for r in similarity.near_dup_pairs(emb_df, 0.2).collect():
        assert r["id_a"] < r["id_b"]


def test_ivf_full_probe_equals_exact(emb_df):
    """Probing every cell makes IVF exact."""
    exact = similarity.cosine_topk(emb_df, 3, k=5).collect()
    ivf = similarity.ivf_topk(
        emb_df, 3, n_cells=8, n_probe=8, k=5
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in ivf] == [
        (r["vec_id"], r["cos_sim"]) for r in exact
    ]


def test_ivf_assign_partitions_all_vectors(emb_df):
    cents = similarity.ivf_centroids(emb_df, 8)
    assigned = similarity.ivf_assign(emb_df, cents).collect()
    assert len(assigned) == N
    assert {r["cell_id"] for r in assigned} <= set(range(8))


def test_bucket_determinism(emb_df):
    planes = similarity.hyperplanes(3, DIM)
    a = similarity.lsh_bucket_assignments(emb_df, planes).collect()
    b = similarity.lsh_bucket_assignments(emb_df, planes).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------------------ materialized IVF


def test_ivf_index_prunes_partitions(spark, emb_df, tmp_path):
    """The probe scan must touch only n_probe of n_cells partitions —
    the whole point of the write-side materialization (VERDICT r01:
    inline assignment made every query a full scan)."""
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb_df, path, n_cells=8)
    vecs = spark.read.parquet(f"{path}/vectors")
    n_cells_on_disk = vecs.select("cell_id").distinct().count()
    assert n_cells_on_disk == 8

    out = similarity.ivf_topk_indexed(
        spark, path, query_vec_id=0, n_probe=2, k=5, source=emb_df
    )
    # the cell_id IN (...) predicate must land in the scan's
    # PartitionFilters (static partition pruning), not a post-scan
    # Filter — that's the difference between reading 2/8 of the index
    # and reading all of it.
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any(
        "cell_id" in ln and " in " in ln.lower() for ln in scan_lines
    ), f"no partition filter on cell_id:\n{plan[:2000]}"


def test_ivf_indexed_matches_inline(spark, emb_df):
    """Indexed and inline IVF are the same operator over different
    layouts — results must match row-for-row."""
    import tempfile

    path = tempfile.mkdtemp(prefix="ivf_eq_")
    similarity.build_ivf_index(emb_df, path, n_cells=8)
    inline = similarity.ivf_topk(
        emb_df, 0, n_cells=8, n_probe=2, k=5
    ).collect()
    indexed = similarity.ivf_topk_indexed(
        spark, path, 0, n_probe=2, k=5, source=emb_df
    ).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in indexed]


# ------------------------------------------------- recall floors


def _recall_at_k(approx_rows, exact_rows):
    a = {r["vec_id"] for r in approx_rows}
    e = {r["vec_id"] for r in exact_rows}
    return len(a & e) / len(e)


def test_ivf_recall_floor_real_data(spark):
    """IVF recall@10 on the real sf0.001 embeddings. The table is
    near-uniform random, so this is a loose floor — but a broken
    probe (wrong cells, wrong assignment) collapses it to ~n_probe/
    n_cells-ish and fails. Measured 0.9 at the defaults."""
    from bigdata_elephant_spark.plans.llm_queries import (
        IVF_CELLS,
        IVF_PROBE,
        PLANES,
    )
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    k = 10
    exact = similarity.cosine_topk(emb, 0, k=k).collect()
    ivf = similarity.ivf_topk(
        emb, 0, n_cells=IVF_CELLS, n_probe=IVF_PROBE, k=k
    ).collect()
    assert _recall_at_k(ivf, exact) >= 0.5, "IVF recall@10 collapsed"
    # bucketing must actually partition the space
    n_buckets = (
        similarity.lsh_bucket_assignments(emb, PLANES)
        .select("bucket").distinct().count()
    )
    assert n_buckets > 1


def test_lsh_recall_planted_cluster(spark):
    """Uniform-random embeddings have no structure for single-probe
    LSH to exploit (its recall there is ~1/2^planes by construction),
    so recall is measured where it is *meaningful*: a planted cluster
    of 10 near-copies of the query. High-cosine vectors agree with
    the query on (almost) every hyperplane sign, so bucketed search
    must recover them — and multi-probe must dominate single-probe on
    whatever it misses."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    q = rng.normal(size=dim)
    planted = q + rng.normal(scale=0.05, size=(10, dim))
    noise = rng.normal(size=(400, dim))
    all_vecs = np.vstack([q[None, :], planted, noise])
    rows = [
        (i, [float(x) for x in all_vecs[i]])
        for i in range(len(all_vecs))
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    planes = similarity.hyperplanes(4, dim)
    k = 10
    exact = similarity.cosine_topk(df, 0, k=k).collect()
    assert {r["vec_id"] for r in exact} == set(range(1, 11))
    single = similarity.cosine_topk_lsh(df, 0, planes, k=k).collect()
    multi = similarity.cosine_topk_lsh(
        df, 0, planes, k=k, probe_hamming=1
    ).collect()
    r_single = _recall_at_k(single, exact)
    r_multi = _recall_at_k(multi, exact)
    assert r_single >= 0.8, f"planted-cluster recall {r_single}"
    assert r_multi >= r_single
    assert r_multi >= 0.9, f"multi-probe recall {r_multi}"


def test_kmeans_recovers_planted_clusters(spark):
    """3 well-separated planted clusters, seeds drawn one-per-cluster
    (ids 0..2 are cluster exemplars): after a few Lloyd rounds each
    centroid sits near its cluster's true mean."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = np.array(
        [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0],
         [0.0, 0.0, 10.0, 0.0]]
    )
    pts, ids = [], []
    # ids 0..2 are one point from each cluster -> the lowest-id seeds
    # start one-per-cluster
    for c in range(3):
        pts.append(centers[c] + rng.normal(scale=0.3, size=4))
        ids.append(c)
    n = 3
    for c in range(3):
        for _ in range(40):
            pts.append(centers[c] + rng.normal(scale=0.3, size=4))
            ids.append(n)
            n += 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in zip(ids, pts)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.kmeans(df, n_cells=3, iterations=4).collect()
    cents = {}
    for r in out:
        cents.setdefault(r["cell_id"], {})[r["d"]] = r["c"]
    assert len(cents) == 3
    got = sorted(
        tuple(c[d] for d in range(4)) for c in cents.values()
    )
    want = sorted(tuple(c) for c in centers)
    for g, w in zip(got, want):
        dist = sum((a - b) ** 2 for a, b in zip(g, w)) ** 0.5
        assert dist < 0.5, (g, w)


def test_pq_recall_and_code_shape(spark):
    """PQ-ADC top-k: (1) every vector compresses to exactly n_sub
    codes drawn from [0, n_codes); (2) with a 50-wide shortlist over
    500 near-uniform vectors the exact re-rank recovers most of the
    true top-10 (measured 0.9 at the defaults — a broken LUT join or
    shortlist cut collapses it)."""
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = similarity.pq_codebooks(emb, n_sub=4, sub_dim=16, n_codes=16)
    assert cb.count() == 4 * 16
    codes = similarity.pq_encode(emb, cb, n_sub=4, sub_dim=16)
    n = emb.count()
    assert codes.count() == 4 * n
    from pyspark.sql import functions as F

    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= 16))
    assert bad.count() == 0
    exact = similarity.cosine_topk(emb, 0, k=10).collect()
    approx = similarity.pq_topk(emb, 0, shortlist=50, k=10).collect()
    assert _recall_at_k(approx, exact) >= 0.5, "PQ recall@10 collapsed"


def test_kmeanspp_seeds_spread_beats_lowest_id(spark):
    """Farthest-point seeds must be (a) distinct, (b) reproducible,
    and (c) better spread than the lowest-id baseline: their minimum
    pairwise distance strictly exceeds the lowest-id seeds'."""
    import itertools

    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    k = 8
    seeds = similarity.kmeanspp_seeds(emb, k).collect()
    ids = [r["vec_id"] for r in sorted(seeds, key=lambda r: r["seed_rank"])]
    assert len(set(ids)) == k and ids[0] == 0
    again = [r["vec_id"] for r in sorted(
        similarity.kmeanspp_seeds(emb, k).collect(),
        key=lambda r: r["seed_rank"])]
    assert again == ids

    vecs = {r["vec_id"]: r["embedding"]
            for r in emb.filter(emb.vec_id < 500).collect()}

    def min_pair_dist(chosen):
        def l2(a, b):
            return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))
        return min(l2(vecs[a], vecs[b])
                   for a, b in itertools.combinations(chosen, 2))

    baseline = list(range(k))  # ivf_centroids' lowest-id choice
    assert min_pair_dist(ids) > min_pair_dist(baseline)


def test_kmeans_parallel_seeds_quality_and_determinism(spark):
    """k-means|| must (a) produce k distinct dataset-member seeds in
    O(rounds) passes, (b) replay identically (hash-derandomized
    coin flips), and (c) seed at least as well as the lowest-id
    baseline and within 2x of the k-1-pass greedy farthest-point
    cost — the tolerance the scale path buys its O(1) passes with."""
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    k = 8
    par = similarity.kmeans_parallel_seeds(emb, k, rounds=3)
    ids = [r["vec_id"] for r in par.orderBy("seed_rank").collect()]
    assert len(ids) == k and len(set(ids)) == k
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert set(ids) <= all_ids

    again = [
        r["vec_id"]
        for r in similarity.kmeans_parallel_seeds(emb, k, rounds=3)
        .orderBy("seed_rank").collect()
    ]
    assert again == ids

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}

    def phi(seed_ids):
        tot = 0.0
        for v in vecs.values():
            tot += min(
                sum((a - b) ** 2 for a, b in zip(v, vecs[s]))
                for s in seed_ids
            )
        return tot

    greedy = [
        r["vec_id"]
        for r in similarity.kmeanspp_seeds(emb, k).collect()
    ]
    cost_par, cost_greedy = phi(ids), phi(greedy)
    cost_baseline = phi(list(range(k)))  # ivf lowest-id choice
    assert cost_par <= cost_baseline
    assert cost_par <= 2.0 * cost_greedy, (cost_par, cost_greedy)


def test_kmeans_parallel_seeds_tiny_input_and_empty(spark):
    """k close to n exercises the deterministic top-up; empty input
    yields an empty frame with the contract schema."""
    rows = [(i, [float(i), 0.0]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = similarity.kmeans_parallel_seeds(emb, 5, rounds=2)
    got = sorted(r["vec_id"] for r in seeds.collect())
    assert got == [0, 1, 2, 3, 4]

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.kmeans_parallel_seeds(empty, 3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["seed_rank", "vec_id"]


def test_semantic_dedup_pairs_cell_confinement(spark):
    """Cell-bucketed semantic dedup must (a) only emit same-cell
    pairs, (b) agree with brute-force near_dup_pairs on every pair it
    does emit, and (c) miss only cross-cell pairs — the documented
    recall trade."""
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    thr = 0.4
    cells = similarity.ivf_assign(
        emb, similarity.ivf_centroids(emb, 16)
    )
    cell_of = {r["vec_id"]: r["cell_id"] for r in cells.collect()}
    got = {
        (r["id_a"], r["id_b"]): (r["cell_id"], r["cos_sim"])
        for r in similarity.semantic_dedup_pairs(emb, thr, n_cells=16)
        .collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.near_dup_pairs(emb, thr).collect()
    }
    for (a, b), (cell, cs) in got.items():
        assert cell_of[a] == cell_of[b] == cell
        assert exact[(a, b)] == cs
    for (a, b) in set(exact) - set(got):
        assert cell_of[a] != cell_of[b], (
            "same-cell qualifying pair missing from semantic dedup"
        )


def test_ivfpq_recall_against_exact(spark, sf_dir):
    """IVF-PQ with 4/16 probing recovers a reasonable share of the
    exact top-10 (deterministic setup, so the recall is stable)."""
    from bigdata_elephant_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in cosine_topk(emb, 0, k=10).collect()}
    approx = {
        r.vec_id for r in ivfpq_topk(emb, 0, k=10).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) >= 3  # probe covers 1/4 of cells


def test_ivfpq_indexed_matches_inline(spark, sf_dir):
    """A query over the materialized IVF-PQ layout returns exactly
    the inline ivfpq_topk rows (same training pipeline, same
    scoring), and the codes scan touches only probed cells."""
    import tempfile, shutil

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="test_ivfpq_")
    try:
        sim.build_ivfpq_index(
            emb, path, n_cells=8, n_sub=4, sub_dim=16, n_codes=8
        )
        idx = sim.ivfpq_topk_indexed(
            spark, path, 0, source=emb, n_probe=3, shortlist=30, k=5
        ).collect()
        inline = sim.ivfpq_topk(
            emb, 0, n_cells=8, n_probe=3, n_sub=4, sub_dim=16,
            n_codes=8, shortlist=30, k=5,
        ).collect()
        assert [(r["vec_id"], r["cos_sim"]) for r in idx] == [
            (r["vec_id"], r["cos_sim"]) for r in inline
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)


# family -> (single-query call, batch call, score column); the IVF
# calls probe 3 of 8 cells, the inline PQ calls shortlist 20 and the
# indexed IVF-PQ calls the batch reader's 50. Every IVF family, inline
# or indexed, is the one core _ivf_indexed_search: the inline ones
# over a handle AnnIndex.train builds in memory (the inline IVF,SQ8
# batch calls the core directly, as ivf_sq8_topk does), the indexed
# ones over the module's ann_indexes, with the queries from the source
_ZERO_ID, _ABSENT_ID = 10_000, 20_000
_INDEXES: dict[str, str] = {}


def _allowed(emb):
    return emb.filter(F.col("vec_id") % 3 != 0).select("vec_id")


_FAMILIES = {
    "cosine": (
        lambda e, i: similarity.cosine_topk(e, i, k=5),
        lambda e, ids: similarity.cosine_topk_batch(e, ids, k=5),
        "cos_sim",
    ),
    "ivf": (
        lambda e, i: similarity.ivf_topk(e, i, n_cells=8, n_probe=3, k=5),
        lambda e, ids: similarity.ivf_topk_batch(
            e, ids, n_cells=8, n_probe=3, k=5
        ),
        "cos_sim",
    ),
    "ivf_allowed": (
        lambda e, i: similarity.ivf_topk(
            e, i, n_cells=8, n_probe=3, k=5, allowed=_allowed(e)
        ),
        lambda e, ids: similarity.ivf_topk_batch(
            e, ids, n_cells=8, n_probe=3, k=5, allowed=_allowed(e)
        ),
        "cos_sim",
    ),
    "pq": (
        lambda e, i: similarity.pq_topk(e, i, shortlist=20, k=5),
        lambda e, ids: similarity.pq_topk_batch(
            e, ids, shortlist=20, k=5
        ),
        "cos_sim",
    ),
    "sq8": (
        lambda e, i: similarity.sq8_topk(e, i, k=5),
        lambda e, ids: similarity.sq8_topk_batch(e, ids, k=5),
        "sq8_sim",
    ),
    "ivf_sq8": (
        lambda e, i: similarity.ivf_sq8_topk(
            e, i, n_cells=8, n_probe=3, k=5
        ),
        # the core ivf_sq8_topk runs, over the same in-memory handle
        lambda e, ids: similarity._ivf_indexed_search(
            similarity.AnnIndex.train(e, "ivfsq8", 8), ids, e, 3, 5, None
        ),
        "sq8_sim",
    ),
    "ivfpq": (
        lambda e, i: similarity.ivfpq_topk(
            e, i, n_cells=8, n_probe=3, shortlist=20, k=5
        ),
        lambda e, ids: similarity.ivfpq_topk_batch(
            e, ids, n_cells=8, n_probe=3, shortlist=20, k=5
        ),
        "cos_sim",
    ),
    "ivf_indexed": (
        lambda e, i: similarity.ivf_topk_indexed(
            e.sparkSession, _INDEXES["ivf"], i, n_probe=3, k=5, source=e
        ),
        lambda e, ids: similarity.ivf_topk_batch_indexed(
            e.sparkSession, _INDEXES["ivf"], ids, n_probe=3, k=5, source=e
        ),
        "cos_sim",
    ),
    "ivf_sq8_indexed": (
        lambda e, i: similarity.ivfsq8_topk_indexed(
            e.sparkSession, _INDEXES["ivfsq8"], i, e, n_probe=3, k=5
        ),
        lambda e, ids: similarity.ivf_topk_batch_indexed(
            e.sparkSession, _INDEXES["ivfsq8"], ids, n_probe=3, k=5,
            source=e,
        ),
        "sq8_sim",
    ),
    "ivfpq_indexed": (
        lambda e, i: similarity.ivfpq_topk_indexed(
            e.sparkSession, _INDEXES["ivfpq"], i, e, n_probe=3, k=5
        ),
        lambda e, ids: similarity.ivf_topk_batch_indexed(
            e.sparkSession, _INDEXES["ivfpq"], ids, n_probe=3, k=5,
            source=e,
        ),
        "cos_sim",
    ),
}


@pytest.fixture(scope="module")
def ann_indexes(spark, sf_dir, tmp_path_factory):
    """One index of each layout over the testdata embeddings (8
    cells) in a module-wide temp dir, for the indexed _FAMILIES."""
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    root = tmp_path_factory.mktemp("ann_indexes")
    for kind, build in (
        ("ivf", similarity.build_ivf_index),
        ("ivfsq8", similarity.build_ivfsq8_index),
        ("ivfpq", similarity.build_ivfpq_index),
    ):
        _INDEXES[kind] = str(root / kind)
        build(emb, _INDEXES[kind], n_cells=8)
    yield
    _INDEXES.clear()


@pytest.fixture(scope="module")
def emb_with_zero(spark, sf_dir):
    """The testdata embeddings plus one all-zero vector."""
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    zero = spark.createDataFrame([(_ZERO_ID, [0.0] * dim, 0)], emb.schema)
    return emb.unionByName(zero).cache()


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_batch_of_one_matches_single(emb_with_zero, ann_indexes, family):
    """Each single-query function is its family core run as a batch
    of one, so per query it must return exactly that query's rows of
    a batch: for a normal id, a zero-norm vector and an absent id
    (both empty), and an id repeated in the batch (answered once)."""
    single, batch, score = _FAMILIES[family]
    qids = [0, 3, _ZERO_ID, _ABSENT_ID, 3]
    by_q: dict[int, list] = {}
    for r in batch(emb_with_zero, qids).collect():
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], r[score]))
    assert len(by_q[0]) == 5 and len(by_q[3]) == 5, by_q
    assert set(by_q) == {0, 3}
    for qid in (0, 3, _ZERO_ID, _ABSENT_ID):
        got = [
            (r["vec_id"], r[score])
            for r in single(emb_with_zero, qid).collect()
        ]
        assert sorted(by_q.get(qid, [])) == sorted(got), qid


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_core_cuts_follow_batch_size(spark, sf_dir, ann_indexes, family):
    """Plan-shape guard on the input-size rule of the one top-k
    helper: a one-query call plans every cut (probe, shortlist,
    top-k) as TakeOrderedAndProject, with no Window anywhere; a
    4-query call plans them as WindowGroupLimit rank windows."""
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    _, batch, _ = _FAMILIES[family]

    def plan(ids):
        df = batch(emb, ids)
        return df._jdf.queryExecution().executedPlan().toString()

    one = plan([3])
    assert "TakeOrderedAndProject" in one and "Window" not in one, one
    assert "WindowGroupLimit" in plan([0, 3, 7, 11])


# Measured on the tier-1 fixture (8 cells, probe 3): the Spark jobs of
# building and collecting one inline IVF-family query through the
# shared core — the centroid collect, the query collect and the scored
# collect's stages, plus IVF,SQ8's dimension read and range stats, and
# IVF-PQ's persisted residuals and codebook training. The Spark-side
# probes they replace counted 6, 7, 10 and 16.
INLINE_IVF_JOBS = {
    "ivf_topk": 6,
    "ivf_topk_batch": 7,
    "ivf_sq8_topk": 9,
    "ivfpq_topk": 17,
}
_INLINE_IVF = {
    "ivf_topk": lambda e: similarity.ivf_topk(e, 3, 8, 3, 5),
    "ivf_topk_batch": lambda e: similarity.ivf_topk_batch(
        e, [0, 3, 7], 8, 3, 5
    ),
    "ivf_sq8_topk": lambda e: similarity.ivf_sq8_topk(e, 3, 8, 3, 5),
    "ivfpq_topk": lambda e: similarity.ivfpq_topk(
        e, 3, 8, 3, shortlist=20, k=5
    ),
}


@pytest.mark.parametrize("name", sorted(INLINE_IVF_JOBS))
def test_inline_ivf_job_budget(spark, sf_dir, count_jobs, name):
    """An inline IVF-family query runs at most its INLINE_IVF_JOBS pin:
    a second probe, assignment or training pass would push it over."""
    from bigdata_elephant_spark.session import release_caches
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    _INLINE_IVF[name](emb).collect()  # warm-up
    release_caches()  # no residual cache left from the warm-up
    jobs = count_jobs(lambda: _INLINE_IVF[name](emb).collect())
    release_caches()
    assert 0 < jobs <= INLINE_IVF_JOBS[name], jobs


@pytest.mark.parametrize("name", ["ivf_topk_batch", "ivf_sq8_topk"])
def test_inline_ivf_plan_prunes_without_self_join(spark, sf_dir, name):
    """The optimized plan of an inline IVF query holds the static
    ``cell_id IN (...)`` filter of the driver probe and no join of the
    corpus back to itself on ``vec_id``: the assignment carries each
    row through its aggregate."""
    import re

    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    plan = _INLINE_IVF[name](emb)._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert re.search(r"cell_id#\d+L? IN \(", text), text
    joins = re.findall(r"Join \w+.*", text)
    assert not [j for j in joins if "vec_id#" in j], joins


def test_ivf_batch_indexed_matches_inline_batch(spark, sf_dir, tmp_path):
    """The indexed batch scorer is the inline batch scorer over the
    materialized layout — identical rows per query, and the whole
    batch must read the index through ONE statically partition-pruned
    scan (the probed-cell union in PartitionFilters).

    The single-query ivf_topk_indexed is the same core run as a batch
    of one, so for every query of every batch it must equal that
    query's batch rows: stored, literal, zero-norm and absent query
    ids, k above the candidate count, n_probe above n_cells,
    tombstoned rows (and a tombstoned query id) and an allowed
    filter."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=8)
    qids = [0, 3, 7]
    inline = sim.ivf_topk_batch(
        emb, qids, n_cells=8, n_probe=2, k=5
    ).orderBy("q_id", "vec_id").collect()
    out = sim.ivf_topk_batch_indexed(
        spark, path, qids, n_probe=2, k=5, source=emb
    )
    indexed = out.orderBy("q_id", "vec_id").collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in indexed]
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any(
        "cell_id" in ln and " in " in ln.lower() for ln in scan_lines
    ), f"no partition filter on cell_id:\n{plan[:2000]}"

    dim = len(emb.filter("vec_id = 3").first()["embedding"])
    literal = spark.createDataFrame(
        [(-1, [0.05 * (i % 7) - 0.1 for i in range(dim)])],
        "vec_id long, embedding array<float>",
    )
    zero = spark.createDataFrame(
        [(-2, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    src = emb.select("vec_id", "embedding").unionByName(literal)
    src = src.unionByName(zero)
    qids = [0, 7, -1, -2, 999_999]
    allowed = emb.filter(F.col("vec_id") % 3 != 0).select("vec_id")

    def per_query(rows):
        by_q: dict[int, list] = {q: [] for q in qids}
        for r in rows:
            by_q[r["q_id"]].append((r["vec_id"], r["cos_sim"]))
        return {q: sorted(v) for q, v in by_q.items()}

    def check(n_probe, k, source, filt=None):
        if filt is None:
            batch = sim.ivf_topk_batch_indexed(
                spark, path, qids, n_probe=n_probe, k=k, source=source
            ).collect()
        else:  # the batch shape of the core, with a filter
            batch = sim._ivf_indexed_search(
                sim.open_ann_index(spark, path), qids, source, n_probe, k,
                filt,
            ).collect()
        want = per_query(batch)
        for q in qids:
            single = sim.ivf_topk_indexed(
                spark, path, q, n_probe=n_probe, k=k,
                # the literal query alone, as the CLI's --vec source
                source=literal if q == -1 and source is not None
                else source,
                allowed=filt,
            ).collect()
            got = [(r["vec_id"], r["cos_sim"]) for r in single]
            assert sorted(got) == want[q], (n_probe, k, q)
        return want

    want = check(2, 5, src)
    assert want[-2] == [] and want[999_999] == []
    assert len(want[-1]) == 5
    # n_probe above n_cells and k above the candidate count: every
    # allowed row is scored
    full = check(12, 10_000, src, allowed)
    assert len(full[0]) == allowed.count()
    assert all(v % 3 != 0 for rows in full.values() for v, _ in rows)
    victims = sorted({v for rows in want.values() for v, _ in rows})[:4]
    sim.delete_from_index(spark, path, victims + [7])
    after = check(2, 5, None)  # queries read from the live index
    assert after[7] == []  # a tombstoned query id is absent
    assert not {v for rows in after.values() for v, _ in rows} & set(
        victims
    )


def _spark_probe(cents, q, n_probes) -> dict:
    """Spark's own probe per ``n_probe``: each query's
    ``orderBy(round(_l2sq, 6), cell_id).limit(n_probe)``, as
    ``{n_probe: {cell_id: [q_id, ...]}}``. One collect: a
    ``row_number`` over the same total order is the same cut."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import similarity as sim

    w = Window.partitionBy("q_id").orderBy("d", "cell_id")
    rows = (
        cents.crossJoin(q)
        .select(
            "q_id",
            "cell_id",
            F.round(sim._l2sq(F.col("cvec"), F.col("_qvec")), 6).alias("d"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .orderBy("q_id", "_rn")
        .collect()
    )
    out: dict = {}
    for n in n_probes:
        want = out.setdefault(n, {})
        for r in rows:
            if r["_rn"] <= n:
                want.setdefault(r["cell_id"], []).append(r["q_id"])
    return out


def _driver_probe(cents, q, n_probe) -> dict:
    from bigdata_elephant_spark.operators import similarity as sim

    return sim._probe_cells(
        sim._driver_vectors(cents.toArrow(), "cell_id", "cvec"),
        sim._driver_vectors(q.toArrow(), "q_id", "_qvec"),
        n_probe,
    )


def test_probe_cells_matches_spark_probe(spark):
    """The driver probe equals Spark's own per-query
    ``orderBy(round(_l2sq, 6), cell_id).limit(n_probe)``: exact ties
    and ties made by the 6-decimal rounding go to the lower cell_id,
    a null distance (a centroid of another dimension, or with a null
    element) ranks first and a NaN distance last, as in Spark's
    ascending sort; distances are folded left to right like Spark's
    ``aggregate``. Then a seeded sweep of random float32 centroids
    and queries, half of them on a small 1/16 grid: their distances
    are exact multiples of 1/256, so many tie exactly and many land on a
    6-decimal halfway point (``m / 128`` for odd ``m``, e.g.
    0.0078125), which Spark rounds HALF_UP (half-even would not)."""
    import numpy as np

    from bigdata_elephant_spark.operators import similarity as sim

    # repartition: keeps the optimizer from folding the local rows
    # through the interpreted higher-order functions (seconds each)
    cents = spark.createDataFrame(
        [
            (5, [1.0, 0.0]), (2, [0.0, 1.0]), (9, [-1.0, 0.0]),
            (3, [0.0, 0.5]), (7, [2.0, 0.0]), (8, [0.0, 0.0]),
            (4, [1e-7, 0.0]), (6, [float("nan"), 0.0]), (1, [1.0]),
            (10, [None, 0.25]), (11, [0.0625, 0.0625]),
        ],
        "cell_id long, cvec array<float>",
    ).repartition(1)
    src = spark.createDataFrame(
        [(10, [0.0, 0.001]), (11, [1.0, 1.0]), (12, [0.0, 0.0]),
         (13, [0.125, 0.125])],
        "vec_id long, embedding array<float>",
    ).repartition(1)
    q = sim._query_vectors(src, [10, 11, 12, 13, 14])
    probes = (2, 6, 9, 12)
    want = _spark_probe(cents, q, probes)
    for n_probe in probes:
        assert _driver_probe(cents, q, n_probe) == want[n_probe], n_probe
    assert _driver_probe(cents, q.filter("q_id = 12"), 3) == {}

    # fold order: 1e16 + fifteen 0.25s is 1e16 summed left to right
    # (Spark's aggregate) but not pairwise (np.sum), which would rank
    # cell 0 behind its tie with cell 1
    cents = spark.createDataFrame(
        [(0, [1e8] + [0.0] * 15), (1, [1e8] + [0.5] * 15)],
        "cell_id long, cvec array<float>",
    ).repartition(1)
    src = spark.createDataFrame(
        [(5, [0.0] + [0.5] * 15)], "vec_id long, embedding array<float>"
    ).repartition(1)
    q = sim._query_vectors(src)
    assert _driver_probe(cents, q, 1) == _spark_probe(cents, q, [1])[1]
    assert _driver_probe(cents, q, 1) == {0: [5]}
    # halfway: cell 2 sits at 0.0078125, which HALF_UP rounds to the
    # 0.007813 of cell 1 (the tie goes to cell 1); half-even would not
    cents = spark.createDataFrame(
        [(2, [0.5625, 0.5625, 0.5]), (1, [0.5625, 0.5625, 0.5 + 2**-11])],
        "cell_id long, cvec array<float>",
    ).repartition(1)
    src = spark.createDataFrame(
        [(5, [0.5, 0.5, 0.5])], "vec_id long, embedding array<float>"
    ).repartition(1)
    q = sim._query_vectors(src)
    assert _driver_probe(cents, q, 1) == _spark_probe(cents, q, [1])[1]
    assert _driver_probe(cents, q, 1) == {1: [5]}

    rng = np.random.default_rng(20261018)
    dim, n_cells, n_q = 4, 24, 40

    def table(n, first_id):
        vecs = rng.normal(size=(n, dim)).astype(np.float32)
        vecs[::2] = np.round(vecs[::2] * 4) / 16  # the 1/16 grid
        return [
            (first_id + i, [float(x) for x in v]) for i, v in enumerate(vecs)
        ]

    cent_rows, q_rows = table(n_cells, 0), table(n_q, 100)
    cents = spark.createDataFrame(
        cent_rows, "cell_id long, cvec array<float>"
    ).repartition(1)
    src = spark.createDataFrame(
        q_rows, "vec_id long, embedding array<float>"
    ).repartition(1)
    q = sim._query_vectors(src)
    probes = (1, 3, 8, n_cells)
    want = _spark_probe(cents, q, probes)
    for n_probe in probes:
        assert _driver_probe(cents, q, n_probe) == want[n_probe], n_probe
    # the sweep really holds exact ties and 6-decimal halfway points
    dists = [
        [np.cumsum((np.float64(a) - b) ** 2)[-1] for _, b in cent_rows[::2]]
        for _, a in q_rows[::2]
    ]
    assert any(d * 128 % 2 == 1 for row in dists for d in row)
    assert any(len(set(row)) < len(row) for row in dists)


def test_spark_round_matches_spark(spark):
    """``functions.numeric.spark_round`` is Spark's ``round(x, s)``
    on doubles: HALF_UP on the shortest repr, so 0.1234565 (stored
    just below the halfway point) rounds up like Spark, unlike
    ``Decimal(x)`` or Python's ``round``; NaN and ±Inf pass through
    and a zero result is unsigned."""
    from bigdata_elephant_spark.functions.numeric import spark_round

    xs = [
        0.1234565, 1.0000005, 2.5e-07, -2.5e-07, 0.0078125, 1e-7,
        -1e-7, 123456.1234565, 1e20, 3.14159265358979, -0.0,
        float("nan"), float("inf"), 0.5e-6, 1.4999995,
    ]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    for scale in (6, 9):
        got = {
            r["i"]: r["r"]
            for r in df.selectExpr("i", f"round(x, {scale}) AS r").collect()
        }
        for i, x in enumerate(xs):
            want = got[i]
            have = float(spark_round(x, scale))
            if want != want:  # NaN
                assert have != have, x
            else:
                assert (have, str(have)) == (want, str(want)), (x, scale)


def test_ivf_incremental_update_equals_full_build(spark, sf_dir, tmp_path):
    """build on base + update_ivf_index(delta) must answer queries
    exactly like one build over base+delta (append-only id growth:
    the union's seed set lies in the base), and the delta rows must
    land in the same cells the full build assigns."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    split = 400
    base = emb.filter(F.col("vec_id") < split)
    delta = emb.filter(F.col("vec_id") >= split)

    inc_path = str(tmp_path / "inc")
    sim.build_ivf_index(base, inc_path, n_cells=8)
    sim.update_ivf_index(spark, inc_path, delta)
    full_path = str(tmp_path / "full")
    sim.build_ivf_index(emb, full_path, n_cells=8)

    inc_vecs = spark.read.parquet(f"{inc_path}/vectors")
    full_vecs = spark.read.parquet(f"{full_path}/vectors")
    assert inc_vecs.count() == emb.count()  # nothing lost/duplicated
    a = sorted(
        (r["vec_id"], r["cell_id"])
        for r in inc_vecs.select("vec_id", "cell_id").collect()
    )
    b = sorted(
        (r["vec_id"], r["cell_id"])
        for r in full_vecs.select("vec_id", "cell_id").collect()
    )
    assert a == b  # frozen-geometry assignment == rebuild assignment

    q_inc = sim.ivf_topk_indexed(
        spark, inc_path, 0, n_probe=3, k=5, source=emb
    ).collect()
    q_full = sim.ivf_topk_indexed(
        spark, full_path, 0, n_probe=3, k=5, source=emb
    ).collect()
    assert [tuple(r) for r in q_inc] == [tuple(r) for r in q_full]


def test_ivf_works_on_sparse_id_space(spark):
    """Centroid/codebook seeding must mean 'lowest n ids', not
    'id < n': a table whose ids start at 1000 (filtered subset,
    real-world keys) must still yield n centroids and results."""
    import random

    from bigdata_elephant_spark.operators import similarity as sim

    rng = random.Random(11)
    rows = [
        (1000 + i, [round(rng.uniform(-1, 1), 4) for _ in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cents = sim.ivf_centroids(emb, 4)
    assert cents.count() == 4
    assert {r["cell_id"] for r in cents.collect()} == {
        1000, 1001, 1002, 1003
    }
    out = sim.ivf_topk(emb, 1005, n_cells=4, n_probe=2, k=3)
    assert out.count() == 3


def test_compact_index_merges_small_files(spark, sf_dir, tmp_path):
    """Repeated update_ivf_index appends leave multiple files per
    cell; compact_index must bring every cell back to ONE file (in a
    NEW versioned dir the manifest points at) with query results
    unchanged, while the previous generation stays on disk for
    readers that planned before the pointer flip."""
    import glob
    import os

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb.filter("vec_id < 300"), path, n_cells=8)
    sim.update_ivf_index(
        spark, path, emb.filter("vec_id >= 300 and vec_id < 400")
    )
    sim.update_ivf_index(spark, path, emb.filter("vec_id >= 400"))

    def files_per_cell(d):
        return {
            os.path.basename(c): len(
                [f for f in os.listdir(c) if f.endswith(".parquet")]
            )
            for c in glob.glob(f"{d}/cell_id=*")
        }

    before = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    old_dir = sim._table_path(path, "vectors")
    assert max(files_per_cell(old_dir).values()) > 1  # fragmented
    # a reader that planned BEFORE the compaction commit
    held = spark.read.parquet(old_dir)
    sim.compact_index(spark, path)
    new_dir = sim._table_path(path, "vectors")
    assert new_dir != old_dir  # snapshot commit, not in-place swap
    assert set(files_per_cell(new_dir).values()) == {1}
    # previous generation retained for in-flight readers
    assert os.path.isdir(old_dir)
    assert held.count() == emb.count()
    after = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert spark.read.parquet(new_dir).count() == emb.count()
    # a second commit expires the oldest generation, keeps one back
    sim.compact_index(spark, path)
    third = sim._table_path(path, "vectors")
    assert third not in (old_dir, new_dir)
    assert not os.path.isdir(old_dir) and os.path.isdir(new_dir)
    # a rebuild resets to the unversioned layout and expires the rest
    sim.build_ivf_index(emb, path, n_cells=8)
    assert sim._table_path(path, "vectors") == f"{path}/vectors"
    assert not os.path.isdir(third) and not os.path.isdir(new_dir)
    rebuilt = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in rebuilt]


def test_update_after_compact_appends_to_current_version(
    spark, sf_dir, tmp_path
):
    """An incremental add issued AFTER a compaction commit must land
    in the version dir the manifest currently points at (not the
    retired unversioned dir), so queries keep seeing one coherent
    snapshot: base-compact-add answers exactly like a full build."""
    import os

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb.filter("vec_id < 400"), path, n_cells=8)
    sim.compact_index(spark, path)
    cur = sim._table_path(path, "vectors")
    assert cur.endswith("vectors_v1")
    n_before = spark.read.parquet(cur).count()
    sim.update_ivf_index(spark, path, emb.filter("vec_id >= 400"))
    assert spark.read.parquet(cur).count() == emb.count()
    assert n_before < emb.count()

    full = str(tmp_path / "full")
    sim.build_ivf_index(emb, full, n_cells=8)
    got = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    want = sim.ivf_topk_indexed(
        spark, full, 0, n_probe=3, k=5, source=emb
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_delete_from_index_hides_rows_immediately(
    spark, sf_dir, tmp_path
):
    """delete_from_index is tombstone-cost: the vectors layout is
    untouched bytes, yet the deleted id vanishes from indexed reads
    at once (broadcast anti-join). Deleting an absent id is a no-op
    and re-deleting an id does not grow the tombstone table."""
    import glob

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=8)
    before = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    victim = before[0]["vec_id"]
    vec_files = sorted(glob.glob(f"{path}/vectors/**/*.parquet",
                                 recursive=True))
    sim.delete_from_index(spark, path, [victim, 10_000_000])
    assert vec_files == sorted(
        glob.glob(f"{path}/vectors/**/*.parquet", recursive=True)
    )  # no corpus rewrite
    after = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    got = [r["vec_id"] for r in after]
    assert victim not in got
    # survivors keep their relative order; a new 5th fills in
    assert got[:4] == [r["vec_id"] for r in before[1:5]]
    tomb = spark.read.parquet(sim._table_path(path, "tombstones"))
    assert tomb.count() == 2
    sim.delete_from_index(spark, path, [victim])  # idempotent
    assert spark.read.parquet(
        sim._table_path(path, "tombstones")
    ).count() == 2


def test_delete_hidden_from_batch_and_ivfpq_paths(
    spark, sf_dir, tmp_path
):
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=8)
    base = sim.ivf_topk_batch_indexed(
        spark, path, [0, 7], n_probe=3, k=5, source=emb
    ).collect()
    victims = sorted({r["vec_id"] for r in base})[:2]
    sim.delete_from_index(spark, path, victims)
    got = sim.ivf_topk_batch_indexed(
        spark, path, [0, 7], n_probe=3, k=5, source=emb
    ).collect()
    assert not {r["vec_id"] for r in got} & set(victims)
    assert {r["q_id"] for r in got} == {0, 7}
    assert all(
        sum(1 for r in got if r["q_id"] == q) == 5 for q in (0, 7)
    )

    pq = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(
        emb, pq, n_cells=8, n_sub=4, sub_dim=16, n_codes=8
    )
    base = sim.ivfpq_topk_indexed(
        spark, pq, 0, source=emb, n_probe=3, shortlist=20, k=5
    ).collect()
    victim = base[0]["vec_id"]
    sim.delete_from_index(spark, pq, [victim])
    got = sim.ivfpq_topk_indexed(
        spark, pq, 0, source=emb, n_probe=3, shortlist=20, k=5
    ).collect()
    assert victim not in {r["vec_id"] for r in got}
    assert len(got) == 5


def test_compact_applies_and_retires_tombstones(
    spark, sf_dir, tmp_path
):
    """Compaction physically drops tombstoned rows (the rewritten
    generation holds live rows only), retires the tombstones in the
    same manifest commit (the flipped pointer names an empty
    generation), keeps the retiring pair for in-flight readers, and
    unblocks re-adding a previously deleted id."""
    import os

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=8)
    sim.delete_from_index(spark, path, [3, 8, 13])
    pre = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    old_tomb = sim._table_path(path, "tombstones")
    sim.compact_index(spark, path)
    cur = sim._table_path(path, "vectors")
    assert spark.read.parquet(cur).count() == n - 3  # applied
    new_tomb = sim._table_path(path, "tombstones")
    assert new_tomb != old_tomb
    assert not os.path.isdir(new_tomb)  # empty generation
    assert os.path.isdir(old_tomb)  # retained for held readers
    post = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb
    ).collect()
    assert [tuple(r) for r in pre] == [tuple(r) for r in post]
    # the id is re-addable now that the delete is applied
    sim.update_ivf_index(spark, path, emb.filter("vec_id = 3"))
    assert spark.read.parquet(cur).count() == n - 2


@pytest.mark.parametrize("layout", sorted(INDEX_LAYOUTS))
def test_update_rejects_readding_tombstoned_id(
    spark, sf_dir, tmp_path, layout
):
    """An append carrying an id a pending delete tombstoned is refused
    on every layout; a delta without it appends with the tombstones
    still pending. The delta re-ids base vectors, so it stays inside
    the IVF,SQ8 trained range."""
    import pytest as _pytest

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    build, update = _layout(layout)
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / layout)
    build(emb.filter("vec_id < 400"), path, n_cells=8)
    sim.delete_from_index(spark, path, [401])
    delta = emb.filter("vec_id < 100").withColumn(
        "vec_id", F.col("vec_id") + 400
    )
    with _pytest.raises(ValueError, match="tombstoned"):
        update(spark, path, delta)
    # non-intersecting deltas append fine with tombstones pending
    update(spark, path, delta.filter("vec_id <> 401"))
    assert _stored_ids(spark, path) == set(range(500)) - {401}


@pytest.mark.parametrize("layout", sorted(INDEX_LAYOUTS))
def test_rebuild_resets_tombstones(spark, sf_dir, tmp_path, layout):
    """A fresh build over the same path starts a new index lifetime:
    tombstones from the previous life must not hide new rows that
    reuse an id."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    build, _ = _layout(layout)
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / layout)
    build(emb, path, n_cells=8)
    top = sim.ivf_topk_batch_indexed(
        spark, path, [0], n_probe=3, k=5, source=emb
    ).collect()
    victim = top[0]["vec_id"]
    sim.delete_from_index(spark, path, [victim])
    build(emb, path, n_cells=8)
    assert sim._index_rows(spark, path, "tombstones") is None
    again = sim.ivf_topk_batch_indexed(
        spark, path, [0], n_probe=3, k=5, source=emb
    ).collect()
    assert [tuple(r) for r in top] == [tuple(r) for r in again]


@pytest.mark.parametrize("layout", ["pq", "sq8"])
def test_update_ivf_refuses_manifestless_quantized_index(
    spark, sf_dir, tmp_path, layout
):
    """The manifest write is best-effort, so an append must take the
    kind from the layout when the manifest is gone: a plain-IVF append
    to a quantized index is refused, not written as a ``vectors/`` dir
    next to ``codes/`` that no reader reads."""
    import os

    from bigdata_elephant_spark.sources.corpus import read_table

    build, _ = _layout(layout)
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / layout)
    build(emb.filter("vec_id < 400"), path, n_cells=8)
    os.remove(f"{path}/manifest.json")
    kind = "ivfpq" if layout == "pq" else "ivfsq8"
    with pytest.raises(ValueError, match=f"kind='{kind}'"):
        similarity.update_ivf_index(
            spark, path, emb.filter("vec_id >= 400")
        )
    assert not os.path.exists(f"{path}/vectors")
    assert _stored_ids(spark, path) == set(range(400))


def test_mmr_lambda_one_degenerates_to_relevance_topk(emb_df):
    from bigdata_elephant_spark.operators import similarity as sim

    top = sim.cosine_topk(emb_df, 0, k=5).collect()
    mmr = sim.mmr_topk(emb_df, 0, k=5, lam=1.0, shortlist=20).collect()
    assert [r["vec_id"] for r in mmr] == [r["vec_id"] for r in top]
    assert [r["rank"] for r in mmr] == [1, 2, 3, 4, 5]
    # lam=1: mmr_score == relevance
    assert [r["mmr_score"] for r in mmr] == [
        r["cos_sim"] for r in top
    ]


def test_mmr_breaks_near_duplicate_saturation(spark):
    """A query whose relevance top-k is saturated by near-copies of
    one document: plain top-k returns the copies; MMR keeps the best
    copy and spends the other slots on the distinct directions."""
    import numpy as np

    from bigdata_elephant_spark.operators import similarity as sim

    rng = np.random.default_rng(42)
    q = rng.normal(size=16)
    q /= np.linalg.norm(q)
    rows = [(0, [float(x) for x in q])]
    # ids 1-4: jittered near-copies of the query direction
    for i in range(1, 5):
        v = q + 0.01 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    # ids 10-13: distinct directions, mildly similar to q
    for j, i in enumerate(range(10, 14)):
        d = rng.normal(size=16)
        d -= (d @ q) * q  # orthogonalize
        v = 0.6 * q + 0.8 * d / np.linalg.norm(d)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    top = [r["vec_id"] for r in sim.cosine_topk(emb, 0, k=4).collect()]
    assert set(top) == {1, 2, 3, 4}  # saturated by the copies
    mmr = [
        r["vec_id"]
        for r in sim.mmr_topk(
            emb, 0, k=4, lam=0.5, shortlist=8
        ).collect()
    ]
    assert len(set(mmr) & {10, 11, 12, 13}) >= 2  # diversified
    assert mmr[0] in {1, 2, 3, 4}  # best copy still leads


def test_mmr_small_candidate_set_and_empty(spark, emb_df):
    from bigdata_elephant_spark.operators import similarity as sim

    tiny = emb_df.filter("vec_id < 3")
    out = sim.mmr_topk(tiny, 0, k=10, shortlist=20).collect()
    assert [r["rank"] for r in out] == [1, 2]  # only 2 candidates
    none = sim.mmr_topk(
        emb_df.filter("vec_id = 0"), 0, k=5
    ).collect()
    assert none == []


def test_filtered_ann_inline_and_indexed(spark, sf_dir, tmp_path):
    """Filtered search returns only allowed ids, ranks them exactly
    as the unfiltered scorer ranks that subset within the SAME probe
    cells (FAISS IDSelector: the filter never moves the quantizer),
    and the indexed form matches the inline form row-for-row."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    got = sim.ivf_topk(
        emb, 0, n_cells=8, n_probe=3, k=5, allowed=allowed
    ).collect()
    assert len(got) == 5
    assert all(r["vec_id"] % 2 == 0 for r in got)
    # subset consistency: the allowed ids ranked by the unfiltered
    # scorer over the same probe (big k), filtered down, must agree
    big = sim.ivf_topk(emb, 0, n_cells=8, n_probe=3, k=10_000).collect()
    want = [r["vec_id"] for r in big if r["vec_id"] % 2 == 0][:5]
    assert [r["vec_id"] for r in got] == want

    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=8)
    idx = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=3, k=5, source=emb, allowed=allowed
    ).collect()
    assert [tuple(r) for r in idx] == [tuple(r) for r in got]
    # selective filter thins probed cells below k: fewer rows, never
    # an error (the documented n_probe-escalation dial)
    tiny = emb.filter(F.col("vec_id").isin([2, 4])).select("vec_id")
    assert (
        sim.ivf_topk(
            emb, 0, n_cells=8, n_probe=1, k=5, allowed=tiny
        ).count()
        <= 2
    )


def test_delete_everything_compact_then_readd(spark, sf_dir, tmp_path):
    """The empty-index edge: tombstoning EVERY row and compacting
    leaves a generation with no parquet files (a partitioned write
    of zero rows emits none). Queries must return empty typed
    results, a second compaction must no-op, and a re-add must
    revive the index to exactly a fresh build's answers."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings").filter("vec_id < 30")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=4)
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    sim.delete_from_index(spark, path, ids)
    sim.compact_index(spark, path)
    empty = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=2, k=3, source=emb
    )
    assert empty.count() == 0
    assert empty.columns == ["vec_id", "cos_sim"]
    assert (
        sim.ivf_topk_batch_indexed(
            spark, path, [0, 1], n_probe=2, k=3, source=emb
        ).count()
        == 0
    )
    sim.compact_index(spark, path)  # no-op on the empty generation
    sim.update_ivf_index(spark, path, emb)  # revive
    got = sim.ivf_topk_indexed(
        spark, path, 0, n_probe=2, k=3, source=emb
    ).collect()
    full = str(tmp_path / "full")
    sim.build_ivf_index(emb, full, n_cells=4)
    want = sim.ivf_topk_indexed(
        spark, full, 0, n_probe=2, k=3, source=emb
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_mmr_ignores_unrankable_zero_vector(spark):
    from bigdata_elephant_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero norm: NULL cosine, unrankable
        (3, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = sim.mmr_topk(emb, 0, k=4, shortlist=10).collect()
    got = [r["vec_id"] for r in out]
    assert 2 not in got and set(got) == {1, 3}


def test_delete_empty_set_is_a_noop(spark, sf_dir, tmp_path):
    """Deleting nothing must not flip the index into the
    deletes-pending state (which would tax every read with the
    anti-join and every append with the tombstone check)."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings").filter("vec_id < 30")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=4)
    sim.delete_from_index(spark, path, [])
    sim.delete_from_index(spark, path, emb.filter("vec_id > 999").select("vec_id"))
    assert sim._index_rows(spark, path, "tombstones") is None
    # re-deleting only already-tombstoned ids is also append-free
    sim.delete_from_index(spark, path, [3])
    import glob

    d = sim._table_path(path, "tombstones")
    n_files = len(glob.glob(f"{d}/*.parquet"))
    sim.delete_from_index(spark, path, [3])
    assert len(glob.glob(f"{d}/*.parquet")) == n_files


def test_compact_on_empty_generation_retires_tombstones(
    spark, sf_dir, tmp_path
):
    """Deletes filed while the index is empty must still be
    retireable — the update_* ValueError prescribes compact_index,
    so compact_index must work on the empty generation too."""
    import pytest as _pytest

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings").filter("vec_id < 30")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=4)
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    sim.delete_from_index(spark, path, ids)
    sim.compact_index(spark, path)  # applies: generation now empty
    sim.delete_from_index(spark, path, [5])  # pending on empty gen
    with _pytest.raises(ValueError, match="tombstoned"):
        sim.update_ivf_index(spark, path, emb.filter("vec_id = 5"))
    sim.compact_index(spark, path)  # must retire, not no-op
    assert sim._index_rows(spark, path, "tombstones") is None
    sim.update_ivf_index(spark, path, emb.filter("vec_id = 5"))
    assert (
        sim.ivf_topk_indexed(
            spark, path, 5, n_probe=4, k=3, source=emb
        ).count()
        == 0  # only vec 5 lives; it is the query, so no candidates
    )


def test_rebuild_raises_when_manifest_pointer_cannot_reset(
    spark, sf_dir, tmp_path, monkeypatch
):
    """If a rebuild cannot reset a surviving versioned pointer, it
    must raise instead of expiring the generation readers still
    resolve (a populated index silently serving empty results)."""
    import pytest as _pytest

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings").filter("vec_id < 30")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=4)
    sim.compact_index(spark, path)  # pointer -> vectors_v1
    old = sim._table_path(path, "vectors")
    monkeypatch.setattr(
        sim, "write_index_manifest", lambda *a, **kw: None
    )
    with _pytest.raises(OSError, match="manifest pointer"):
        sim.build_ivf_index(emb, path, n_cells=4)
    monkeypatch.undo()
    # the generation the stale pointer names was NOT expired:
    # readers keep working against the old snapshot
    assert (
        sim.ivf_topk_indexed(
            spark, path, 0, n_probe=2, k=3, source=emb
        ).count()
        == 3
    )
    assert sim._table_path(path, "vectors") == old


def test_ivfpq_indexed_allowed_filter(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    pq = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(
        emb, pq, n_cells=8, n_sub=4, sub_dim=16, n_codes=8
    )
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    got = sim.ivfpq_topk_indexed(
        spark, pq, 0, source=emb, n_probe=3, shortlist=20, k=5,
        allowed=allowed,
    ).collect()
    assert len(got) == 5
    assert all(r["vec_id"] % 2 == 0 for r in got)
    # unfiltered result over the same layout differs (odd ids exist)
    base = sim.ivfpq_topk_indexed(
        spark, pq, 0, source=emb, n_probe=3, shortlist=20, k=5
    ).collect()
    assert any(r["vec_id"] % 2 == 1 for r in base)


def test_delete_equals_allowed_complement(spark, sf_dir, tmp_path):
    """Metamorphic identity tying the two candidate-restriction
    mechanisms together: querying an index with ids D tombstoned
    must equal querying the SAME (un-deleted) index with
    allowed = all-ids-minus-D — both restrict candidates under
    frozen probe geometry, one persistently, one per-query."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sim.build_ivf_index(emb, a, n_cells=8)
    sim.build_ivf_index(emb, b, n_cells=8)
    dele = emb.filter(F.col("vec_id") % 3 == 1).select("vec_id")
    live = emb.filter(F.col("vec_id") % 3 != 1).select("vec_id")
    sim.delete_from_index(spark, a, dele)
    got = sim.ivf_topk_indexed(
        spark, a, 0, n_probe=3, k=7, source=emb
    ).collect()
    want = sim.ivf_topk_indexed(
        spark, b, 0, n_probe=3, k=7, source=emb, allowed=live
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # and the identity survives physical application
    sim.compact_index(spark, a)
    after = sim.ivf_topk_indexed(
        spark, a, 0, n_probe=3, k=7, source=emb
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in want]


# ------------------------------------------------- SQ8 scalar quantizer


def test_sq8_codes_in_range_and_extremes(spark, sf_dir):
    """Every code lands in [0, 255]; each dimension's corpus min
    encodes to 0 and its max to 255 (the range endpoints are exactly
    representable by construction)."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    stats = sim.sq8_stats(emb, sim._vec_dim(emb, "embedding"))
    codes = sim.sq8_encode(emb, stats)
    rng = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert rng["lo"] == 0 and rng["hi"] == 255
    per_dim = codes.select(
        F.posexplode("codes").alias("d", "c")
    ).groupBy("d").agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    bad = per_dim.filter(
        (F.col("lo") != 0) | (F.col("hi") != 255)
    ).count()
    assert bad == 0  # every dim uses its full range endpoints


def test_sq8_constant_dimension_roundtrip(spark):
    """A constant dimension has step 0: encode must not divide by
    zero (Spark 4 ANSI raises) and decode returns the constant
    exactly."""
    from bigdata_elephant_spark.operators import similarity as sim

    rows = [(i, [float(i), 7.5]) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
    ).repartition(2)
    stats = sim.sq8_stats(emb, 2)
    codes = sim.sq8_encode(emb, stats)
    recon = codes.crossJoin(F.broadcast(stats)).select(
        "vec_id", sim._sq8_recon(F.col("codes")).alias("rv")
    ).collect()
    for r in recon:
        assert r["rv"][1] == 7.5  # constant dim reconstructs exactly


def test_sq8_topk_close_to_exact(spark, sf_dir):
    """8-bit quantization barely moves cosine ranks: the SQ8 top-10
    overlaps the exact top-10 in >=8 ids and similarity deltas are
    < 5e-3 on matching ids (testdata embeddings are near-orthogonal,
    so cosines are small and the relative wobble larger)."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    approx = {r["vec_id"]: r["sq8_sim"]
              for r in sim.sq8_topk(emb, 0, k=10).collect()}
    exact = {r["vec_id"]: r["cos_sim"]
             for r in sim.cosine_topk(emb, 0, k=10).collect()}
    shared = set(approx) & set(exact)
    assert len(shared) >= 8
    assert all(abs(approx[v] - exact[v]) < 5e-3 for v in shared)


def test_sq8_report_bounds_error(spark, sf_dir):
    """The per-label audit is consistent: max >= avg >= 0 per label,
    counts sum to the corpus, and the worst-case error respects the
    analytic bound sum_d (step_d/2)^2 (each dim off by at most half
    a step, plus rounding slack)."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    rep = sim.sq8_reconstruction_report(emb).collect()
    assert sum(r["n_vecs"] for r in rep) == emb.count()
    for r in rep:
        assert 0.0 <= r["avg_err2"] <= r["max_err2"]
    stats = sim.sq8_stats(emb, sim._vec_dim(emb, "embedding"))
    steps = stats.collect()[0]["vstep"]
    bound = sum((s / 2.0) * (s / 2.0) for s in steps) + 1e-6
    assert all(r["max_err2"] <= bound for r in rep)


def test_ivf_sq8_full_probe_equals_flat_sq8(spark, sf_dir):
    """Probing every cell makes IVF,SQ8 exactly the flat SQ8 scan
    (same identity test_ivf_full_probe_equals_exact pins for the
    exact path): pruning must restrict candidates and change nothing
    else. A reduced probe stays a subset of the flat ranking's
    universe (every returned id belongs to a probed cell)."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    flat = sim.sq8_topk(emb, 0, k=7).collect()
    full = sim.ivf_sq8_topk(
        emb, 0, n_cells=8, n_probe=8, k=7
    ).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in flat]
    pruned = sim.ivf_sq8_topk(emb, 0, n_cells=8, n_probe=2, k=7)
    flat_sims = {r["vec_id"]: r["sq8_sim"]
                 for r in sim.sq8_topk(emb, 0, k=10**6).collect()}
    for r in pruned.collect():
        # pruning never changes a candidate's score, only membership
        assert flat_sims[r["vec_id"]] == r["sq8_sim"]


def test_sq8_zero_reconstruction_guard(spark):
    """A NONZERO vector whose components all sit within half a
    quantization step of the grid zero reconstructs to exactly
    [0,...,0]; scoring must drop it (no defined cosine) instead of
    raising Spark 4's ANSI DIVIDE_BY_ZERO — the adversarial-review
    repro for the mmr_topk crash class."""
    from bigdata_elephant_spark.operators import similarity as sim

    rows = [(0, [1.0, 2.0]), (1, [-128.0, -128.0]),
            (2, [127.0, 127.0]), (3, [0.3, 0.3])]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = sim.sq8_topk(emb, 0, k=10).collect()  # must not raise
    assert 3 not in {r["vec_id"] for r in got}  # zero-recon dropped
    assert {r["vec_id"] for r in got} == {1, 2}
    ivf = sim.ivf_sq8_topk(emb, 0, n_cells=2, n_probe=2, k=10).collect()
    assert 3 not in {r["vec_id"] for r in ivf}


def test_sq8_empty_input_typed_empty(spark):
    """Empty embeddings: all three SQ8 entry points return typed
    empty frames (the d74e2ff convention), never a TypeError from
    range(None)."""
    from bigdata_elephant_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert sim.sq8_topk(emb, 0).collect() == []
    assert sim.ivf_sq8_topk(emb, 0).collect() == []
    rep = sim.sq8_reconstruction_report(emb)
    assert rep.collect() == []
    assert rep.columns == ["label", "n_vecs", "avg_err2", "max_err2"]


def test_sq8_encode_matches_numpy_reference(spark):
    """sq8_stats/sq8_encode against an independent NumPy float64
    replica of the same IEEE expression tree (min/max per dim,
    step=(mx-mn)/255, clamp(floor((x-mn)/step+0.5)))."""
    import numpy as np

    from bigdata_elephant_spark.operators import similarity as sim

    rng = np.random.default_rng(42)
    m = rng.normal(scale=3.0, size=(40, 5)).astype(np.float32)
    m[:, 3] = 1.25  # constant dimension
    rows = [(i, [float(x) for x in m[i]]) for i in range(len(m))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(4)
    stats = sim.sq8_stats(emb, 5)
    codes = {
        r["vec_id"]: r["codes"]
        for r in sim.sq8_encode(emb, stats).collect()
    }
    md = m.astype(np.float64)
    mn, mx = md.min(axis=0), md.max(axis=0)
    step = (mx - mn) / 255.0
    for i in range(len(m)):
        for d in range(5):
            if step[d] == 0.0:
                want = 0
            else:
                want = int(
                    min(
                        max(np.floor((md[i, d] - mn[d]) / step[d] + 0.5), 0),
                        255,
                    )
                )
            assert codes[i][d] == want, (i, d, codes[i][d], want)


def test_ivfsq8_indexed_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """The materialized IVF,SQ8 layout returns the inline scorer's
    rows exactly, and its codes scan is statically partition-pruned
    to the probed cells."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfsq8")
    sim.build_ivfsq8_index(emb, path, n_cells=8)
    inline = sim.ivf_sq8_topk(
        emb, 0, n_cells=8, n_probe=3, k=5
    ).collect()
    indexed_df = sim.ivfsq8_topk_indexed(
        spark, path, 0, source=emb, n_probe=3, k=5
    )
    assert [tuple(r) for r in indexed_df.collect()] == [
        tuple(r) for r in inline
    ]
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any(
        "cell_id" in ln and " in " in ln.lower() for ln in scan_lines
    ), f"no partition filter on cell_id:\n{plan[:2000]}"


def test_ivfsq8_delete_and_compact_lifecycle(spark, sf_dir, tmp_path):
    """Tombstone deletes hide rows immediately on the SQ8 layout,
    compaction applies them physically (codes/ generation flip), and
    results are unchanged across the flip."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfsq8")
    sim.build_ivfsq8_index(emb, path, n_cells=8)
    before = sim.ivfsq8_topk_indexed(
        spark, path, 0, source=emb, n_probe=8, k=3
    ).collect()
    victims = [r["vec_id"] for r in before]
    sim.delete_from_index(spark, path, victims)
    after = sim.ivfsq8_topk_indexed(
        spark, path, 0, source=emb, n_probe=8, k=3
    ).collect()
    assert not ({r["vec_id"] for r in after} & set(victims))
    sim.compact_index(spark, path)
    compacted = sim.ivfsq8_topk_indexed(
        spark, path, 0, source=emb, n_probe=8, k=3
    ).collect()
    assert [tuple(r) for r in compacted] == [tuple(r) for r in after]


def test_ivfsq8_build_rejects_empty(spark):
    from bigdata_elephant_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty"):
        sim.build_ivfsq8_index(emb, "/tmp/never-written-ivfsq8")


def test_hard_negatives_exclude_same_label_and_rank(spark):
    from bigdata_elephant_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0], 0),   # anchor
        (1, [0.99, 0.14], 0), # same label, closest — must NOT appear
        (2, [0.9, 0.44], 1),  # hardest negative
        (3, [0.0, 1.0], 1),   # orthogonal negative
        (4, [-1.0, 0.0], 2),  # opposite negative
        (5, [0.0, 0.0], 1),   # zero-norm: filtered, no ANSI crash
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = emb.filter("vec_id = 0")
    got = hard_negative_topk(emb, anchors, k=2).collect()
    assert [(r["vec_id"], r["label"]) for r in got] == [(2, 1), (3, 1)]
    assert all(r["q_id"] == 0 for r in got)
    # widen k: the same-label vector and the zero-norm vector never
    # surface, even when k exceeds the negative pool
    all_out = hard_negative_topk(emb, anchors, k=10).collect()
    assert {r["vec_id"] for r in all_out} == {2, 3, 4}


def test_hard_negatives_zero_norm_anchor_dropped(spark):
    from bigdata_elephant_spark.operators.similarity import (
        hard_negative_topk,
    )

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    assert (
        hard_negative_topk(emb, emb.filter("vec_id = 0"), k=3).count()
        == 0
    )


def test_ivfsq8_inrange_append_equals_full_build(
    spark, sf_dir, tmp_path
):
    """build_ivfsq8_index on base + update_ivfsq8_index(delta) must
    answer queries exactly like one build over base+delta WHEN the
    delta lies inside the trained range (the registry's
    knn_ivf_sq8_incremental construction: the delta excludes every
    per-dimension extreme carrier, so a rebuild's stats equal the
    frozen ones and the frozen re-encode is lossless)."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.plans.llm_queries import (
        _sq8_range_interior_split,
    )
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    base, delta = _sq8_range_interior_split(emb)
    assert delta.count() > 0  # the demo split must exercise the append

    inc_path = str(tmp_path / "inc")
    sim.build_ivfsq8_index(base, inc_path, n_cells=8)
    sim.update_ivfsq8_index(spark, inc_path, delta)
    full_path = str(tmp_path / "full")
    sim.build_ivfsq8_index(emb, full_path, n_cells=8)

    inc_codes = spark.read.parquet(f"{inc_path}/codes")
    assert inc_codes.count() == emb.count()  # nothing lost/duplicated
    a = sorted(
        (r["vec_id"], r["cell_id"], tuple(r["codes"]))
        for r in inc_codes.collect()
    )
    b = sorted(
        (r["vec_id"], r["cell_id"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{full_path}/codes").collect()
    )
    assert a == b  # frozen-stats codes == rebuild codes, cell-exact

    q_inc = sim.ivfsq8_topk_indexed(
        spark, inc_path, 0, source=emb, n_probe=3, k=5
    ).collect()
    q_full = sim.ivfsq8_topk_indexed(
        spark, full_path, 0, source=emb, n_probe=3, k=5
    ).collect()
    assert [tuple(r) for r in q_inc] == [tuple(r) for r in q_full]


def test_ivfsq8_append_refuses_range_overflow(spark, tmp_path):
    """An SQ8 append whose delta has any component outside the
    trained [vmin, vmax] must refuse loudly (a clamped code would
    silently mis-encode); the refused delta must leave the codes
    table untouched. Constant dimensions refuse any differing value
    (their trained range is a single point)."""
    import pytest

    from bigdata_elephant_spark.operators import similarity as sim

    rows = [
        (i, [float(i % 5), 1.0 + 0.1 * i, 2.0]) for i in range(20)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "sq8")
    sim.build_ivfsq8_index(emb, path, n_cells=4)
    before = spark.read.parquet(f"{path}/codes").count()

    over = spark.createDataFrame(
        [(100, [0.0, 99.0, 2.0])],  # dim 1 above trained max
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="outside the SQ8 range"):
        sim.update_ivfsq8_index(spark, path, over)

    const_drift = spark.createDataFrame(
        [(101, [0.0, 1.5, 2.5])],  # dim 2 is constant in the base
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="outside the SQ8 range"):
        sim.update_ivfsq8_index(spark, path, const_drift)

    assert spark.read.parquet(f"{path}/codes").count() == before

    ok = spark.createDataFrame(
        [(102, [2.0, 1.95, 2.0])],  # inside every trained range
        "vec_id long, embedding array<float>",
    )
    sim.update_ivfsq8_index(spark, path, ok)
    assert (
        spark.read.parquet(f"{path}/codes").count() == before + 1
    )


def test_novelty_empty_base_admits_everything(spark, emb_df):
    """Bootstrap ingest: an EMPTY base (or a base that is entirely
    zero-norm) must not swallow the batch — every non-zero-norm
    delta vector gets a row with nn_sim null and admit=true (a
    maximally novel vector is the one you most want to ingest)."""
    delta = emb_df.limit(5)
    empty = emb_df.filter(F.lit(False))
    got = similarity.embedding_novelty_admission(empty, delta).collect()
    assert len(got) == 5
    assert all(r.nn_sim is None and r.admit for r in got)

    zero_base = spark.createDataFrame(
        [(1000, [0.0] * DIM)], "vec_id long, embedding array<float>"
    )
    got2 = similarity.embedding_novelty_admission(
        zero_base, delta
    ).collect()
    assert len(got2) == 5
    assert all(r.nn_sim is None and r.admit for r in got2)

    # zero-norm DELTA vectors still drop (cosine undefined)
    zdelta = delta.union(zero_base)
    got3 = similarity.embedding_novelty_admission(
        emb_df, zdelta
    ).collect()
    assert sorted(r.vec_id for r in got3) == sorted(
        r.vec_id for r in delta.collect()
    )
    assert all(r.nn_sim is not None for r in got3)


def test_novelty_indexed_reingest_scores_own_row(
    spark, emb_df, tmp_path
):
    """Re-ingest semantics (r10 ADVICE): unlike the kNN retrievers,
    the indexed novelty gate has NO self-id exclusion — a delta
    vector arriving under an id already in the index scores against
    its own index row (nn_sim 1.0 → reject), exactly like the exact
    gate, which never looks at ids at all."""
    path = str(tmp_path / "nov_ivf")
    similarity.build_ivf_index(emb_df, path, n_cells=4)
    reingest = emb_df.limit(3)  # ids + vectors already indexed

    idx = {
        r.vec_id: r
        for r in similarity.embedding_novelty_indexed(
            spark, path, reingest, threshold=0.9, n_probe=4
        ).collect()
    }
    exact = {
        r.vec_id: r
        for r in similarity.embedding_novelty_admission(
            emb_df, reingest, threshold=0.9
        ).collect()
    }
    assert set(idx) == set(exact) and len(idx) == 3
    for vid, r in idx.items():
        assert r.nn_sim == 1.0 and not r.admit
        assert (exact[vid].nn_sim, exact[vid].admit) == (
            r.nn_sim, r.admit
        )


def test_power_iteration_matches_numpy(spark, emb_df, vectors):
    """Fixed-iteration power method over the exact Gram matrix lands
    on numpy's top eigenvector (up to sign and the per-iterate
    rounding) with a matching Rayleigh eigenvalue."""
    import itertools

    v64 = vectors.astype(np.float64).round(7)
    G = (v64.T @ v64).round(6)
    rows = [
        (i, j, float(G[i, j]))
        for i, j in itertools.combinations_with_replacement(
            range(DIM), 2
        )
    ]
    gram = spark.createDataFrame(rows, "i int, j int, gram double")
    # 40 iterations: the random 8-dim Gram has a small eigengap
    # and convergence is (lam2/lam1)^t — the registered query's 8
    # iterations pin DETERMINISM (oracle-exact at any count); this
    # test pins MATH, so run enough rounds to converge
    got = similarity.power_iteration_top_eigvec(
        gram, dim=DIM, iters=40
    ).collect()
    v_hat = np.array([r.v for r in sorted(got, key=lambda r: r.i)])
    lam_hat = got[0].eigval

    w, V = np.linalg.eigh(G)
    v_true, lam_true = V[:, -1], w[-1]
    cos = abs(float(v_hat @ v_true))  # sign-invariant
    assert cos > 0.999, (cos, v_hat, v_true)
    assert abs(lam_hat - lam_true) / lam_true < 0.01
    assert abs(float(v_hat @ v_hat) - 1.0) < 1e-3  # unit norm


def test_pca2_projection_matches_numpy(spark, emb_df, vectors):
    """pca2_projection lands on numpy's top-2 PCA coordinates up to
    per-component sign (40 iterations for convergence; the shipped
    query's 8 pin determinism, this pins math)."""
    import itertools

    v64 = vectors.astype(np.float64).round(7)
    G = (v64.T @ v64).round(6)
    rows = [
        (i, j, float(G[i, j]))
        for i, j in itertools.combinations_with_replacement(
            range(DIM), 2
        )
    ]
    gram = spark.createDataFrame(rows, "i int, j int, gram double")
    got = similarity.pca2_projection(
        gram, emb_df, dim=DIM, iters=40
    ).collect()
    P = np.array([[r.pc1, r.pc2] for r in sorted(got, key=lambda r: r.vec_id)])

    w, V = np.linalg.eigh(G)
    ref = v64 @ V[:, [-1, -2]]
    for k in range(2):
        cos = abs(float(P[:, k] @ ref[:, k])) / (
            np.linalg.norm(P[:, k]) * np.linalg.norm(ref[:, k])
        )
        assert cos > 0.995, (k, cos)


def test_builders_gate_out_of_contract_vectors(spark, tmp_path):
    """r14: the artifact builders enforce the r13 finite-floats
    ingest contract themselves (quarantine is production-default,
    not opt-in): NaN / Inf / zero / wrong-dim / NULL vectors never
    reach the persisted layout, and the manifest dim is the first
    row's length."""
    from bigdata_elephant_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    good = {
        i: [float(x) for x in rng.normal(size=4).astype(np.float32)]
        for i in range(20)
    }
    rows = [(i, v) for i, v in good.items()] + [
        (100, [float("nan"), 1.0, 1.0, 1.0]),
        (101, [float("inf"), 1.0, 1.0, 1.0]),
        (102, [0.0, 0.0, 0.0, 0.0]),
        (103, [1.0, 2.0]),  # wrong dim vs first row's 4
        (104, None),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "gated_ivf")
    sim.build_ivf_index(emb, path, n_cells=2)
    stored = {
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/vectors").collect()
    }
    assert stored == set(good)
    assert sim.read_index_manifest(path)["dim"] == 4
    # same contract on the quantizing builders
    p2 = str(tmp_path / "gated_sq8")
    sim.build_ivfsq8_index(emb, p2, n_cells=2)
    codes = {
        r["vec_id"] for r in spark.read.parquet(f"{p2}/codes").collect()
    }
    assert codes == set(good)
    p3 = str(tmp_path / "gated_pq")
    sim.build_ivfpq_index(
        emb, p3, n_cells=2, n_sub=2, sub_dim=2, n_codes=4
    )
    pq = {
        r["vec_id"] for r in spark.read.parquet(f"{p3}/codes").collect()
    }
    assert pq == set(good)


@pytest.mark.parametrize("layout", sorted(INDEX_LAYOUTS))
def test_updates_gate_delta_but_keep_dim_raise(spark, tmp_path, layout):
    """Day-2 twin (r14): the append paths drop NULL/NaN/zero delta
    vectors (silent poison classes) while the wrong-dim raise guard
    still fails loudly — dead-letter for corpus quality, assertion
    for caller bugs. The in-contract delta vector repeats a base one,
    so it stays inside the IVF,SQ8 trained range."""
    from pyspark.errors import SparkRuntimeException
    from bigdata_elephant_spark.operators import similarity as sim

    build, update = _layout(layout)
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=4).astype(np.float32)])
        for i in range(20)
    ]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / layout)
    build(base, path, n_cells=2)
    delta = spark.createDataFrame(
        [
            (50, rows[3][1]),                      # in contract
            (51, [float("nan"), 1.0, 1.0, 1.0]),   # dropped
            (52, [0.0, 0.0, 0.0, 0.0]),            # dropped
            (53, None),                            # dropped
        ],
        "vec_id long, embedding array<float>",
    )
    update(spark, path, delta)
    assert _stored_ids(spark, path) == set(range(20)) | {50}
    # wrong-dim (finite) still raises via the in-plan guard
    bad = spark.createDataFrame(
        [(60, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(SparkRuntimeException, match="components"):
        update(spark, path, bad)


@pytest.mark.parametrize("layout", ["ivf", "sq8"])
def test_writes_keep_every_row_of_a_repeated_id(spark, tmp_path, layout):
    """A build input or an append delta that repeats an id with two
    different vectors stores both rows: the write path joins the rows
    to their cells (``_joined_assignment``) instead of collapsing them
    by id. The repeated vectors are base ones, so they stay inside the
    IVF,SQ8 trained range."""
    from bigdata_elephant_spark.operators import similarity as sim

    build, update = _layout(layout)
    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=4).astype(np.float32)])
        for i in range(20)
    ]
    schema = "vec_id long, embedding array<float>"
    path = str(tmp_path / layout)
    build(spark.createDataFrame(rows + [(7, rows[2][1])], schema), path,
          n_cells=2)
    update(spark, path, spark.createDataFrame(
        [(50, rows[3][1]), (50, rows[4][1])], schema
    ))
    table = sim._LAYOUTS[sim.index_kind(path)][0]
    stored = spark.read.parquet(sim._table_path(path, table)).collect()
    assert len(stored) == 23
    col = "embedding" if layout == "ivf" else "codes"
    for i in (7, 50):
        assert len({tuple(r[col]) for r in stored if r["vec_id"] == i}) == 2


def test_builder_gate_survives_corrupt_first_row(spark, tmp_path):
    """r14 review finding: the dim probe must not read the RAW
    first row — a wrong-dim leading row would otherwise pin
    expected_dim to the corrupt value and quarantine the whole
    in-contract corpus (gate inversion), and a NULL first vector
    would crash the int() cast. dim comes from the first row that
    already passed the dim-free classes."""
    from bigdata_elephant_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    good = {
        i + 100: [float(x) for x in rng.normal(size=4).astype(np.float32)]
        for i in range(12)
    }
    # corrupt rows FIRST in physical order: null, then wrong-dim
    rows = [(0, None), (1, [1.0, 2.0])] + sorted(good.items())
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)  # one partition => deterministic physical order
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=2)
    stored = {
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/vectors").collect()
    }
    assert stored == set(good)
    assert sim.read_index_manifest(path)["dim"] == 4


def test_sq8_build_raises_on_fully_out_of_contract_corpus(spark, tmp_path):
    """Companion finding: a nonempty input whose every row is out of
    contract must hit the loud empty-corpus error, not silently
    persist an SQ8 index trained on zero rows."""
    from bigdata_elephant_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]),
         (1, [float("nan"), 1.0, 1.0, 1.0]),
         (2, None)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="empty"):
        sim.build_ivfsq8_index(
            emb, str(tmp_path / "sq8"), n_cells=2
        )


def test_counts_rejected_at_entry(spark, sf_dir, tmp_path, count_jobs):
    """An out-of-range ``k`` (below 0), ``n_probe`` or ``shortlist``
    (below 1) raises ``ValueError`` at every IVF-family entry, also
    where the answer would be empty — an absent query id, an empty
    input — before any index file is read (the quantized readers get
    a path that does not exist) and before an inline query trains
    anything: a refused call runs no Spark job."""
    from bigdata_elephant_spark.operators import similarity as sim
    from bigdata_elephant_spark.sources.corpus import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, idx, n_cells=4)
    nowhere = str(tmp_path / "nowhere")
    for name, call in [
        ("k", lambda: sim.ivf_topk_indexed(spark, idx, 99999, k=-1)),
        ("k", lambda: sim.ivf_topk_indexed(spark, idx, 0, k=-1)),
        ("n_probe", lambda: sim.ivf_topk_indexed(spark, idx, 99999, n_probe=0)),
        ("k", lambda: sim.ivf_topk_batch_indexed(spark, idx, [], k=-1)),
        ("k", lambda: sim.ivfpq_topk_indexed(spark, nowhere, 0, emb, k=-1)),
        ("shortlist", lambda: sim.ivfpq_topk_indexed(
            spark, nowhere, 0, emb, shortlist=0)),
        ("k", lambda: sim.ivfsq8_topk_indexed(spark, nowhere, 0, emb, k=-1)),
        ("n_probe", lambda: sim.ivfsq8_topk_indexed(
            spark, nowhere, 0, emb, n_probe=0)),
        ("k", lambda: sim.sq8_topk(emb.limit(0), 3, k=-1)),
        ("n_probe", lambda: sim.ivf_sq8_topk(emb, 3, n_cells=4, n_probe=0)),
        ("k", lambda: sim.ivf_sq8_topk(emb, 3, n_cells=4, k=-1)),
        ("n_probe", lambda: sim.ivf_topk(emb, 3, n_cells=4, n_probe=0)),
        ("k", lambda: sim.ivf_topk_batch(emb, [3], n_cells=4, k=-1)),
        ("n_probe", lambda: sim.ivfpq_topk_batch(
            emb, [3], n_cells=4, n_probe=0)),
        ("shortlist", lambda: sim.ivfpq_topk(
            emb, 3, n_cells=4, shortlist=0)),
        ("n_probe", lambda: sim.embedding_novelty_indexed(
            spark, nowhere, emb, n_probe=0)),
    ]:

        def refused():
            with pytest.raises(ValueError, match=f"{name} must be >= "):
                call()

        assert count_jobs(refused) == 0, name
    assert sim.ivf_topk_indexed(spark, idx, 99999, k=0).collect() == []

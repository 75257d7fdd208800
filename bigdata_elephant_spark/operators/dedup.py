"""Deduplication operators for large-scale text pipelines.

Four tiers, all pure DataFrame expressions (no Python UDFs — every
hash is the engine-portable md5-based ``h32`` so the DuckDB oracle
can recompute identical values):

- :func:`exact_dedup` — hash-groupBy on normalized text. One shuffle
  on a 32-hex key; at 100 TB this is the cheapest first pass.
- :func:`minhash_signatures` / :func:`lsh_candidate_pairs` — MinHash
  + banded LSH. Cost is linear in corpus size (explode shingles ->
  partial-aggregated min per permutation); the quadratic step only
  happens *within* LSH buckets. Banding (b bands of r rows, catch
  threshold ~ (1/b)^(1/r)) bounds buckets of *near*-duplicates, but
  NOT identical-signature clusters: on web corpora, exact duplicates
  form 10^5–10^7-copy clusters with identical signatures, one bucket
  per band, and the all-pairs self-join materializes O(cluster²)
  rows on one skewed shuffle key. :func:`lsh_candidate_pairs` is
  therefore the *verifier/report* API (explicit pair list);
  :func:`lsh_candidate_edges` is the scale path — it collapses
  identical-signature clusters to star edges (O(cluster) rows) and
  yields the SAME connected components under any ``est_sim``
  threshold, because ``est_sim`` is a pure function of the two
  signatures. :func:`exact_dedup_map` is the cheaper text-level
  pre-collapse composed in front of MinHash by ``curate_pipeline``.
- :func:`simhash_signatures` — 32-bit SimHash per doc (linear; pairs
  can then be found by banding the signature bits).
- :func:`ngram_jaccard_pairs` — *exact* shingle-set Jaccard via a
  shingle self-join. Quadratic in docs-per-shingle; used as the
  verifier behind LSH candidates, not as the scale path.

Shingling uses higher-order array functions (``transform`` over
``sequence`` + ``get``) — whole-stage codegen, no UDF.

The wide expressions (the shingle lambda, the ``n_hashes`` MinHash
aggregates, the band structs, the signature projections and the
``est_sim`` match sum) are built as Spark SQL text: one parse per
expression instead of a py4j call per expression node, which is what
planning a MinHash/LSH pass used to spend most of its time on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_elephant_spark.functions.hashing import (
    h32,
    h32_fast_sql,
    h32_sql,
    minhash_coeffs,
    perm_hash_sql,
)
from bigdata_elephant_spark.functions.text import sql_col, tokens_array

N_MINHASH = 16
N_BANDS = 4  # 4 bands x 4 rows: candidate threshold ~ (1/4)^(1/4) ~ 0.71
SIMHASH_BITS = 32
# Word-shingle width shared by every MinHash consumer. Documents
# with fewer tokens have NO shingles, hence no signature — anything
# claiming equivalence with signature-based mining (e.g.
# curate_pipeline's exact pre-collapse) must gate its domain on this
# same constant, not a private literal.
DEFAULT_SHINGLE_N = 3


def shingles_array(arr: str, n: int = DEFAULT_SHINGLE_N) -> Column:
    """Word n-gram shingles of the token-array column named ``arr``
    (empty if < n tokens)."""
    a = sql_col(arr)
    words = ", ".join(f"get({a}, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size({a}) >= {n} THEN transform("
        f"sequence(0, size({a}) - {n}), i -> concat_ws(' ', {words})) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE_N,
    distinct: bool = False,
) -> DataFrame:
    """Explode a corpus into ``(id_col, shingle)`` rows.

    The token array is projected into its own column before the
    shingle ``transform`` runs: each ``get(toks, i+j)`` inside the
    lambda must reference a computed attribute, not the tokenize
    expression tree — inlining it re-runs the regex/split per shingle
    position (measured 25x slower at sf0.1).
    """
    toks = df.select(id_col, tokens_array(text_col).alias("__toks"))
    sh = toks.select(
        id_col,
        F.explode(shingles_array("__toks", n)).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


# ------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by normalized-text hash.

    Returns ``(text_hash, canonical_doc_id, n_dups)`` — one row per
    distinct normalized text, canonical = min id. Keep-one filtering
    is then ``semi-join on (text_hash, canonical_doc_id)``.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.md5(norm).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def exact_dedup_map(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document exact-duplicate mapping ``(id_col,
    canonical_doc_id)`` — canonical = min id among documents with
    identical normalized text (every doc gets a row; unique docs map
    to themselves).

    The row-level companion of :func:`exact_dedup` (which aggregates
    to one row per distinct text) and the pre-collapse front of the
    curation chain: only canonical representatives need MinHash
    signatures — members of an exact-duplicate cluster attach by star
    edges ``(canonical, member)`` instead of flowing through shingle
    explode + signature aggregation (linear but expensive per-doc
    work: hundreds of shingle rows per copy, all producing the same
    signature).

    One shuffle, on the 32-hex text hash. A mega-cluster lands in one
    window partition, but its rows are (hash, id) pairs — ~50 bytes
    each, so 10^6 copies is ~50 MB, spillable — versus the O(copies²)
    pair rows the downstream all-pairs join would otherwise emit.
    """
    from pyspark.sql.window import Window

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    hashed = df.select(F.col(id_col), F.md5(norm).alias("__th"))
    w = Window.partitionBy("__th")
    return hashed.select(
        id_col, F.min(id_col).over(w).alias("canonical_doc_id")
    )


# ----------------------------------------------------------- minhash

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    shingle_n: int = DEFAULT_SHINGLE_N,
    seed: int = 42,
    fast_hash: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature columns ``m0..m{n-1}``.

    Docs with fewer than ``shingle_n`` tokens have no shingles and
    drop out (they can't near-duplicate anything at this shingle
    size). The min-per-permutation aggregation is partially applied
    map-side by Catalyst, so the shuffle carries one row per doc.

    ``fast_hash=True`` swaps the engine-portable md5-derived shingle
    hash for xxhash64 (~5x cheaper; not oracle-replayable — use in
    production pipelines, keep the default when verifying).
    """
    sh = doc_shingles(df, text_col, id_col, n=shingle_n)
    hfn = h32_fast_sql if fast_hash else h32_sql
    hashed = sh.selectExpr(sql_col(id_col), f"{hfn('shingle')} AS h")
    aggs = [
        F.expr(f"min({perm_hash_sql('h', a, b)}) AS m{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes, seed))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _band_explode(
    sigs: DataFrame, id_col: str, n_hashes: int, n_bands: int
) -> DataFrame:
    """``(id_col, band, bkey)`` — one row per (doc, band); the bucket
    key concatenates that band's signature rows."""
    rows = n_hashes // n_bands
    structs = ", ".join(
        f"named_struct('band', {b}, 'bkey', concat_ws(',', "
        + ", ".join(
            f"CAST(m{b * rows + r} AS STRING)" for r in range(rows)
        )
        + "))"
        for b in range(n_bands)
    )
    i = sql_col(id_col)
    return sigs.selectExpr(i, f"explode(array({structs})) AS bb").selectExpr(
        i, "bb.band AS band", "bb.bkey AS bkey"
    )


def _bucket_pairs(
    bands_a: DataFrame,
    bands_b: DataFrame,
    id_col: str,
    a: str,
    b: str,
    ordered: bool,
) -> DataFrame:
    """Distinct ``(a, b)`` id pairs sharing a band bucket of the two
    :func:`_band_explode` frames; ``ordered`` keeps ``a < b`` only
    (a self-join)."""
    i = sql_col(id_col)
    pairs = bands_a.selectExpr(f"{i} AS {a}", "band", "bkey").join(
        bands_b.selectExpr(f"{i} AS {b}", "band", "bkey"), ["band", "bkey"]
    )
    if ordered:
        pairs = pairs.filter(F.col(a) < F.col(b))
    return pairs.select(a, b).distinct()


def _scored_pairs(
    pairs: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    id_col: str,
    a: str,
    b: str,
    n_hashes: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(a, b, *carry, est_sim)``: each id pair joined to both sides'
    signatures, ``est_sim`` = the fraction of the ``n_hashes``
    minhashes that agree, rounded to 6 places. ``carry`` names
    ``sigs_b`` columns passed through. The divisor is a double cast:
    a bare ``16.0`` in Spark SQL is a decimal."""
    i = sql_col(id_col)
    sa = sigs_a.selectExpr(
        f"{i} AS {a}", *[f"m{k} AS a{k}" for k in range(n_hashes)]
    )
    sb = sigs_b.selectExpr(
        f"{i} AS {b}", *carry, *[f"m{k} AS b{k}" for k in range(n_hashes)]
    )
    matches = " + ".join(
        f"CASE WHEN a{k} = b{k} THEN 1 ELSE 0 END" for k in range(n_hashes)
    )
    est = f"round(({matches}) / CAST({n_hashes} AS DOUBLE), 6) AS est_sim"
    return pairs.join(sa, a).join(sb, b).selectExpr(a, b, *carry, est)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    materialize: bool = True,
) -> DataFrame:
    """Banded-LSH candidate pairs with estimated similarity.

    Bucket key = the concatenated rows of one band; docs sharing any
    band bucket become a candidate pair. Output:
    ``(doc_a, doc_b, est_sim)`` where ``est_sim`` = fraction of
    matching minhashes (an unbiased Jaccard estimate).

    ``sigs`` feeds three plan branches (band explode + both sides of
    the est_sim join). With ``materialize`` (default) it is persisted
    so the upstream shingle/minhash pipeline runs once — signatures
    are tiny (one row of n_hashes longs per doc; ~1 TB per 10^10 docs,
    spillable), while recomputing them re-scans the whole corpus per
    branch.
    """
    if materialize:
        from bigdata_elephant_spark.session import persist_tracked

        sigs = persist_tracked(sigs)
    bands = _band_explode(sigs, id_col, n_hashes, n_bands)
    pairs = _bucket_pairs(bands, bands, id_col, "doc_a", "doc_b", True)
    return _scored_pairs(pairs, sigs, sigs, id_col, "doc_a", "doc_b", n_hashes)


def lsh_candidate_edges(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    materialize: bool = True,
) -> DataFrame:
    """Scale-safe LSH candidate mining → ``(doc_a, doc_b, est_sim)``
    — the identical-signature mega-bucket guard.

    :func:`lsh_candidate_pairs` emits ALL pairs within a band bucket.
    On real web corpora exact duplicates form clusters of 10^5–10^7
    copies (boilerplate, mirrored pages); identical documents have
    identical signatures, so one bucket key receives the whole
    cluster and the self-join materializes O(cluster²) pairs on a
    single skewed shuffle key — 10^6 copies ⇒ ~5·10^11 pairs from one
    bucket. This variant caps that at O(cluster):

    1. **Signature collapse**: group docs by their full signature
       (window-min over the ``m0..m{n-1}`` columns — one shuffle;
       cluster rows are ~140 bytes each, spillable) and emit a STAR
       edge ``(rep, member, est_sim=1.0)`` per non-representative
       member — ``cluster−1`` rows instead of ``cluster²/2``.
    2. **Rep-level all-pairs**: run :func:`lsh_candidate_pairs` over
       the representatives only. Every bucket now holds *distinct*
       signatures, the regime the banding math (b bands of r rows)
       actually bounds.

    Under any downstream ``est_sim >= t`` filter (t ≤ 1) the union
    has the SAME connected components as the all-pairs graph:
    ``est_sim`` and band-bucket membership are pure functions of the
    two signatures, so a member pair (a, b) clears the threshold iff
    its rep pair (rep_a, rep_b) does, star edges (est_sim exactly
    1.0 — identical signatures agree on every hash) connect members
    to reps, and identical-signature cliques collapse to their
    spanning star. Consumers that feed
    :func:`duplicate_groups` (``dedup_groups``, ``curate_pipeline``)
    use this; consumers that need the literal pair list (the
    ``minhash_est_error`` trust gate, PageRank over the dup graph —
    rank is structure-sensitive, a star is not a clique) keep
    :func:`lsh_candidate_pairs` and inherit its documented exposure.
    """
    from pyspark.sql.window import Window

    sig_cols = [f"m{i}" for i in range(n_hashes)]
    w = Window.partitionBy(*sig_cols)
    keyed = sigs.select(
        F.col(id_col), *sig_cols
    ).withColumn("__rep", F.min(id_col).over(w))
    if materialize:
        # ONE persist, of `keyed` (it subsumes sigs — same columns
        # plus __rep — and feeds the star filter plus every branch
        # of the rep mining); persisting sigs or reps as well would
        # roughly double the cache/spill footprint of a
        # signature-table-sized frame for zero recompute savings,
        # so the inner lsh_candidate_pairs call runs unmaterialized
        # (its branches are cheap filters over the cached keyed).
        from bigdata_elephant_spark.session import persist_tracked

        keyed = persist_tracked(keyed)
    star = keyed.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("doc_a"),
        F.col(id_col).alias("doc_b"),
        F.lit(1.0).alias("est_sim"),
    )
    reps = keyed.filter(F.col(id_col) == F.col("__rep")).select(
        id_col, *sig_cols
    )
    rep_pairs = lsh_candidate_pairs(
        reps, id_col, n_hashes, n_bands, materialize=False
    )
    return star.unionByName(rep_pairs)


def incremental_dedup_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Delta-vs-corpus LSH dedup: which NEW documents near-duplicate
    something ALREADY IN the corpus.

    The daily-ingest shape at 100 TB: the existing corpus is
    represented only by its materialized minhash signature table
    (one row of ``n_hashes`` ints per doc — rebuilt never,
    appended to every batch), so admitting a new batch costs
    ``O(|batch|)`` tokenization plus a band-bucket equi-join against
    the signature table — the 100 TB of old *text* is not touched.
    Contrast :func:`lsh_candidate_pairs`, which self-joins one
    corpus; here the join is new x old only (new-new dedup runs
    separately on the batch, which is small).

    Output: ``(new_id, corpus_id, est_sim)`` — one row per
    bucket-colliding cross pair with the signature-agreement Jaccard
    estimate. Callers filter on ``est_sim`` and anti-join admits.
    """
    pairs = _bucket_pairs(
        _band_explode(new_sigs, id_col, n_hashes, n_bands),
        _band_explode(corpus_sigs, id_col, n_hashes, n_bands),
        id_col, "new_id", "corpus_id", False,
    )
    return _scored_pairs(
        pairs, new_sigs, corpus_sigs, id_col, "new_id", "corpus_id",
        n_hashes,
    )


def signature_reps(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """Collapse a signature table to one representative per DISTINCT
    signature → ``(id_col, n_members, m0..m{n-1})`` — rep = min id,
    ``n_members`` = cluster size. One window shuffle on the
    signature columns; the maintained-artifact half of
    :func:`incremental_dedup_edges` (at production this table is
    what gets persisted and appended to, so admission never re-pays
    the collapse)."""
    from pyspark.sql.window import Window

    sig_cols = [f"m{i}" for i in range(n_hashes)]
    w = Window.partitionBy(*sig_cols)
    keyed = sigs.select(F.col(id_col), *sig_cols).select(
        F.col(id_col),
        *sig_cols,
        F.min(id_col).over(w).alias("__rep"),
        F.count("*").over(w).alias("n_members"),
    )
    return keyed.filter(F.col(id_col) == F.col("__rep")).select(
        id_col, "n_members", *sig_cols
    )


def incremental_dedup_edges(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    materialize: bool = True,
    corpus_is_reps: bool = False,
) -> DataFrame:
    """Delta-vs-corpus admission with the mega-cluster guard —
    the :func:`lsh_candidate_edges` treatment applied to
    :func:`incremental_dedup_pairs`: the corpus signature table is
    collapsed to one representative per DISTINCT signature (carrying
    ``n_members``), so a new document that collides with a
    10^6-copy boilerplate cluster produces ONE row, not 10^6 —
    without that, every colliding ingest row fans out by the cluster
    size and the daily admission join inherits exactly the quadratic
    hazard the batch miner had.

    Admission decisions are unchanged: ``est_sim`` is a pure
    function of the two signatures, so the new doc clears (or fails)
    the threshold against the representative iff it does against
    every member. Output: ``(new_id, corpus_rep_id, n_members,
    est_sim)`` — ``n_members`` preserves the evidence the collapse
    hides (how big the matched cluster is), which the pair API could
    only express as row multiplicity.

    ``corpus_is_reps=True`` declares that ``corpus_sigs`` is ALREADY
    the collapsed representative table (the ``(id, n_members,
    m0..m{n-1})`` output of :func:`signature_reps`) — the production
    shape, where the collapse is a maintained artifact recomputed
    per corpus append, not per query: the streaming twin collapses
    the frozen corpus ONCE at stream setup and feeds the
    materialized reps to every micro-batch. Otherwise ``materialize``
    (default) persists the collapse computed here: it feeds BOTH the
    band explode and the est_sim join, and unpersisted the
    corpus-signature window shuffle would run twice per call.
    """
    if corpus_is_reps:
        reps = corpus_sigs
    else:
        reps = signature_reps(corpus_sigs, id_col, n_hashes)
        if materialize:
            from bigdata_elephant_spark.session import persist_tracked

            reps = persist_tracked(reps)
    pairs = _bucket_pairs(
        _band_explode(new_sigs, id_col, n_hashes, n_bands),
        _band_explode(reps, id_col, n_hashes, n_bands),
        id_col, "new_id", "corpus_rep_id", False,
    )
    return _scored_pairs(
        pairs, new_sigs, reps, id_col, "new_id", "corpus_rep_id",
        n_hashes, carry=("n_members",),
    )


def boilerplate_flags(
    df: DataFrame,
    min_doc_freq: int = 5,
    frac_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float | None = None,
) -> DataFrame:
    """Cross-document boilerplate scoring: a shingle appearing in
    >= ``min_doc_freq`` distinct documents is boilerplate (headers,
    navigation, license blurbs — text shared across documents, which
    within-doc repetition metrics like the Gopher flags cannot see);
    each document is scored by the fraction of its distinct shingles
    that are boilerplate and flagged past ``frac_threshold``.

    ``min_doc_frac`` switches the cut to a RELATIVE one — boilerplate
    iff ``df >= min_doc_frac * n_docs`` (with a df >= 2 floor: a
    singleton shingle is just content) — which is what survives a
    100x corpus: an absolute ``df >= 5`` admits ever more ordinary
    phrases as the corpus grows, while a share-of-corpus cut keeps
    the same meaning at every scale. The comparison is an integer
    cross-product against the 1-row corpus count (``df * denom >=
    n_docs`` with ``denom = round(1/min_doc_frac)``), so no float
    boundary can flip membership between engines.

    This is the diagnostic counterpart of the hot-shingle caps in
    the n-gram-Jaccard and containment verifiers: the same
    doc-frequency table that there *drops* hot shingles here
    *reports* them. Two shuffles (shingle df, per-doc rollup), both
    on keys with map-side partial aggregation; the df table is
    vocabulary-sized.
    """
    sh = doc_shingles(
        df, text_col=text_col, id_col=id_col, n=n, distinct=True
    )
    freq = sh.groupBy("shingle").agg(
        F.count("*").alias("_df")  # rows are distinct (doc, shingle)
    )
    if min_doc_frac is not None:
        denom = round(1.0 / min_doc_frac)
        nd = df.select(F.count("*").cast("long").alias("_nd"))
        freq = freq.crossJoin(F.broadcast(nd))
        is_boiler = (F.col("_df") >= 2) & (
            F.col("_df") * denom >= F.col("_nd")
        )
    else:
        is_boiler = F.col("_df") >= min_doc_freq
    scored = (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(is_boiler, 1).otherwise(0)
            ).cast("long").alias("n_boilerplate"),
        )
    )
    return scored.select(
        id_col,
        "n_shingles",
        "n_boilerplate",
        F.round(
            F.col("n_boilerplate") / F.col("n_shingles"), 6
        ).alias("boilerplate_frac"),
        (
            F.col("n_boilerplate")
            >= F.lit(frac_threshold) * F.col("n_shingles")
        ).alias("flagged"),
    )


def _cc_edges(und: DataFrame) -> DataFrame:
    """The symmetrized edge list of a ``(src, dst)`` frame: every
    pair and its mirror (callers checkpoint it — it is reused every
    round)."""
    return und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _cc_labels(edges: DataFrame) -> DataFrame:
    """The checkpointed self-labelled node table that seeds the
    min-label propagation over ``edges``."""
    return (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )


def _cc_step(edges: DataFrame, lbl: DataFrame) -> DataFrame:
    """One min-label propagation hop: push each node's label across
    its out-edges, then keep the per-node minimum (including the
    node's own current label via the union)."""
    prop = edges.join(
        lbl, edges["src"] == lbl["node"]
    ).select(F.col("dst").alias("node"), "label")
    return (
        lbl.union(prop)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def duplicate_groups_round_frame(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """The un-checkpointed frame ONE production round of
    :func:`duplicate_groups` executes (the doubled hop over the
    checkpointed edge/label state) — for plan audits only.
    ``duplicate_groups`` checkpoints this frame every round, so the
    final result's plan is a bare scan and PLANS.md would otherwise
    show ``shuffles=0 scans=0`` for the most shuffle-heavy query in
    the repo (r12 verdict item 3)."""
    edges = _cc_edges(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    ).localCheckpoint()
    return _cc_step(edges, _cc_step(edges, _cc_labels(edges)))


# Directed-edge count at or below which the transitive closure runs
# driver-side (collect + synchronous min-label hops in Python) instead
# of as distributed label-propagation rounds. 2^18 directed edges is
# ~4 MB of id pairs — the same metadata-size class as the broadcast
# hint gate (session.BROADCAST_HINT_CAP_BYTES) and the kmeans-seed /
# BPE-merge driver-iteration pattern. The win is structural, not a
# local[32] tune: every distributed round costs 2 hops x 3 exchanges
# plus a checkpoint job and a convergence aggregate, which is pure
# fixed overhead once the edge list is this small, at ANY cluster
# size (a 100 TB corpus whose LSH pair graph is tiny still pays it).
# Above the gate the distributed loop below is unchanged — that is
# the at-scale path, and the hop semantics of the two are identical
# (tests/test_dedup.py pins equality, including max_iter truncation).
CC_DRIVER_MAX_EDGES = 1 << 18


def _cc_driver(
    srcs: list, dsts: list, node_t, spark, max_iter: int
) -> DataFrame | None:
    """Driver-side twin of the distributed min-label loop over the
    undirected pairs ``zip(srcs, dsts)``, mirrored here as the
    distributed path mirrors them in :func:`_cc_edges`: the SAME
    synchronous hop update (new[v] = min(old[v], min over in-edges
    of old[src])), run hop-by-hop up to ``max_iter`` with early stop
    at the fixpoint — so results are identical to the distributed
    path bit-for-bit, including truncation when a component chain
    exceeds the hop budget. The groups come back as a job-free
    ``LocalRelation`` (:func:`~bigdata_elephant_spark.session.
    local_relation`) with non-null ``node_t`` columns. Returns None
    (caller falls back to the distributed loop) if any endpoint is
    NULL — the join-based propagation has engine-specific null
    semantics the simulation does not reproduce."""
    if any(s is None for s in srcs) or any(d is None for d in dsts):
        return None
    adj: dict = {}
    for s, d in zip(srcs, dsts):
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    labels = {v: v for v in adj}
    hops, converged = 0, False
    while hops < max_iter:
        new = dict(labels)
        changed = False
        for s, lab in labels.items():
            for d in adj[s]:
                if lab < new[d]:
                    new[d] = lab
                    changed = True
        hops += 1
        labels = new
        if not changed:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"duplicate_groups: still propagating after max_iter="
            f"{max_iter} rounds — a component chain is longer than "
            "max_iter hops and group ids are NOT fully transitive "
            "(the exact-closure oracle will mismatch). Raise max_iter.",
            RuntimeWarning,
            stacklevel=3,
        )
    from pyspark.sql.types import StructField, StructType

    from bigdata_elephant_spark.session import local_relation

    schema = StructType(
        [
            StructField("doc_id", node_t, False),
            StructField("group_id", node_t, False),
        ]
    )
    return local_relation(spark, sorted(labels.items()), schema)


def duplicate_groups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Transitive duplicate groups: connected components over a pair
    graph -> ``(doc_id, group_id)`` with ``group_id`` = min doc id in
    the component (the canonical survivor).

    The pairs execute ONCE: their two id columns are checkpointed
    (``localCheckpoint``) first, and both paths below read that
    checkpoint — an LSH candidate join upstream runs one time, not
    once per consumer.

    Small graphs (at most ``driver_max_edges`` directed edges, i.e.
    at most ``driver_max_edges // 2`` pairs, counting each pair and
    its mirror like the distributed path does) take :func:`_cc_driver`.
    The gate is a bounded Arrow collect over the checkpoint —
    ``limit(driver_max_edges // 2 + 1)`` rows — so the same collect
    that decides the path delivers the driver path's input, and a
    large graph stops after one row past the gate. The driver path
    runs the identical hop update in Python and returns a
    ``LocalRelation``: identical output (pinned by tests), collected
    with no Spark job, and real size stats for downstream joins, so
    the consumer (``dedup_survivors``) plans a broadcast instead of a
    stats-blind sort-merge join.

    Larger graphs symmetrize the same checkpoint into the distributed
    min-label propagation: each round applies the
    join-across-edges / per-node-min step TWICE before the checkpoint
    + convergence check — label distance to the component minimum
    shrinks by >= 2 hops per round, so rounds <= ceil(diameter / 2)
    and, since the fixed cost per round is two Spark jobs (checkpoint
    materialization + the convergence aggregate), the doubled step
    halves both the round count and the job count for the same hop
    budget. Correctness is unaffected: min-propagation is monotone
    and idempotent past convergence, so overshooting a converged
    state by one extra step changes nothing. Near-dup components
    are shallow in practice (``max_iter`` caps total HOPS for
    pathological chains).

    Convergence detection: labels are monotonically non-increasing
    under min-propagation, so the exact decimal SUM of all labels
    strictly decreases iff any label changed. Comparing per-round
    sums costs one map-side-partial aggregate over the node table —
    the old-vs-new label equi-join it replaces was a second
    node-sized shuffle per round.
    """
    und = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint()
    edges = _cc_edges(und)
    if driver_max_edges >= 0:
        tbl = und.limit(driver_max_edges // 2 + 1).toArrow()
        if 2 * tbl.num_rows <= driver_max_edges:
            res = _cc_driver(
                tbl.column("src").to_pylist(),
                tbl.column("dst").to_pylist(),
                edges.schema["src"].dataType,
                und.sparkSession,
                max_iter,
            )
            if res is not None:
                return res
    edges = edges.localCheckpoint()
    labels = _cc_labels(edges)

    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    def _step(lbl: DataFrame) -> DataFrame:
        return _cc_step(edges, lbl)

    prev_sum = _label_sum(labels)
    hops, converged = 0, False
    while hops < max_iter:
        # two hops per checkpoint/convergence check (see docstring);
        # an odd max_iter spends its final budget on a single hop so
        # the configured HOP cap is exact.
        steps = 2 if max_iter - hops >= 2 else 1
        new_labels = _step(labels)
        if steps == 2:
            new_labels = _step(new_labels)
        new_labels = new_labels.localCheckpoint()
        hops += steps
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        import warnings

        warnings.warn(
            f"duplicate_groups: still propagating after max_iter="
            f"{max_iter} rounds — a component chain is longer than "
            "max_iter hops and group ids are NOT fully transitive "
            "(the exact-closure oracle will mismatch). Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("group_id")
    )


# ----------------------------------------------------------- simhash

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash over tf-weighted token hashes -> ``(id, simhash)``.

    Bit j of the signature is 1 iff the sum over tokens of
    ``(bit_j(h32(token)) ? +1 : -1)`` is positive. Linear: one
    explode + one partially-aggregated groupBy.
    """
    toks = df.select(
        id_col, F.explode(tokens_array(text_col)).alias("word")
    )
    hashed = toks.select(id_col, h32("word").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = hashed.groupBy(id_col).agg(*bit_sums)
    sig = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        for j in range(bits)
    )
    return per_doc.select(id_col, sig.cast("long").alias("simhash"))


def simhash_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs from SimHash signatures: candidates share at
    least one of ``n_bands`` bit-slices (pigeonhole: any pair within
    ``n_bands - 1`` differing bits MUST agree on some band; wider
    ``max_hamming`` trades recall), verified by exact Hamming
    distance (xor + popcount — one codegen'd expression).

    Input is one row of (id, 32-bit signature) per doc, so the
    shuffle is tiny regardless of corpus size; quadratic work only
    inside identical-bit-slice buckets.
    """
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(band_structs).alias("bb")
    ).select(
        id_col,
        sig_col,
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    a = bands.select(
        F.col(id_col).alias("doc_a"),
        F.col(sig_col).alias("sig_a"),
        "band",
        "bkey",
    )
    b_ = bands.select(
        F.col(id_col).alias("doc_b"),
        F.col(sig_col).alias("sig_b"),
        "band",
        "bkey",
    )
    return (
        a.join(b_, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------- exact jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard pairs ``(doc_a, doc_b, jaccard)``.

    Inverted-index style: self-join distinct shingles, count the
    intersection per pair, derive the union from per-doc set sizes.
    The join key is the shingle, so frequent shingles dominate cost:
    a shingle in d docs spawns d^2/2 candidate rows. ``max_doc_freq``
    drops shingles above that document frequency BEFORE the join
    (boilerplate shingles carry no dedup signal but all of the
    cost). Set sizes still use the full shingle sets, so the capped
    result is conservative: reported Jaccard is a LOWER BOUND (the
    intersection count misses any dropped shingles a pair shares),
    and pairs overlapping only in ultra-frequent shingles are missed
    entirely — both are the right direction for a dedup *verifier*.
    """
    sh = doc_shingles(df, text_col, id_col, n=shingle_n, distinct=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _exact_pair_overlap(
    df: DataFrame,
    pairs: DataFrame | None,
    text_col: str,
    id_col: str,
    shingle_n: int,
) -> DataFrame:
    """Exact distinct-shingle overlap counts → ``(doc_a, doc_b,
    inter, na, nb)``. With ``pairs`` given, intersections are
    computed ONLY for those pairs (fan-out bounded by
    pairs x shingles-per-doc); without, the full inverted-index
    self-join runs (bounded by shingle document frequency).

    Every join against the exploded shingle stream (and against the
    pair set, which is corpus-governed) carries an explicit
    ``shuffle_hash`` strategy hint: Catalyst's static size estimate
    does NOT inflate through explode (an exploded frame keeps its
    parent scan's bytes), so the static planner happily builds a
    corpus-sized broadcast from a "small" estimate and OOMs the
    driver — hit at the 10x spot-check SF. A shuffle hash join is
    scale-safe at every size; this is the inverse direction of the
    ``maybe_broadcast`` gate (there: stats over-estimate and decline
    a safe hint; here: stats under-estimate and force an unsafe
    one)."""
    sh = doc_shingles(df, text_col, id_col, n=shingle_n, distinct=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    pa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    pb = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    if pairs is not None:
        inter = (
            pairs.select("doc_a", "doc_b")
            .join(pa.hint("shuffle_hash"), "doc_a")
            .join(pb.hint("shuffle_hash"), ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
        # LEFT + coalesce: an LSH candidate with NO shared distinct
        # shingle (hash collision in a band) must keep its row at
        # inter=0, not silently drop (the sketch-probe-join rule)
        inter = (
            pairs.select("doc_a", "doc_b")
            .join(inter.hint("shuffle_hash"), ["doc_a", "doc_b"], "left")
            .na.fill({"inter": 0})
        )
    else:
        inter = (
            pa.join(pb.hint("shuffle_hash"), "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb")
    )
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def minhash_estimate_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """MinHash trust gate: signature-estimated vs EXACT Jaccard for
    every LSH candidate pair, pooled per exact-Jaccard decile →
    ``(jac_bucket, n_pairs, sum_abs_err, max_abs_err)``.

    The dedup-family analogue of the ANN recall reports: before
    trusting ``est_sim >= t`` as a dedup decision, measure how far
    the 16-hash estimate sits from the true Jaccard on the pairs the
    pipeline actually surfaces. Exact overlap is computed ONLY for
    the candidate pairs (never all pairs); per-pair error uses the
    already-rounded doubles and errors sum as exact decimals, so the
    report is partitioning-deterministic. ``jac_bucket`` =
    floor(10*inter/union) clamped to 9 (the same long-over-long IEEE
    division in both engines). At production scale this gate runs on
    a sampled slice, like every recall report.
    """
    from bigdata_elephant_spark.session import persist_tracked

    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes=n_hashes, shingle_n=shingle_n
    )
    # persist: the candidate set feeds THREE branches (estimate side,
    # the pair-restricted overlap join, and its LEFT re-reference) —
    # unpersisted, the whole shingle→signature→band pipeline
    # recomputes per branch
    cand = persist_tracked(
        lsh_candidate_pairs(sigs, id_col, n_hashes, n_bands)
    )
    ov = _exact_pair_overlap(df, cand, text_col, id_col, shingle_n)
    scored = cand.join(
        ov.hint("shuffle_hash"), ["doc_a", "doc_b"]
    ).select(
        "doc_a",
        "doc_b",
        "est_sim",
        (F.col("na") + F.col("nb") - F.col("inter")).alias("union_sh"),
        "inter",
    )
    err = F.round(
        F.abs(
            F.col("est_sim")
            - F.round(F.col("inter") / F.col("union_sh"), 6)
        ),
        6,
    )
    bucket = F.least(
        F.lit(9),
        F.floor(F.col("inter") * 10 / F.col("union_sh")).cast("int"),
    )
    return (
        scored.select(
            bucket.alias("jac_bucket"),
            err.cast("decimal(12,6)").alias("_err"),
        )
        .groupBy("jac_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("_err").cast("double"), 6).alias(
                "sum_abs_err"
            ),
            F.round(F.max("_err").cast("double"), 6).alias(
                "max_abs_err"
            ),
        )
        .orderBy("jac_bucket")
    )


def lsh_recall_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    shingle_n: int = DEFAULT_SHINGLE_N,
    thr_x10_min: int = 5,
    thr_x10_max: int = 9,
) -> DataFrame:
    """LSH candidate recall vs exact Jaccard ground truth, for every
    threshold level in one pass → ``(thr_x10, n_true, n_caught,
    recall)``.

    The banded-LSH S-curve made measurable: 4 bands x 4 rows puts
    the 50%-catch point near J≈0.71, so recall should climb with the
    threshold — this query pins where, on THIS corpus, instead of
    trusting the formula. Ground truth is the exact inverted-index
    Jaccard join (bounded by shingle document frequency — at
    production scale this gate runs on a sampled slice); thresholds
    compare as integer cross-products (``inter*10 >= t*union``), so
    no float boundary can move a pair between engines; recall is the
    same long-over-long division in both.
    """
    truth = _exact_pair_overlap(
        df, None, text_col, id_col, shingle_n
    ).select(
        "doc_a",
        "doc_b",
        "inter",
        (F.col("na") + F.col("nb") - F.col("inter")).alias("union_sh"),
    )
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes=n_hashes, shingle_n=shingle_n
    )
    cand = (
        lsh_candidate_pairs(sigs, id_col, n_hashes, n_bands)
        .select("doc_a", "doc_b")
        .withColumn("_caught", F.lit(1))
    )
    levels = df.sparkSession.range(
        thr_x10_min, thr_x10_max + 1
    ).select(F.col("id").cast("int").alias("thr_x10"))
    # shuffle_hash: both sides are corpus-governed and the candidate
    # side's static estimate is explode-blind (see
    # _exact_pair_overlap) — never a static broadcast build
    flagged = truth.join(
        cand.hint("shuffle_hash"), ["doc_a", "doc_b"], "left"
    ).na.fill({"_caught": 0})
    return (
        flagged.crossJoin(levels)
        .filter(
            F.col("inter") * 10 >= F.col("thr_x10") * F.col("union_sh")
        )
        .groupBy("thr_x10")
        .agg(
            F.count("*").alias("n_true"),
            F.sum("_caught").cast("long").alias("n_caught"),
        )
        .join(levels, "thr_x10", "right")
        .na.fill({"n_true": 0, "n_caught": 0})
        .select(
            "thr_x10",
            "n_true",
            "n_caught",
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_caught") / F.col("n_true"), 6),
            ).alias("recall"),
        )
        .orderBy("thr_x10")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE_N,
    min_shingles: int = 5,
) -> DataFrame:
    """Shingle-containment dedup (ExactSubstr-lite): pairs where doc
    A's entire shingle set appears in doc B — the "document embedded
    in a larger document" case that symmetric-similarity dedup
    under-scores (a 100-token doc inside a 10,000-token doc has tiny
    Jaccard but is still a pure duplicate).

    Blocking lemma: if shingles(A) ⊆ shingles(B), then A's *minimum*
    shingle hash is one of B's shingle hashes. So candidates = join
    A.min-hash against B's exploded distinct shingle hashes — a
    necessary (hence complete) condition, one equi-join, no all-pairs
    term. Verification then counts |A ∩ B| exactly and keeps pairs
    with |A ∩ B| = |A|. Work is candidates × |A|, with candidates
    bucketed by the min-hash value; ``min_shingles`` drops trivially
    small docs whose min-hash buckets would be hot.

    Set-containment on shingles, not substring equality: A's text
    reordered inside B still matches — documented semantics, and the
    oracle replays exactly the same definition. Output:
    ``(doc_a, doc_b, n_a, n_shared)`` with A the contained doc
    (|A| < |B|, or |A| = |B| and doc_a < doc_b so identical sets
    report once).
    """
    sh = doc_shingles(df, text_col, id_col, n=shingle_n).select(
        id_col, h32(F.col("shingle")).alias("h")
    ).distinct()
    stats = sh.groupBy(id_col).agg(
        F.count("*").alias("n_sh"), F.min("h").alias("min_h")
    ).filter(F.col("n_sh") >= min_shingles)
    a = stats.select(
        F.col(id_col).alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        "min_h",
    )
    b_sh = sh.select(F.col(id_col).alias("doc_b"), F.col("h"))
    cand = a.join(
        b_sh, (F.col("min_h") == F.col("h"))
        & (F.col("doc_a") != F.col("doc_b")),
    ).select("doc_a", "doc_b", "n_a")
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("h"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("h"))
    shared = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "n_a")
        .agg(F.count("*").alias("n_shared"))
    )
    nb = stats.select(
        F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    return (
        shared.filter(F.col("n_shared") == F.col("n_a"))
        .join(nb, "doc_b")
        .filter(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b"))
               & (F.col("doc_a") < F.col("doc_b")))
        )
        .select("doc_a", "doc_b", "n_a", "n_shared")
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------- duplicate passages

def positioned_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """``(id_col, pos, shingle)`` — every word n-gram with its token
    position. The positional variant of :func:`doc_shingles` (which
    discards positions); the input to passage-level exact-substring
    mining, where WHERE a shingle matches matters as much as THAT it
    matches."""
    toks = df.select(id_col, tokens_array(text_col).alias("__toks"))
    return toks.select(
        id_col,
        F.posexplode(shingles_array("__toks", n)).alias(
            "pos", "shingle"
        ),
    )


def duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    min_run: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact duplicated-passage mining (the ExactSubstr dedup of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): for every document pair that
    shares a verbatim token run of >= ``min_run`` tokens, report the
    longest shared run and how many distinct maximal runs they share.

    Instead of a suffix array (pointer-chasing, single-machine), the
    same answer comes from three shuffles, each scale-safe:

    1. positional shingles (one narrow scan, no shuffle),
    2. an equi-join on the shingle value — candidate cost is
       sum(df^2) over shingle doc-frequencies, capped by
       ``max_doc_freq`` exactly like :func:`ngram_jaccard_pairs`
       (with the same lower-bound semantics when capped),
    3. gaps-and-islands over each pair's match diagonal
       (``pos_a - pos_b``): consecutive matching positions on one
       diagonal are one run of ``count + shingle_n - 1`` tokens.

    Output: ``(doc_a, doc_b, max_run_tokens, n_runs)``, doc_a < doc_b.
    A run of k consecutive shingle matches on a diagonal is a
    verbatim token run of k + shingle_n - 1 tokens; runs shorter than
    ``min_run`` tokens are noise (random shingle collisions) and are
    dropped before the per-pair rollup.
    """
    from pyspark.sql.window import Window

    from bigdata_elephant_spark.session import persist_tracked

    # The positioned-shingle table feeds the doc-frequency cap AND
    # both sides of the self-join; persisting it turns three
    # tokenize+explode scans of the corpus into one (the same
    # measured trick as the minhash signature persist). MEMORY_AND_
    # DISK via persist_tracked: at 100 TB it spills instead of
    # evicting, and the registry runner releases it between queries.
    sh = persist_tracked(
        positioned_shingles(df, text_col, id_col, n=shingle_n)
    )
    if max_doc_freq is not None:
        rare = (
            sh.select(id_col, "shingle")
            .distinct()
            .groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    a = sh.select(
        F.col(id_col).alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "shingle",
    )
    b = sh.select(
        F.col(id_col).alias("doc_b"),
        F.col("pos").alias("pos_b"),
        "shingle",
    )
    matches = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        matches.withColumn(
            "grp", F.col("pos_a") - F.row_number().over(w)
        )
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            (F.count("*") + F.lit(shingle_n - 1)).alias("run_tokens")
        )
        .filter(F.col("run_tokens") >= min_run)
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_tokens").alias("max_run_tokens"),
            F.count("*").alias("n_runs"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------- eval decontamination

def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    flag_frac: float = 0.1,
    broadcast_eval: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Lee et al.
    training-set hygiene step): for every training document, the
    fraction of its DISTINCT word n-grams that appear anywhere in the
    evaluation set -> ``(doc_id, n_ngrams, n_overlap, contamination,
    flagged)``. Documents shorter than ``n`` tokens have no n-grams
    and are absent (nothing to contaminate by this measure).

    Plan shape: the eval side collapses to a DISTINCT n-gram set —
    benchmark-sized in practice, hence broadcast by default — and the
    train side is scanned ONCE: a broadcast left join marks each
    distinct train shingle as leaked-or-not, then a single per-doc
    aggregation produces both the total and the overlap count (a
    semi-join formulation would scan and shuffle the train shingle
    set twice, once per count). With ``broadcast_eval=False`` (an
    unusually large eval corpus) the mark join shuffles on the
    shingle instead. Counting DISTINCT shingles per doc (not
    occurrences) makes the rate insensitive to internal repetition —
    a doc repeating one leaked line 100 times scores the same as one
    leaking it once.
    """
    ev = (
        doc_shingles(eval_df, text_col, id_col, n=n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = doc_shingles(train, text_col, id_col, n=n).distinct()
    scored = (
        tr.join(ev, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(F.coalesce("_hit", F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
        )
    )
    rate = F.col("n_overlap") / F.col("n_ngrams")
    return scored.select(
        id_col,
        "n_ngrams",
        "n_overlap",
        F.round(rate, 6).alias("contamination"),
        (rate >= F.lit(flag_frac)).alias("flagged"),
    )

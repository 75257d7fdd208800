"""Reproducible sampling for training-data curation.

``df.sample()``/``sampleBy()`` are seeded per *partition split*, so
results change whenever partitioning changes — useless for a dataset
you need to reproduce across cluster sizes, reruns, and engines.
Hash-based sampling decides per ROW from a content key:
``bucket = h32(key) % 10_000; keep iff bucket < rate``. Deterministic
everywhere, stable under repartitioning, cheap (one md5 per row —
or swap in h32_fast_sql at production), and composable: disjoint bucket
ranges give non-overlapping train/val/test splits from one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_elephant_spark.functions.hashing import h32

BUCKETS = 10_000


def sample_bucket(key: Column | str) -> Column:
    """Stable per-row bucket in [0, 10000) from the key's hash."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(h32(c.cast("string")), F.lit(BUCKETS))


def hash_sample(
    df: DataFrame,
    key: str,
    fraction: float,
    offset: float = 0.0,
) -> DataFrame:
    """Keep rows whose bucket falls in
    ``[offset*10000, (offset+fraction)*10000)`` — e.g.
    ``hash_sample(df, "doc_id", 0.8)`` for train and
    ``hash_sample(df, "doc_id", 0.1, offset=0.8)`` for val are
    disjoint by construction.

    Boundaries use round(), not int(): truncation turns float
    artifacts like (0.7+0.1)*10000 == 7999.999... into 7999,
    silently dropping bucket 7999 from every split of a partition
    whose offsets accumulate error."""
    lo = round(offset * BUCKETS)
    hi = round((offset + fraction) * BUCKETS)
    b = sample_bucket(key)
    return df.filter((b >= lo) & (b < hi))


def weighted_sample_keys(
    key: Column | str, weight: Column | str
) -> Column:
    """A-ES weighted-reservoir key: rows ranked by
    ``ln(u) / w`` (descending) where ``u = (h32(key)+1) / 2^32`` is a
    hash-derived uniform in (0, 1] — the top-k form a weighted sample
    without replacement with inclusion probability proportional to
    ``w`` (Efraimidis-Spirakis, via the equivalent ``u^(1/w)`` key).

    Deterministic (same key -> same u everywhere) and single-pass:
    the top-k is a ``TakeOrderedAndProject`` — per-partition heaps,
    no global sort shuffle. Engine note: ``ln`` differs between JVM
    and DuckDB libm at ~5e-9 relative, which can only flip sample
    membership if the k-th and (k+1)-th keys are within that — order
    statistics of a continuous key are vastly farther apart, so the
    oracle replay is stable (and the key itself is never emitted).

    Non-positive weights have inclusion probability 0 (the A-ES key
    ``ln(u)/w`` -> -inf as w -> 0+), but under ANSI mode ``w = 0``
    would RAISE on the division — so the key is NULL for ``w <= 0``
    (r12 ANSI-division audit). Consumers must still filter ``w > 0``
    before ordering: Spark sorts NULL last under ``desc`` while
    DuckDB sorts it first, so a NULL key reaching an ORDER BY would
    diverge across engines (weighted_sample_orders does exactly
    this, mirrored in its oracle's WHERE).
    """
    kc = F.col(key) if isinstance(key, str) else key
    wc = F.col(weight) if isinstance(weight, str) else weight
    u = (h32(kc.cast("string")) + F.lit(1)) / F.lit(4_294_967_296.0)
    return F.when(wc > 0, F.log(u) / wc)


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Per-stratum keep fractions (absent strata keep nothing) —
    deterministic counterpart of ``sampleBy``."""
    b = sample_bucket(key)
    keep = F.lit(False)
    for stratum, frac in fractions.items():
        keep = keep | (
            (F.col(strata_col) == stratum)
            & (b < round(frac * BUCKETS))
        )
    return df.filter(keep)


def mixture_rebalance(
    df: DataFrame,
    stratum_col: str,
    weights: dict[str, float],
    n_out: int,
    id_col: str,
) -> DataFrame:
    """Rebalance a corpus to a target mixture — the data-recipe
    operator behind "web 60% / books 30% / code 10%" training sets.

    Each stratum's target row count is ``round(n_out * weight)``;
    strata larger than their target DOWN-sample (a deterministic
    md5-ordered prefix — same reproducible draw as
    :func:`stratified_hash_sample`), smaller ones UP-sample by
    repetition: every doc appears ``target div n`` times and the
    md5-first ``target mod n`` docs once more — the multi-epoch
    semantics LLM recipes use for scarce domains, with the epoch
    spread as even as integer arithmetic allows. Output is one row
    per (doc, epoch); per-stratum totals hit the target EXACTLY.

    Plan shape: per-stratum counts and the target table are
    metadata-sized broadcasts; the data passes once through one
    per-stratum rank window; repetition is a ``sequence`` explode,
    no self-union per epoch. Strata missing from ``weights`` drop
    (weight zero).
    """
    spark = df.sparkSession
    targets = spark.createDataFrame(
        [(s, int(round(n_out * w))) for s, w in sorted(weights.items())],
        f"{stratum_col} string, _target long",
    )
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    plan = counts.join(targets, stratum_col).select(
        stratum_col,
        F.expr("_target div _n").alias("_base"),
        F.expr("_target % _n").alias("_extra"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    ranked = df.select(
        id_col, stratum_col, F.row_number().over(w).alias("_rnk")
    )
    expanded = ranked.join(F.broadcast(plan), stratum_col).select(
        id_col,
        stratum_col,
        (
            F.col("_base")
            + F.when(F.col("_rnk") <= F.col("_extra"), 1).otherwise(0)
        ).alias("_copies"),
    )
    return expanded.filter(F.col("_copies") > 0).select(
        id_col,
        stratum_col,
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.col("_copies"))
        ).alias("epoch"),
    )


def neyman_allocation_sample(
    df: DataFrame,
    stratum: str,
    value: str,
    key: str,
    n_out: int,
) -> DataFrame:
    """Neyman-allocated stratified sample: each stratum's share of
    the ``n_out`` budget is proportional to ``N_h · σ_h`` (optimal
    allocation for estimating the mean of ``value``) → the selected
    rows ``(stratum, key, alloc, n_h, sigma)``.

    The statistical upgrade of proportional stratified sampling:
    volatile strata get more of the budget, homogeneous ones less.
    σ_h comes from exact decimal sums (Σx, Σx² over 6/12-decimal
    rounded values — the repo's standard discipline), the weight
    total is an exact decimal sum, and the per-stratum allocation
    rounds half-up via ``floor(x + 0.5)`` (HALF_UP spelled out
    because engines disagree on bankers' rounding). Row selection is
    the md5-ordered prefix — reproducible across engines, reruns and
    partitionings.

    Plan shape: one stats aggregation (metadata-sized result,
    broadcast back), one per-stratum rank window for the prefix
    draw. A pathological mega-stratum makes that window partition
    large; the documented scale fix is a bucket-threshold refinement
    (select by hash range, then rank only the boundary bucket).
    """
    # v * v / mean * mean, never pow(x, 2): IEEE multiply is
    # bit-identical across engines, pow may take the exp/ln path
    # (repo determinism rule; the oracle uses the same form).
    v = F.round(F.col(value), 6)
    mean = F.col("s1").cast("double") / F.col("n_h")
    stats = df.groupBy(stratum).agg(
        F.count("*").alias("n_h"),
        F.sum(v.cast("decimal(18,6)")).alias("s1"),
        F.sum(
            F.round(v * v, 12).cast("decimal(24,12)")
        ).alias("s2"),
    )
    sigma = F.round(
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("n_h")
                - mean * mean,
                F.lit(0.0),
            )
        ),
        6,
    )
    weights = stats.select(
        stratum,
        "n_h",
        sigma.alias("sigma"),
        F.round(F.col("n_h") * sigma, 6)
        .cast("decimal(24,6)")
        .alias("w"),
    )
    tot = weights.agg(F.sum("w").alias("tw"))
    alloc = (
        weights.crossJoin(F.broadcast(tot))
        .filter(F.col("tw") > 0)
        .select(
            stratum,
            "n_h",
            "sigma",
            F.floor(
                F.lit(float(n_out))
                * F.col("w").cast("double")
                / F.col("tw").cast("double")
                + 0.5
            )
            .cast("long")
            .alias("alloc"),
        )
    )
    w_rank = Window.partitionBy(stratum).orderBy(
        F.md5(F.col(key).cast("string")), F.col(key)
    )
    ranked = df.select(stratum, key).withColumn(
        "rn", F.row_number().over(w_rank)
    )
    return (
        ranked.join(F.broadcast(alloc), stratum)
        .filter(F.col("rn") <= F.col("alloc"))
        .select(stratum, key, "alloc", "n_h", "sigma")
    )

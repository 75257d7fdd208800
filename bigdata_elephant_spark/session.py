"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same configs apply per-executor. Key choices:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion) — the 100 TB safety net.
- ``spark.sql.shuffle.partitions`` sized to cores locally; at cluster
  scale AQE coalesces from a high initial number, so we set the
  initial partition count high and let AQE shrink it.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Operators that persist an intermediate (LSH signatures, vocabulary)
# register it here; a long-lived session (the driver runs ~80 queries
# in one) calls release_caches() between queries so cached blocks
# don't accumulate. MEMORY_AND_DISK: an oversized intermediate spills
# instead of evicting hot blocks or OOMing an executor.
_TRACKED_CACHES: list[DataFrame] = []


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """persist() with session-scoped lifecycle tracking."""
    df = df.persist(level)
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> None:
    """Unpersist every tracked intermediate and close every open text
    index handle (``operators.search.open_text_index``), unpersisting
    its doc lengths — safe to call anytime: an in-flight plan
    recomputes instead of failing, and the next query reopens its
    handle."""
    from bigdata_elephant_spark.operators.search import close_text_indexes

    while _TRACKED_CACHES:
        _TRACKED_CACHES.pop().unpersist()
    close_text_indexes()


def get_spark(
    app_name: str = "bigdata-elephant-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Size the single local JVM for its thread count: Spark's 1g
    # default leaves ~12 MB of execution memory per concurrent task
    # at local[32] — forced hash builds and wide sorts then die with
    # "Can't acquire N bytes to build hash relation" long before the
    # data is large (hit at the 10x spot-check SF). ~0.25 GB/core,
    # floor 4 GB, honors an explicit SPARK_GRAFT_DRIVER_MEM. Only
    # effective when this call launches the JVM (the normal path);
    # a pre-existing session keeps its memory.
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(4, cpus // 4)}g"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata's events.ts is parquet TIMESTAMP(NANOS), which Spark
        # rejects by default; read as long and convert in read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # and TIMESTAMP(MICROS) isAdjustedToUTC=false must read as
        # TimestampType (not NTZ): watermarks require it, and UTC
        # session tz makes the values match the naive oracle.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed sinks) land outside the repo
        .config("spark.sql.warehouse.dir", "/tmp/elephant-warehouse")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    return builder.getOrCreate()


# ------------------------------------------------------- broadcast gate
#
# An explicit F.broadcast() hint is NOT a soft preference: Catalyst
# honors it unconditionally, overriding autoBroadcastJoinThreshold,
# and past Spark's hard broadcast limits (8 GB table / driver memory)
# the job FAILS — it does not degrade to a shuffle join. So a hint is
# only safe on tables whose size is bounded by construction (a 1-row
# aggregate, a k-row top-k slice, a fixed dimension like nation).
# Any table that grows with the corpus/scale-factor must be gated:
# hint only when a size estimate says it is small, otherwise leave
# the join unhinted and let AQE pick the strategy from the RUNTIME
# size (AQE still broadcast-converts small builds for free).

# Well under the 8 GB hard fail point, generously above anything a
# sane build side should be.
BROADCAST_HINT_CAP_BYTES = 256 << 20


# plan_size_bytes memo: the stats call runs a full Catalyst optimize
# (plus an InMemoryFileIndex listing for scans) EAGERLY at
# query-construction time — repeated per maybe_broadcast call, which
# compounds as driver-side overhead when one artifact gates many
# queries in a process (the r8 in-suite bench creep's plausible
# contributor). Keyed on (JVM session, analyzed-plan semanticHash):
# the same logical frame in the same session re-optimizes to the
# same estimate. Staleness caveat: an artifact REWRITTEN at the same
# path mid-session can keep its old estimate — that only skews an
# advisory hint decision, never correctness, and AQE still re-plans
# from runtime sizes.
_PLAN_SIZE_CACHE: dict[tuple[int, int], int] = {}
_PLAN_SIZE_CACHE_MAX = 4096


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for ``df``'s optimized plan
    (file-scan byte sizes propagate through projections/filters;
    joins/aggregates inflate multiplicatively, so gate on the base
    scan via ``size_of`` when the frame is derived). Returns 0 when
    unavailable. Stat-less leaves (LogicalRDD from
    ``createDataFrame``-over-RDD, some connectors) report
    ``spark.sql.defaultSizeInBytes`` = Long.MaxValue as a
    never-broadcast sentinel, not a measurement — treated as
    unknown (0) here; callers decide which direction is safe.
    Memoized per (session, logical plan); see ``_PLAN_SIZE_CACHE``."""
    try:
        qe = df._jdf.queryExecution()
        key = (
            df.sparkSession._jsparkSession.hashCode(),
            qe.analyzed().semanticHash(),
        )
        if key in _PLAN_SIZE_CACHE:
            return _PLAN_SIZE_CACHE[key]
        size = int(qe.optimizedPlan().stats().sizeInBytes())
        size = 0 if size >= (1 << 62) else size
        if len(_PLAN_SIZE_CACHE) >= _PLAN_SIZE_CACHE_MAX:
            _PLAN_SIZE_CACHE.clear()
        _PLAN_SIZE_CACHE[key] = size
        return size
    except Exception:
        return 0


def maybe_broadcast(
    df: DataFrame,
    size_of: DataFrame | None = None,
    cap_bytes: int = BROADCAST_HINT_CAP_BYTES,
    fallback_scan: DataFrame | None = None,
    fallback_cap_bytes: int | None = None,
) -> DataFrame:
    """Size-gated broadcast hint: ``F.broadcast(df)`` only when the
    Catalyst size estimate of ``size_of`` (default ``df`` itself) is
    known and at or below ``cap_bytes``; otherwise ``df`` unhinted,
    leaving the join strategy to AQE's runtime sizes.

    ``size_of`` exists because join/aggregate stats are
    multiplicative garbage: for a derived build side (e.g.
    customer x nation), pass the scan whose size actually bounds the
    build (the customer scan). Unknown size (0) declines the hint —
    for a broadcast the safe direction is not hinting.

    ``fallback_scan``/``fallback_cap_bytes`` form the SECOND gate of
    the ``_vocab_probe`` pattern (operators/index.py): when the
    build side's own stats are unusable (derived frame, cached but
    unmaterialized aggregate) but a DOMAIN bound ties its size to a
    scan with reliable stats (Heaps' law: vocabulary-sized frames
    are provably small while the corpus scan is under
    ``VOCAB_BROADCAST_CORPUS_BYTES``), the hint is recovered from
    that bound instead of being declined."""
    from pyspark.sql import functions as F

    size = plan_size_bytes(df if size_of is None else size_of)
    if 0 < size <= cap_bytes:
        return F.broadcast(df)
    if fallback_scan is not None and fallback_cap_bytes:
        fsize = plan_size_bytes(fallback_scan)
        if 0 < fsize <= fallback_cap_bytes:
            return F.broadcast(df)
    return df

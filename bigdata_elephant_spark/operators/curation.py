"""Corpus-curation operators for LLM training-data pipelines:
perplexity-band sampling, cross-source contamination, token-budget
selection, and embedding outlier detection.

These extend the reference surface (zigzak1996/BigData-elephant has
no curation stage — its pipeline stops at the TF index,
`Indexer.java:151-165`) with the selection/filtering steps a 100 TB
pretraining corpus needs between "deduplicated" and "packed".

Cross-engine float discipline (same rules as the rest of the repo):
every float that feeds a *sum* is rounded to a fixed scale and cast
to exact decimal first, so aggregation order can't change the
result; `round(x, 6)` doubles are only compared/emitted, never
re-summed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_elephant_spark.functions.text import tokens_array
from bigdata_elephant_spark.operators.dedup import shingles_array
from bigdata_elephant_spark.operators.sampling import BUCKETS, sample_bucket

# ------------------------------------------------ surprisal banding

# CCNet/DSIR-style band keep-rates: the middle of the perplexity
# distribution is the sweet spot (low band = boilerplate of common
# tokens, high band = rare-token noise), so the two middle quartiles
# keep 50% and the tails keep 10%.
BAND_FRACTIONS: dict[int, float] = {0: 0.10, 1: 0.50, 2: 0.50, 3: 0.10}


def unigram_surprisal_scores(docs: DataFrame) -> DataFrame:
    """Per-doc mean token surprisal −ln p(w) under the corpus's own
    unigram distribution → ``(doc_id, n_tokens, avg_surprisal)``.

    Same construction as the registry's ``unigram_surprisal`` query:
    ln() runs once per *vocabulary word* (rounded to 6 decimals and
    cast to exact decimal there), so the per-doc sum is an exact
    decimal sum of identical addends on any engine and any
    partitioning. Two token passes (frequency build + score join).
    The vocabulary-sized score table joins back UNHINTED: the
    vocabulary grows with the corpus (Heaps' law, >8 GB at 100 TB)
    and a forced broadcast hint FAILS past Spark's limit instead of
    degrading — AQE broadcast-converts it at small scale from
    runtime sizes; only the 1-row total keeps a hint.
    """
    words = docs.select(
        "doc_id", F.explode(tokens_array("text")).alias("w")
    )
    freqs = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freqs.agg(F.sum("c").alias("t"))
    s = freqs.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.log(F.col("t")) - F.log(F.col("c")), 6)
        .cast("decimal(18,6)")
        .alias("s_w"),
    )
    return (
        words.join(s, ["w"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("s_w").cast("double") / F.count("*"), 6
            ).alias("avg_surprisal"),
        )
    )


def surprisal_band_sample(
    docs: DataFrame,
    fractions: dict[int, float] = BAND_FRACTIONS,
) -> DataFrame:
    """Perplexity-banded corpus sampling: band every doc into exact
    surprisal quartiles, then keep a deterministic hash sample per
    band → ``(doc_id, band, avg_surprisal)``.

    Quartile boundaries are EXACT order statistics, computed without
    a global row sort: scores are 6-decimal values, so the distinct-
    value frequency table is bounded (≤ one row per representable
    score — in practice ≪ corpus size); a running-count window over
    that *value table* finds the smallest score whose cumulative doc
    count reaches ``ceil(q·n)``. The value table is tiny, so its
    single-partition sort window is metadata-sized work; at 100 TB
    the same plan holds (the corpus-sized stages are one groupBy and
    one broadcast join), with ``approx_percentile`` as the documented
    fallback if the score grid were ever unbounded.

    Band membership uses ``score <= boundary`` on identical 6-decimal
    values, and the keep-decision is the repo's stable md5 bucket of
    ``doc_id`` — both bit-reproducible across engines, partitionings
    and reruns.
    """
    scored = unigram_surprisal_scores(docs)
    vals = scored.groupBy("avg_surprisal").agg(
        F.count("*").alias("cnt")
    )
    w = Window.orderBy("avg_surprisal").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        "avg_surprisal", F.sum("cnt").over(w).alias("cum")
    )
    tot = vals.agg(F.sum("cnt").alias("n"))
    cum = cum.crossJoin(F.broadcast(tot))
    bounds = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("avg_surprisal"),
                )
            ).alias(f"b{int(q * 100)}")
            for q in (0.25, 0.50, 0.75)
        ]
    )
    banded = scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "avg_surprisal",
        F.when(F.col("avg_surprisal") <= F.col("b25"), F.lit(0))
        .when(F.col("avg_surprisal") <= F.col("b50"), F.lit(1))
        .when(F.col("avg_surprisal") <= F.col("b75"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("band"),
    )
    keep = F.lit(False)
    for band, frac in fractions.items():
        keep = keep | (
            (F.col("band") == band)
            & (sample_bucket("doc_id") < round(frac * BUCKETS))
        )
    return banded.filter(keep).select(
        "doc_id", "band", "avg_surprisal"
    )


# --------------------------------------- cross-source contamination


def source_overlap_matrix(
    docs: DataFrame, shingle_n: int = 3
) -> DataFrame:
    """Pairwise shingle-set overlap between sources →
    ``(src_a, src_b, n_a, n_b, n_common, jaccard)`` for every source
    pair sharing at least one shingle.

    The contamination audit run before mixing crawl snapshots /
    vendor dumps: a high-Jaccard source pair means one is largely a
    re-crawl of the other and its mixture weight double-counts.

    Scale shape: the corpus-sized work is ONE distinct over
    ``(source, shingle)`` — after it, each shingle contributes at
    most ``(#sources choose 2)`` pair rows (sources are a small
    enumerable set, like partitions), so the self-join fan-out is
    bounded by ``#sources``, not by document count; no doc×doc work
    anywhere. Compare `containment_pairs` (dedup.py) which answers
    the same question at document grain.
    """
    # Carry `source` through the explode instead of joining shingles
    # back to the corpus on doc_id — saves a corpus-sized shuffle
    # join (the shingle table is the biggest intermediate here).
    # Same projection discipline as doc_shingles: tokens computed
    # once into a column before the shingle transform references it.
    toks = docs.select(
        "source", tokens_array("text").alias("__toks")
    )
    from bigdata_elephant_spark.session import persist_tracked

    # Persisted: consumed three times (join build, join probe,
    # per-source totals) — one corpus scan instead of three.
    src_sh = persist_tracked(
        toks.select(
            "source",
            F.explode(
                shingles_array("__toks", shingle_n)
            ).alias("shingle"),
        ).distinct()
    )
    per_src = src_sh.groupBy("source").agg(
        F.count("*").alias("n_sh")
    )
    a = src_sh.alias("a")
    b = src_sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    na = per_src.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
    )
    nb = per_src.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
    )
    return (
        common.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------- token-budget select


def token_budget_selection(
    docs: DataFrame, budget_per_source: int
) -> DataFrame:
    """Greedy per-source document selection under a token budget →
    ``(source, doc_id, n_tokens, cum_tokens)`` for the selected docs.

    Within each source, docs are taken longest-first (tie-broken by
    ``doc_id`` for determinism) while the running token total stays
    ≤ the budget — the per-domain quota step that keeps one giant
    source from dominating a fixed-size training mix.

    One corpus pass to count tokens, then a window partitioned by
    ``source`` — each source's docs sort within their own partition;
    no global sort, no driver state. A single pathological source
    would skew its one window partition; the mitigations are the
    repo's standard ones (`skew.py` salting for the count stage;
    the window itself is a per-key sort that AQE splits by key
    range).
    """
    toks = docs.select(
        "source",
        "doc_id",
        F.size(tokens_array("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = toks.select(
        "source",
        "doc_id",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return sel.filter(F.col("cum_tokens") <= budget_per_source)


# --------------------------------------------- embedding outliers


def embedding_outliers(
    emb: DataFrame, n_sigma: float = 2.0
) -> DataFrame:
    """Flag embeddings far from their label centroid →
    ``(vec_id, label, dist, threshold)`` for rows with
    ``dist > mean_label + n_sigma · std_label``.

    The mislabeled/garbage-example sweep run on an embedded corpus
    before fine-tuning: within each label, compute the centroid, the
    Euclidean distance of every vector to it, and flag the
    ``n_sigma`` tail of the per-label distance distribution.

    Scale shape: one ``posexplode`` pass (rows × dims) feeds BOTH the
    centroid aggregation and the distance aggregation; centroids are
    ``(#labels × dim)`` rows — broadcast. No pairwise work.

    Determinism: every sum is over exact decimals built from rounded
    per-element values (elements at 7 decimals, squared residuals at
    12), so centroids, distances, and the per-label mean/std are
    bit-identical across engines and partitionings; doubles appear
    only between rounds, on values already identical everywhere.
    """
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("v").cast("double"), 7)
        .cast("decimal(20,7)")
        .alias("vd"),
    )
    cent = elems.groupBy("label", "dim").agg(
        F.round(
            F.sum("vd").cast("double") / F.count("*"), 6
        ).alias("c")
    )
    # residual * residual (and dist * dist / mean * mean below),
    # never pow(x, 2): IEEE multiply is bit-identical across engines,
    # pow may take the exp/ln path (repo determinism rule; the
    # oracles use the same multiplied form).
    resid = F.col("vd").cast("double") - F.col("c")
    dists = (
        elems.join(F.broadcast(cent), ["label", "dim"])
        .select(
            "vec_id",
            "label",
            F.round(resid * resid, 12)
            .cast("decimal(24,12)")
            .alias("t"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.round(F.sqrt(F.sum("t").cast("double")), 6).alias(
                "dist"
            )
        )
    )
    dd = dists.select(
        "vec_id",
        "label",
        "dist",
        F.col("dist").cast("decimal(18,6)").alias("d1"),
        F.round(F.col("dist") * F.col("dist"), 12)
        .cast("decimal(24,12)")
        .alias("d2"),
    )
    stats = dd.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum("d1").alias("s1"),
        F.sum("d2").alias("s2"),
    )
    mean_d = F.col("s1").cast("double") / F.col("n")
    thr = stats.select(
        "label",
        F.round(
            mean_d
            + F.lit(n_sigma)
            * F.sqrt(
                F.greatest(
                    F.col("s2").cast("double") / F.col("n")
                    - mean_d * mean_d,
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("threshold"),
    )
    return (
        dd.join(F.broadcast(thr), "label")
        .filter(F.col("dist") > F.col("threshold"))
        .select("vec_id", "label", "dist", "threshold")
    )


# ------------------------------------------ temperature mixture


def temperature_mixture(
    docs: DataFrame, alpha: float, frac_out: float
) -> DataFrame:
    """Temperature-scaled multi-source sampling (the
    ``p_s ∝ n_s^alpha`` recipe of multilingual/multi-domain LLM
    mixes; alpha < 1 up-weights small sources relative to their raw
    share) → the kept rows ``(doc_id, source, rate)``.

    The output budget is ``frac_out`` of the corpus (a fraction, so
    the same query is meaningful at every scale factor). Each
    source's keep-rate is ``min(1, n_out·p_s / n_s)`` with
    ``n_out = frac_out·Σn`` and
    ``p_s = n_s^alpha / Σ n^alpha``, rounded to 6 decimals; the
    row-level keep decision is the repo's deterministic md5 bucket
    of ``doc_id`` against that rate — reproducible across engines,
    partitionings and reruns (same discipline as
    :func:`~bigdata_elephant_spark.operators.sampling.hash_sample`).

    Plan shape: per-source counts are a metadata-sized aggregate
    broadcast back onto the corpus; the corpus itself is touched by
    exactly one filter pass. Unlike
    :func:`~bigdata_elephant_spark.operators.sampling.mixture_rebalance`
    (exact per-stratum quotas via rank windows), rates here are
    probabilistic targets — no per-source sort at all, which is the
    cheaper contract when "approximately budget-sized" is enough.
    """
    # Each source's temperature weight n_s^alpha is rounded to 6
    # decimals and Z is summed as an exact decimal — partial-agg
    # order in a double sum is nondeterministic and differs from
    # DuckDB's order, and a last-ulp difference in Z could flip the
    # 6-decimal rate rounding at a half-way boundary (the repo's
    # exact-decimal-sum discipline; oracle mirrors this form).
    sizes = docs.groupBy("source").agg(
        F.count("*").alias("n_s")
    ).withColumn(
        "w_s",
        F.round(F.pow("n_s", F.lit(alpha)), 6).cast("decimal(24,6)"),
    )
    tot = sizes.agg(
        F.sum("w_s").alias("z"),
        F.sum("n_s").alias("t"),
    )
    rates = sizes.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(frac_out))
                * F.col("t")
                * F.col("w_s").cast("double")
                / F.col("z").cast("double")
                / F.col("n_s"),
            ),
            6,
        ).alias("rate"),
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(sample_bucket("doc_id") < F.col("rate") * BUCKETS)
        .select("doc_id", "source", "rate")
    )


# ------------------------------------------- quality classifier


# Stand-in linear model over interpretable text features — the shape
# (not the weights) of the fastText/logistic quality classifiers used
# by CCNet/FineWeb-style pipelines. A trained model drops in by
# replacing these constants; the plan is unchanged (pure expressions,
# whole-stage codegen, no UDF).
QUALITY_BIAS = -4.0
QUALITY_WEIGHTS = {
    "alpha_frac": 5.0,  # prose is mostly letters
    "stop_frac": 3.0,  # function words ⇒ natural language
    "mean_tok_len": 0.5,  # on min(mean,10)/10 — very short tokens ⇒ junk
    "digit_frac": -6.0,  # digit walls ⇒ tables/serial dumps
}
QUALITY_THRESHOLD = 0.5


def quality_logit_scores(
    docs: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Logistic quality score per document →
    ``(doc_id, alpha_frac, stop_frac, mean_tok_len, digit_frac,
    quality, keep)``.

    Features (each rounded to 6 decimals before entering the linear
    term, so the logit is built from engine-identical addends):

    * ``alpha_frac``  — a-z share of characters (lowercased),
    * ``digit_frac``  — 0-9 share of characters,
    * ``stop_frac``   — stopword share of tokens,
    * ``mean_tok_len``— mean token length, capped at 10.

    ``quality = sigmoid(bias + Σ w_i·f_i)`` rounded to 6;
    ``keep = quality ≥ 0.5``. One corpus pass, pure expressions —
    no UDF, no shuffle (the output is row-local).
    """
    from bigdata_elephant_spark.operators.textstats import (
        EN_STOPWORDS,
    )

    # The token array is projected into its own column FIRST: it is
    # referenced by three features below, and lambda-bearing
    # expressions (filter/aggregate) are excluded from codegen
    # subexpression elimination, so inlining tokens_array() re-runs
    # the tokenizer regexes per reference — measured 0.83 s → 0.57 s
    # warm at sf0.1 for this one projection (same trap as
    # doc_shingles' 25x note).
    toked = docs.select(
        "doc_id", "text", *extra_cols,
        tokens_array("text").alias("__toks"),
    )
    lowered = F.lower(F.col("text"))
    n_chars = F.length("text")
    toks = F.col("__toks")
    n_toks = F.size(toks)
    alpha_frac = F.round(
        F.length(F.regexp_replace(lowered, "[^a-z]", ""))
        / F.greatest(n_chars, F.lit(1)),
        6,
    )
    digit_frac = F.round(
        F.length(F.regexp_replace(lowered, "[^0-9]", ""))
        / F.greatest(n_chars, F.lit(1)),
        6,
    )
    stop_frac = F.round(
        F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
        / F.greatest(n_toks, F.lit(1)),
        6,
    )
    mean_tok_len = F.round(
        F.least(
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t),
            )
            / F.greatest(n_toks, F.lit(1)),
            F.lit(10.0),
        ),
        6,
    )
    feats = toked.select(
        "doc_id",
        *extra_cols,
        alpha_frac.alias("alpha_frac"),
        stop_frac.alias("stop_frac"),
        mean_tok_len.alias("mean_tok_len"),
        digit_frac.alias("digit_frac"),
    )
    z = F.lit(QUALITY_BIAS)
    z = z + F.lit(QUALITY_WEIGHTS["alpha_frac"]) * F.col("alpha_frac")
    z = z + F.lit(QUALITY_WEIGHTS["stop_frac"]) * F.col("stop_frac")
    z = z + F.lit(QUALITY_WEIGHTS["mean_tok_len"]) * (
        F.col("mean_tok_len") / 10.0
    )
    z = z + F.lit(QUALITY_WEIGHTS["digit_frac"]) * F.col("digit_frac")
    quality = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.select(
        "doc_id",
        *extra_cols,
        "alpha_frac",
        "stop_frac",
        "mean_tok_len",
        "digit_frac",
        quality.alias("quality"),
        (quality >= QUALITY_THRESHOLD).alias("keep"),
    )


# ------------------------------------------- dedup survivor pick


def dedup_survivors(
    groups: DataFrame, docs: DataFrame
) -> DataFrame:
    """Canonical-document election over transitive duplicate groups
    → ``(doc_id, group_id, n_chars, is_canonical)``.

    ``groups`` is the ``(doc_id, group_id)`` output of
    :func:`~bigdata_elephant_spark.operators.dedup.duplicate_groups`;
    within each group the longest document wins (ties to the lowest
    ``doc_id``) — the "keep the best copy, drop the rest" decision
    that turns near-dup detection into an actual corpus reduction.

    Plan shape: the group table is a tiny fraction of the corpus
    (only docs that HAVE a near-duplicate), so the join against
    ``docs`` broadcasts the group side; the rank window partitions
    by ``group_id``. Group sizes are NOT bounded by the LSH band
    structure — an identical-document mega-cluster (boilerplate,
    mirrored pages; 10^5–10^7 copies on web corpora) is one group,
    and its members land in one window partition. That is fine
    here: member rows are (id, group, n_chars) — ~30 bytes, so even
    10^7 copies is ~300 MB, spillable — the quadratic hazard lives
    in pair MINING, which is why the pipeline feeds this from
    star-collapsed edges (``lsh_candidate_edges``), never from the
    all-pairs join.
    """
    member = groups.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return member.select(
        "doc_id",
        "group_id",
        "n_chars",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


# ------------------------------------------- end-to-end pipeline


def curate_pipeline(
    docs: DataFrame,
    alpha: float = 0.5,
    frac_out: float = 0.3,
    est_sim_min: float = 0.5,
) -> DataFrame:
    """The full curation chain in one lazy plan: quality-classifier
    keep → drop non-canonical near-duplicates (LSH groups elected
    corpus-wide, longest survivor wins) → temperature-scaled source
    mixture over what remains → selected ``(doc_id, source, rate)``.

    The operator behind the ``llm_pipeline_e2e`` registry query and
    the ``curate`` CLI subcommand. ``docs`` needs ``doc_id``,
    ``text``, ``source`` and ``n_chars`` columns (the standard
    corpus shape); each stage is the audited standalone operator, so
    the composition inherits their scale arguments — see SCALE.md.

    Mega-duplicate guard (two layers, both component-preserving):
    an ``exact_dedup_map`` pre-collapse keeps identical-TEXT copies
    out of MinHash entirely (members attach by star edges; only
    canonical representatives are shingled — on a web corpus the
    10^6-copy boilerplate cluster costs one signature, not 10^6),
    and the representative signatures go through
    ``lsh_candidate_edges`` (identical-SIGNATURE collapse + star
    edges) instead of the all-pairs bucket self-join. The duplicate
    groups — hence survivors, hence the selection — are identical to
    the all-pairs formulation: ``est_sim`` is a pure function of the
    two signatures, identical texts have identical signatures
    (est_sim 1.0 ≥ any threshold ≤ 1), so cliques collapse to stars
    with the same transitive closure.

    Equivalence requires matching the MinHash DOMAIN, not just its
    arithmetic: documents with fewer than ``shingle_n`` surviving
    tokens produce no signature, so the all-pairs formulation can
    never group them — the exact pre-collapse therefore only emits
    star edges for signature-ELIGIBLE documents (a ``tokens >=
    shingle_n`` filter: one tokenize pass, no explode/shuffle —
    still arbitrarily cheaper than the per-copy shingle+minhash it
    replaces). Without the filter, two identical sub-shingle docs
    ("hello world" twice) would be grouped here but not by the
    oracle.
    """
    from bigdata_elephant_spark.functions.text import tokens_array
    from bigdata_elephant_spark.operators import dedup
    from bigdata_elephant_spark.session import persist_tracked

    keep_ids = (
        quality_logit_scores(docs).filter("keep").select("doc_id")
    )
    # exact pre-collapse over signature-eligible docs only (see
    # docstring): (doc_id, canonical) feeds the star edges AND the
    # representative filter — persist so the hash+window shuffle
    # runs once. The eligibility floor is the SAME constant
    # minhash_signatures defaults to, so the domains cannot drift.
    eligible = docs.filter(
        F.size(tokens_array("text")) >= dedup.DEFAULT_SHINGLE_N
    )
    cmap = persist_tracked(dedup.exact_dedup_map(eligible))
    exact_star = cmap.filter(
        F.col("doc_id") != F.col("canonical_doc_id")
    ).select(
        F.col("canonical_doc_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
    )
    rep_ids = cmap.filter(
        F.col("doc_id") == F.col("canonical_doc_id")
    ).select("doc_id")
    reps = docs.join(rep_ids, "doc_id", "left_semi")
    sigs = dedup.minhash_signatures(reps)
    lsh_edges = (
        dedup.lsh_candidate_edges(sigs)
        .filter(F.col("est_sim") >= est_sim_min)
        .select("doc_a", "doc_b")
    )
    groups = dedup.duplicate_groups(
        exact_star.unionByName(lsh_edges)
    )
    noncanon = (
        dedup_survivors(groups, docs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    # kept is consumed twice downstream (the mixture's per-source
    # sizes aggregate AND the final rate join) — unpersisted, each
    # consumer replays the quality-score pass plus both joins.
    # (doc_id, source) is two narrow columns per surviving doc, the
    # same metadata-size class as the persisted cmap above.
    kept = persist_tracked(
        docs.join(keep_ids, "doc_id")
        .join(noncanon, "doc_id", "left_anti")
        .select("doc_id", "source")
    )
    return temperature_mixture(kept, alpha=alpha, frac_out=frac_out)


# -------------------------------- DSIR importance resampling


DSIR_BUCKETS = 256


def dsir_doc_buckets(docs: DataFrame, m: int = DSIR_BUCKETS) -> DataFrame:
    """Hashed n-gram (unigram + bigram) bucket counts per document →
    ``(doc_id, b, c)``.

    The feature map of Data Selection via Importance Resampling
    (Xie et al. 2023, public): each token and each adjacent token
    pair hashes into one of ``m`` buckets via the repo's
    engine-portable :func:`~bigdata_elephant_spark.functions.hashing.h32`,
    and a document's feature vector is its bucket-count histogram.

    Plan shape: tokens are computed ONCE into a column (inlining the
    tokenize tree into the shingle transform re-runs the regex per
    position — the measured 25x trap in ``doc_shingles``), unigrams
    and bigrams are one ``explode`` of the concatenated arrays, and
    the only shuffle is the ``(doc_id, b)`` count — map-side partials
    make it a near-no-op since a document's grams are co-located in
    its input split. At 100 TB this is one token-stream pass; the
    output is ≤ m rows per document.
    """
    from bigdata_elephant_spark.functions.hashing import h32
    from bigdata_elephant_spark.operators.dedup import shingles_array

    toks = docs.select("doc_id", tokens_array("text").alias("__toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("__toks"), shingles_array("__toks", n=2)
            )
        ).alias("g"),
    )
    return grams.groupBy(
        "doc_id", F.pmod(h32("g"), F.lit(m)).alias("b")
    ).agg(F.count("*").alias("c"))


def dsir_bucket_logratios(
    doc_b: DataFrame,
    target_ids: DataFrame,
    m: int = DSIR_BUCKETS,
    full_domain: bool = False,
) -> DataFrame:
    """Per-bucket smoothed log importance ratio
    ``λ_b = ln p̂_target(b) − ln q̂_raw(b)`` → ``(b, lam)``.

    ``p̂``/``q̂`` are add-1-smoothed bag-of-hashed-ngrams unigram
    models (the DSIR estimator): ``(cnt_b + 1) / (tot + m)`` over the
    target subset and the full corpus respectively. Both distributions
    come from ONE m-row aggregate of the already-compacted ``doc_b``
    histogram (the target membership is a broadcast join flag).
    Lazily composed, the histogram lineage is recomputed per consumer
    (Catalyst does not share subplans): three token passes for the
    full score query. Measured at sf0.1 a ``doc_b.persist()`` does
    NOT beat the recompute (2.8 s vs 2.7 s warm — local scans are
    cheap; the repo's standing measurement that corpus-adjacent
    caching loses); at 100 TB, pre-materialize ``dsir_doc_buckets``
    once and feed the persisted histogram to both this function and
    :func:`dsir_scores` — every pass then reads the compacted
    histogram, never raw text. That path is REAL, not prescription:
    :func:`dsir_select_from_buckets` + the ``dsir_select_indexed``
    registry query run exactly it over a per-corpus parquet
    artifact (``plans.curation_queries._dsir_artifact``). λ is rounded
    to 6 decimals and cast to exact decimal — per-doc scores are then
    exact sums of engine-identical addends (the repo's decimal-sum
    discipline), with the four ``ln`` calls kept in one fixed
    left-associated order that the oracle mirrors verbatim.
    """
    flagged = doc_b.join(
        F.broadcast(target_ids.select("doc_id")).withColumn(
            "__t", F.lit(1)
        ),
        "doc_id",
        "left",
    )
    dist = flagged.groupBy("b").agg(
        F.sum("c").alias("qc"),
        F.coalesce(
            F.sum(F.when(F.col("__t") == 1, F.col("c"))), F.lit(0)
        ).alias("pc"),
    )
    if full_domain:
        # Complete the bucket domain with zero-count rows: a frozen λ
        # table scoring FUTURE batches (:func:`dsir_score_against`)
        # must define every bucket a new document can hash into —
        # the smoothed model gives unseen buckets
        # ``ln((qt+m)/(pt+m))``, it does not drop their mass (the
        # repo's LEFT+coalesce sketch-probe rule). Self-scoring keeps
        # the observed-only table (observed ⊆ observed; m−|observed|
        # dead rows would be noise).
        domain = (
            doc_b.sparkSession.range(m)
            .select(F.col("id").alias("b"))
        )
        dist = domain.join(dist, "b", "left").select(
            "b",
            F.coalesce("qc", F.lit(0)).alias("qc"),
            F.coalesce("pc", F.lit(0)).alias("pc"),
        )
    tot = dist.agg(
        F.sum("qc").alias("qt"), F.sum("pc").alias("pt")
    )
    return dist.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(F.col("pc") + 1)
            - F.log(F.col("pt") + m)
            - F.log(F.col("qc") + 1)
            + F.log(F.col("qt") + m),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lam"),
    )


def dsir_scores(
    docs: DataFrame,
    target_ids: DataFrame,
    m: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR log importance weight →
    ``(doc_id, n_grams, logw)``.

    ``logw = Σ_b c_b · λ_b`` — the log likelihood ratio of the doc
    under the target vs raw hashed-ngram models. Documents whose
    tokens are all filtered have no feature mass and are absent (a
    zero-information doc has no evidence either way; the oracle's
    inner joins agree). The λ table is m rows and broadcasts; the
    per-doc sum is exact decimal arithmetic, emitted as a 6-decimal
    double. One corpus pass + one histogram-sized aggregation.
    """
    doc_b = dsir_doc_buckets(docs, m)
    lam = dsir_bucket_logratios(doc_b, target_ids, m)
    return _dsir_doc_agg(doc_b, lam)


def _dsir_doc_agg(doc_b: DataFrame, lam: DataFrame) -> DataFrame:
    """Per-doc exact-decimal weight sum over a broadcast λ table."""
    return doc_b.join(F.broadcast(lam), "b").groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.round(
            F.sum(F.col("c") * F.col("lam")).cast("double"), 6
        ).alias("logw"),
    )


def dsir_score_against(
    delta_docs: DataFrame,
    lam: DataFrame,
    m: int = DSIR_BUCKETS,
) -> DataFrame:
    """Admission scoring: DSIR log-weights for an incoming batch
    against a FROZEN λ table → ``(doc_id, n_grams, logw)``.

    The production incremental path (same contract as the repo's
    incremental dedup/vocab/index family): the importance model is
    fit once on the indexed corpus — ``dsir_bucket_logratios(...,
    full_domain=True)``, so every bucket a new document can hash
    into is defined — then daily batches are scored by one delta
    token pass + a broadcast m-row join. The base corpus text is
    never re-read; refit cadence is a policy knob, not a
    correctness requirement (λ is add-1 smoothed, so a frozen table
    remains a proper distribution ratio).
    """
    return _dsir_doc_agg(dsir_doc_buckets(delta_docs, m), lam)


def dsir_select(
    docs: DataFrame,
    target_ids: DataFrame,
    n: int,
    m: int = DSIR_BUCKETS,
) -> DataFrame:
    """Deterministic DSIR selection: the ``n`` documents whose
    hashed-ngram profile most resembles the target subset →
    ``(doc_id, n_grams, logw)``, highest log-weight first.

    Plans as ``TakeOrderedAndProject`` (map-side heaps, no global
    sort); ties on the 6-decimal weight break by ``doc_id`` so the
    selected set is unique on every engine and partitioning.
    """
    return (
        dsir_scores(docs, target_ids, m)
        .orderBy(F.desc("logw"), "doc_id")
        .limit(n)
    )


def dsir_select_from_buckets(
    doc_b: DataFrame,
    target_ids: DataFrame,
    n: int,
    m: int = DSIR_BUCKETS,
) -> DataFrame:
    """:func:`dsir_select` over a PRE-MATERIALIZED ``(doc_id, b, c)``
    histogram — the production shape the ``dsir_bucket_logratios``
    docstring prescribes for 100 TB: the hashed-ngram histogram is
    built once (one token pass over raw text) and persisted; every
    selection / refit / re-weighting pass afterwards reads only the
    compacted histogram (≤ m rows per doc — orders of magnitude
    smaller than the text) and never re-tokenizes. Identical output
    to :func:`dsir_select` on the same corpus, because
    ``dsir_scores`` is a pure function of the histogram."""
    lam = dsir_bucket_logratios(doc_b, target_ids, m)
    return (
        _dsir_doc_agg(doc_b, lam)
        .orderBy(F.desc("logw"), "doc_id")
        .limit(n)
    )


def dsir_gumbel_sample(
    docs: DataFrame,
    target_ids: DataFrame,
    n: int,
    m: int = DSIR_BUCKETS,
    salt: str = ":dsir",
) -> DataFrame:
    """DSIR importance *resampling* via the Gumbel-top-k trick →
    ``(doc_id, logw, gkey)``: taking the top ``n`` keys
    ``gkey = logw + Gumbel(0,1)`` draws ``n`` documents without
    replacement with probability ∝ exp(logw) — the paper's sampled
    selection rather than the greedy top-n.

    The Gumbel noise is derandomized the repo's way: the uniform is
    the doc's salted md5 bucket ``u = (h32(doc_id||salt)+1) / (2^32+1)``
    (never 0 or 1, so both ``ln`` calls are finite), giving a sample
    that is reproducible across engines, partitionings and reruns —
    a re-run of the selection on a 100 TB corpus is byte-identical.
    Same ``TakeOrderedAndProject`` shape as :func:`dsir_select`.
    """
    from bigdata_elephant_spark.functions.hashing import h32

    u = (
        h32(F.concat(F.col("doc_id").cast("string"), F.lit(salt)))
        + 1
    ) / F.lit(float(2**32 + 1))
    return (
        dsir_scores(docs, target_ids, m)
        .select(
            "doc_id",
            "logw",
            F.round(
                F.col("logw") - F.log(-F.log(u)), 6
            ).alias("gkey"),
        )
        .orderBy(F.desc("gkey"), "doc_id")
        .limit(n)
    )


# ------------------------------------------------ ingest contracts

# Document-validity classes, most-broken-first (first match wins) —
# the text-side twin of the embedding ingest gate
# (similarity.py embedding_validity): downstream text operators
# assume non-null, non-blank, well-decoded text whose n_chars
# metadata matches the payload, and a broken row costs least when it
# is dead-lettered at ingest rather than discovered as a skewed
# tokenizer output or a wrong dedup group hours into a 100 TB run.
DOC_VALIDITY_CLASSES = (
    "null_text", "blank", "mojibake", "length_mismatch", "ok"
)


def document_validity(docs: DataFrame) -> DataFrame:
    """Adds a ``validity`` column classifying each document:

    - ``null_text``: the text column is NULL;
    - ``blank``: empty or whitespace-only — matched with an EXPLICIT
      character class (``[ \\t\\n\\r\\f\\x0B]``), anchored, because
      the shorthand ``\\s`` diverges between engines (Java includes
      vertical tab, DuckDB's RE2 does not) and ``trim`` strips spaces
      only; the anchored ``rlike`` also fails at the first
      non-whitespace character instead of materializing a rewritten
      copy of every document on the ingest hot path. A blank row is a
      tokenizer no-op that still costs a row everywhere downstream;
    - ``mojibake``: contains U+FFFD — the replacement character a
      lossy decode leaves behind, the standard "this text was mangled
      upstream" marker;
    - ``length_mismatch``: the ``n_chars`` metadata column disagrees
      with ``char_length(text)`` — the payload/metadata contract
      break that silently corrupts length-keyed sampling and stats;
    - ``ok``: in contract.

    Pure column expressions (no UDF, no shuffle): pipelines into the
    ingest scan like the embedding gate and the CSV dead-letter lane.
    """
    txt = F.col("text")
    validity = (
        F.when(txt.isNull(), F.lit("null_text"))
        .when(txt.rlike(r"^[ \t\n\r\f\x0B]*$"), F.lit("blank"))
        .when(txt.contains(F.lit("�")), F.lit("mojibake"))
        .when(
            # null-safe: a NULL n_chars is itself a metadata-contract
            # break, not an "ok" (IS DISTINCT FROM semantics)
            ~F.col("n_chars").eqNullSafe(F.length(txt)),
            F.lit("length_mismatch"),
        )
        .otherwise(F.lit("ok"))
    )
    return docs.withColumn("validity", validity)


def quarantine_documents(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split on :func:`document_validity`:
    ``(clean, quarantined)``, same lane shape as
    ``quarantine_embeddings`` and the CSV bad-record sink."""
    classified = document_validity(docs)
    clean = classified.filter(F.col("validity") == "ok").drop("validity")
    quarantined = classified.filter(F.col("validity") != "ok")
    return clean, quarantined

"""Text analysis operators for training-data pipelines.

All single-pass, expression-only (whole-stage codegen; zero Python in
the data path): quality stats, language-ID heuristic, token counting,
and content fingerprinting. Each is one narrow projection or one
partially-aggregated groupBy — the shapes that stay cheap at 100 TB.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_elephant_spark.functions.hashing import h32
from bigdata_elephant_spark.operators.dedup import (
    shingles_array,
    tokens_array,
)

# Tiny fixed stopword list — a real deployment plugs in a per-language
# list; fixed here so the oracle can embed the same constants.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# BPE-ish pretokenizer: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc quality stats: lengths, ratios, stopword share."""
    # Project the token array once; the stats below reference it 4x
    # and inlining the tokenize regex per reference multiplies cost.
    df = df.select(id_col, text_col, tokens_array(text_col).alias("__toks"))
    toks = F.col("__toks")
    lower = F.lower(F.col(text_col))
    n_chars = F.length(text_col).cast("long")
    alnum_space = F.length(
        F.regexp_replace(lower, r"[^a-z0-9\s]", "")
    )
    digits = F.length(lower) - F.length(
        F.regexp_replace(lower, r"[0-9]", "")
    )
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*EN_STOPWORDS))
    ).cast("long")
    return df.select(
        id_col,
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.round(
            F.when(
                n_tokens > 0,
                (
                    F.aggregate(
                        F.transform(toks, lambda x: F.length(x).cast("double")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / n_tokens
                ),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
        F.round(
            (n_chars - alnum_space) / F.greatest(n_chars, F.lit(1)), 6
        ).alias("punct_ratio"),
        F.round(digits / F.greatest(n_chars, F.lit(1)), 6).alias(
            "digit_ratio"
        ),
        F.round(
            stop_hits / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("stopword_ratio"),
    )


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.05,
) -> DataFrame:
    """Stopword-density language-ID heuristic -> ``(id, en_score, pred_lang)``.

    A real system uses char n-gram profiles per language; the Spark
    shape is identical (a filtered-array density per profile), so
    this single-profile version stands in without loss of structure.
    """
    df = df.select(id_col, tokens_array(text_col).alias("__toks"))
    toks = F.col("__toks")
    n_tokens = F.size(toks).cast("long")
    hits = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    score = F.round(hits / F.greatest(n_tokens, F.lit(1)), 6)
    return df.select(
        id_col,
        score.alias("en_score"),
        F.when(score > threshold, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace and BPE-ish token counts per doc."""
    lower = F.lower(F.col(text_col))
    ws = F.size(
        F.filter(
            F.split(F.trim(lower), r"\s+"), lambda x: F.length(x) > 0
        )
    ).cast("long")
    bpe = F.regexp_count(lower, F.lit(BPE_ISH_PATTERN)).cast("long")
    return df.select(
        id_col, ws.alias("ws_tokens"), bpe.alias("bpe_ish_tokens")
    )


# Minimal per-language char-trigram profiles. Real systems learn a
# few hundred trigrams per language from corpora; the scoring shape
# (density against each profile, argmax) is identical.
LANG_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "ing", "and", "ion", "ent", "for", "tio", "ere",
           "her", "ate"),
    "de": ("der", "die", "und", "ein", "sch", "ich", "den", "che",
           "gen", "ung"),
    "fr": ("les", "ent", "des", "est", "que", "ion", "ait", "lle",
           "une", "eur"),
}


def lang_id_profiles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Multi-profile char-trigram language ID: score the document's
    trigram stream against every language profile, predict the
    argmax (ties broken by language name for determinism).

    One pass: the trigram array is computed once (projected column —
    HOF lambdas re-evaluate inlined subtrees), then each profile
    score is a filtered-size expression over it.
    """
    profiles = profiles or LANG_TRIGRAM_PROFILES
    norm = df.select(
        id_col,
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", "")
        .alias("__norm"),
    )
    n = F.length("__norm")
    tri_df = norm.select(
        id_col,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(0))),
            lambda i: F.substring(F.col("__norm"), i, 3),
        ).alias("__tri"),
    )
    denom = F.greatest(F.size("__tri"), F.lit(1))

    def in_profile(p):
        # closure factory: a 2-arg lambda would make PySpark bind the
        # array INDEX to the second parameter
        return lambda t: t.isin(*p)

    scored = tri_df.select(
        id_col,
        *[
            F.round(
                F.size(F.filter("__tri", in_profile(p))) / denom, 6
            ).alias(f"score_{lang}")
            for lang, p in sorted(profiles.items())
        ],
    )
    best = F.greatest(*[F.col(f"score_{l}") for l in sorted(profiles)])
    pred = F.coalesce(
        *[
            F.when(F.col(f"score_{l}") == best, F.lit(l))
            for l in sorted(profiles)
        ]
    )
    return scored.select(
        id_col,
        *[f"score_{l}" for l in sorted(profiles)],
        F.when(best > 0, pred).otherwise(F.lit("unknown"))
        .alias("pred_lang"),
    )


def pandas_ws_token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count via a *scalar pandas UDF* — the
    Arrow-vectorized escape hatch for logic the expression DSL can't
    say (here it can, which is exactly what makes this oracle-able:
    integer outputs, no float drift). One Arrow batch round-trip per
    partition chunk; still ~10-100x faster than a row-at-a-time
    Python UDF, still slower than staying JVM-side — see
    token_counts for the production form."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ws_count(texts: pd.Series) -> pd.Series:
        return texts.str.split().str.len().fillna(0).astype("int64")

    return df.select(id_col, ws_count(F.col(text_col)).alias("ws_tokens"))


def doc_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Winnowing-style content fingerprint: min/max shingle hash.

    Two docs sharing a fingerprint share at least one shingle —
    a cheap first-pass clustering key for near-dup detection.
    Docs with < ``shingle_n`` tokens fingerprint to -1.
    """
    # Token array must be a materialized column before shingling —
    # the shingle lambda indexes it per element (see doc_shingles).
    df = df.select(id_col, tokens_array(text_col).alias("__toks"))
    sh = shingles_array("__toks", shingle_n)
    hashes = F.transform(sh, lambda s: h32(s))
    return df.select(
        id_col,
        F.coalesce(F.array_min(hashes), F.lit(-1)).alias("fp_min"),
        F.coalesce(F.array_max(hashes), F.lit(-1)).alias("fp_max"),
    )


def gopher_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_dup_word_frac: float = 0.55,
    max_top_word_frac: float = 0.12,
    max_top_bigram_frac: float = 0.10,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", table A1): per-document duplicate-word
    fraction, most-frequent-word share, most-frequent-bigram share,
    and the resulting keep/drop flag.

    Shape: explode -> per-(doc,gram) count -> per-doc aggregate, for
    words and bigrams, joined on doc_id. Two shuffles keyed on doc_id
    (bounded by corpus token count, no quadratic term), all built-in
    expressions — this is the form that survives 100 TB, unlike the
    per-row ``transform × filter`` array scan which is O(distinct ·
    len) per document.

    Flags compare 6-decimal-rounded ratios of exact integer counts,
    so both engines compare identical doubles against the thresholds.
    """
    toks = df.select(id_col, tokens_array(text_col).alias("__toks"))
    words = toks.select(id_col, F.explode("__toks").alias("w"))
    wstats = (
        words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_word_cnt"),
        )
    )
    # bigram array: zip of toks[:-1] with toks[1:] (empty when < 2)
    bigrams = toks.select(
        id_col,
        F.explode(
            F.zip_with(
                F.expr("slice(__toks, 1, greatest(size(__toks) - 1, 0))"),
                F.expr("slice(__toks, 2, greatest(size(__toks) - 1, 0))"),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    bgstats = (
        bigrams.groupBy(id_col, "bg").agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_cnt"),
        )
    )
    j = (
        toks.select(id_col)
        .join(wstats, [id_col], "left")
        .join(bgstats, [id_col], "left")
    )
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0))
    dup_frac = F.round(
        (n_tok - F.coalesce(F.col("n_distinct"), F.lit(0)))
        / F.greatest(n_tok, F.lit(1)),
        6,
    )
    topw_frac = F.round(
        F.coalesce(F.col("top_word_cnt"), F.lit(0))
        / F.greatest(n_tok, F.lit(1)),
        6,
    )
    topb_frac = F.round(
        F.coalesce(F.col("top_bigram_cnt"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_bigrams"), F.lit(0)), F.lit(1)),
        6,
    )
    return j.select(
        id_col,
        n_tok.cast("long").alias("n_tokens"),
        dup_frac.alias("dup_word_frac"),
        topw_frac.alias("top_word_frac"),
        topb_frac.alias("top_bigram_frac"),
        (
            (dup_frac < max_dup_word_frac)
            & (topw_frac < max_top_word_frac)
            & (topb_frac < max_top_bigram_frac)
        ).alias("quality_pass"),
    )


def corpus_ngram_counts(
    df: DataFrame, n: int = 2, text_col: str = "text",
    id_col: str = "doc_id", top_k: int = 50,
) -> DataFrame:
    """Corpus-wide n-gram frequency table (top_k most frequent).

    The canonical scaled word-count: explode n-grams, one partially-
    aggregated groupBy on the gram, TakeOrderedAndProject for the
    top-k — no global sort, map-side combine does most of the work.
    """
    toks = df.select(tokens_array(text_col).alias("__toks"))
    if n == 1:
        grams = toks.select(F.explode("__toks").alias("gram"))
    else:
        cols = [
            F.expr(
                f"slice(__toks, {i + 1}, "
                f"greatest(size(__toks) - {n - 1}, 0))"
            )
            for i in range(n)
        ]
        arr = cols[0]
        for c in cols[1:]:
            arr = F.zip_with(arr, c, lambda a, b: F.concat_ws(" ", a, b))
        grams = toks.select(F.explode(arr).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "gram")
        .limit(top_k)
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """One BPE-training merge-step statistic: the corpus's most
    frequent adjacent symbol pairs within words, weighted by word
    frequency — the quantity byte-pair-encoding maximizes when it
    picks the next merge.

    The pair scan runs over the DISTINCT word table (word, n), not
    the corpus: a 100 TB corpus has a vocabulary-sized distinct-word
    table (Heaps' law), so each further merge iteration rescans
    ~megabytes, not terabytes — which is why production BPE trainers
    precompute exactly this table. Pair explosion is a
    sequence+transform over character offsets (map-only); one
    aggregation keyed on the pair.
    """
    from bigdata_elephant_spark.functions.text import tokens_array

    words = (
        df.select(
            F.explode(tokens_array(text_col)).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.struct(
                    F.col("word").substr(i, F.lit(1)).alias("sym_a"),
                    F.col("word").substr(i + 1, F.lit(1)).alias("sym_b"),
                ),
            )
        ).alias("p"),
    ).select("n", "p.sym_a", "p.sym_b")
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.sum("n").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "sym_a", "sym_b")
        .limit(top_n)
    )


def hashed_doc_vectors(docs: DataFrame, dims: int = 64) -> DataFrame:
    """Signed feature hashing ("hashing trick") of token counts into
    a ``dims``-dimensional sparse vector → long-form
    ``(doc_id, dim, val)`` with only non-zero dims.

    The text→vector bridge when no trained encoder is available (the
    HashingVectorizer construction): each token maps to dimension
    ``h32(w) mod dims`` with sign ``±1`` from an independent hash
    bit, and ``val`` is the signed token-count sum — an INTEGER, so
    the vector is exact on any engine/partitioning with no float
    discipline needed. Long form is also the scale-correct shape: a
    100 TB corpus never materializes dense arrays it doesn't need,
    and downstream cosine/ANN can consume the sparse rows or
    pivot-assemble arrays per batch.

    Plan shape: one token explode + one (doc_id, dim) partial+final
    count-sum — the same single-shuffle profile as postings_build.
    """
    words = docs.select(
        "doc_id", F.explode(tokens_array("text")).alias("w")
    )
    dim = F.pmod(h32(F.col("w")), F.lit(dims))
    sign = F.when(
        F.pmod(h32(F.concat(F.lit("s"), F.col("w"))), F.lit(2)) == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        words.select(
            "doc_id", dim.alias("dim"), sign.alias("sign")
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )


def bigram_surprisal_scores(docs: DataFrame) -> DataFrame:
    """Per-doc mean bigram surprisal ``−ln p(w2|w1)`` under an add-1
    smoothed corpus bigram LM → ``(doc_id, n_bigrams,
    avg_bigram_surprisal)``; docs with fewer than 2 tokens drop.

    The next step up from ``unigram_surprisal``: conditional
    probabilities catch word-salad documents whose unigram profile
    looks natural.  ``p(w2|w1) = (c(w1w2)+1) / (c1(w1)+V)`` where
    ``c1`` counts bigram STARTS (so the distribution sums to 1 over
    the vocabulary) and ``V`` is the distinct-unigram vocabulary
    size. ln() runs once per distinct bigram, rounded to 6 decimals
    and cast to exact decimal, so per-doc sums are engine- and
    partitioning-exact (same discipline as the unigram query).

    Plan shape: one corpus pass builds the bigram stream (array
    slice+zip — no self-join); the count tables join back onto it
    UNHINTED. Distinct bigram types grow ~n^0.7 with corpus size
    (billions of rows at 100 TB), and a forced ``F.broadcast`` hint
    does not degrade past the broadcast limit — it overrides
    ``autoBroadcastJoinThreshold`` unconditionally and FAILS at
    Spark's 8 GB/driver-memory cap. Unhinted, AQE broadcast-converts
    the joins at small scale from runtime sizes (same plan, for
    free) and shuffles on ``bg``/``w1`` at large scale — the
    correct degradation. Only the 1-row vocabulary-size aggregate
    keeps an explicit hint (bounded by construction).
    """
    toks = docs.select(
        "doc_id", tokens_array("text").alias("__toks")
    )
    n = F.size("__toks")
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice("__toks", 1, n - 1),
                    F.slice(F.col("__toks"), 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    from bigdata_elephant_spark.session import persist_tracked

    bigrams = persist_tracked(bigrams)
    # ONE stream-sized aggregation: c1(w1) = Σ_{bg starts with w1}
    # c2(bg), summed over the (much smaller) bigram-TYPE table
    # instead of a second full-stream shuffle keyed on w1 — the same
    # derivation kn_perplexity_scores already uses. typed is
    # persisted because it feeds both the c1 rollup and the scoring
    # join.
    typed = persist_tracked(
        bigrams.groupBy("bg")
        .agg(F.count("*").alias("c2"))
        .withColumn(
            "w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
    )
    c1 = typed.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab_size = (
        docs.select(
            F.explode(tokens_array("text")).alias("w")
        )
        .agg(F.countDistinct("w").alias("v"))
    )
    s = (
        typed.join(c1, "w1")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "bg",
            F.round(
                F.log(F.col("c1") + F.col("v"))
                - F.log(F.col("c2") + 1),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s_bg"),
        )
    )
    return (
        bigrams.join(s, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum("s_bg").cast("double") / F.count("*"), 6
            ).alias("avg_bigram_surprisal"),
        )
    )


def kn_perplexity_scores(
    docs: DataFrame, discount: float = 0.75
) -> DataFrame:
    """Per-doc log-perplexity under an interpolated Kneser-Ney
    bigram LM trained on the corpus itself → ``(doc_id, n_bigrams,
    kn_logppl)``; docs with fewer than 2 tokens drop.

    The KenLM/CCNet-style perplexity filter (public recipe:
    Heafield 2011, Wenzek et al. 2020), one order down: for each
    observed bigram,

    ``P_KN(w2|w1) = (c2 − d)/c1(w1)
                  + (d · N1+(w1,·)/c1(w1)) · (N1+(·,w2)/B)``

    where ``c1`` counts bigram starts, ``N1+(w1,·)`` /``N1+(·,w2)``
    are distinct right/left continuations, and ``B`` is the number
    of distinct bigram types — the continuation probability that
    makes KN rank versatile words above merely frequent ones.
    Scoring the training corpus means every scored bigram is
    observed (``c2 ≥ 1``), so the unseen-event backoff branch never
    fires and the whole model is exact count arithmetic.

    Cross-engine discipline: ``−ln P_KN`` runs once per distinct
    BIGRAM TYPE with one fixed parenthesization (the oracle mirrors
    it verbatim), rounded to 6 decimals and cast to exact decimal,
    so per-doc sums are order-independent. ``kn_logppl`` is the mean
    surprisal (``ppl = exp(kn_logppl)`` — left to the caller so no
    second transcendental enters the parity surface).

    Plan shape: ONE corpus-sized aggregation (the bigram-type count
    ``c2``); ``c1``, both continuation counts and ``B`` all derive
    from that type table, not from the stream. The scored type
    table joins back onto the persisted bigram stream UNHINTED
    (same contract as ``bigram_surprisal_scores``): bigram types
    grow ~n^0.7 with corpus size, and a forced broadcast hint does
    NOT degrade past the limit — it overrides
    ``autoBroadcastJoinThreshold`` unconditionally and fails at the
    8 GB/driver cap. AQE broadcast-converts these joins at small
    scale from runtime sizes and shuffles on ``bg`` at large scale.
    Only the 1-row ``B`` aggregate keeps an explicit hint.
    """
    toks = docs.select(
        "doc_id", tokens_array("text").alias("__toks")
    )
    n = F.size("__toks")
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice("__toks", 1, n - 1),
                    F.slice(F.col("__toks"), 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    from bigdata_elephant_spark.session import persist_tracked

    bigrams = persist_tracked(bigrams)
    c2 = bigrams.groupBy("bg").agg(F.count("*").alias("c2"))
    typed = c2.select(
        "bg",
        "c2",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    typed = persist_tracked(typed)
    lefts = typed.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("nf")
    )
    rights = typed.groupBy("w2").agg(F.count("*").alias("nb"))
    btot = typed.agg(F.count("*").alias("btypes"))
    d = F.lit(float(discount))
    s = (
        typed.join(lefts, "w1")
        .join(rights, "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "bg",
            F.round(
                -F.log(
                    ((F.col("c2") - d) / F.col("c1"))
                    + (
                        ((d * F.col("nf")) / F.col("c1"))
                        * (F.col("nb") / F.col("btypes"))
                    )
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s_bg"),
        )
    )
    return (
        bigrams.join(s, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum("s_bg").cast("double") / F.count("*"), 6
            ).alias("kn_logppl"),
        )
    )


# ------------------------------------------ Gopher repetition filters

# Gopher (Rae et al. 2021, Appendix A1.1 — the public quality-filter
# recipe reused by MassiveText/Dolma/NeMo-Curator): documents
# dominated by a single repeated phrase, or with heavy n-gram
# duplication, are boilerplate/spam. Thresholds are the paper's:
# a doc is dropped when the top {2,3,4}-gram covers more than
# {20%, 18%, 16%} of its characters, or (adapted: occurrence
# fraction, see docstring) duplicate 5-grams exceed 15%.
GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP5_THRESHOLD = 0.15

# Integer comparands for the cross-product threshold tests, derived
# ONCE here and imported by the oracle SQL so engine and oracle can
# never desynchronize on an edit. round(), not int(): truncation is
# a latent off-by-one (int(0.29 * 100) == 28).
GOPHER_TOP_PCT = {n: round(t * 100) for n, t in GOPHER_TOP_THRESHOLDS.items()}
GOPHER_DUP5_PCT = round(GOPHER_DUP5_THRESHOLD * 100)


def _ngram_array(toks, n: int):
    """Adjacent word n-grams of a token array as space-joined
    strings (the slice+zip construction the bigram scorers use —
    no self-join, no per-position regex re-evaluation)."""
    size = F.size(toks)
    if n == 1:
        return toks
    parts = [
        F.slice(toks, i + 1, size - (n - 1)) for i in range(n)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(
            out, p, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(size >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def gopher_repetition_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc Gopher repetition stats + keep flag →
    ``(doc_id, chars_total, top2_frac, top3_frac, top4_frac,
    dup5_frac, keep)``; docs with < 5 tokens drop (every statistic
    needs its n-gram defined; length-filtering tiny docs is a
    different filter's job — the oracle's WHERE agrees).

    - ``top{n}_frac`` (n = 2,3,4): fraction of the document's
      non-space characters covered by occurrences of its single most
      frequent word n-gram — the paper's "top n-gram character
      fraction". The top gram ties break lexicographically so the
      statistic is engine-deterministic; a gram's character length
      is ``length(gram) − (n−1)`` (single-space joined).
    - ``dup5_frac``: fraction of 5-gram OCCURRENCES whose 5-gram
      appears more than once in the doc. The paper counts duplicate
      CHARACTERS; the occurrence fraction is the
      overlap-double-counting-free variant the open reimplementations
      use, kept here because it is exact integer arithmetic on both
      engines.
    - ``keep``: all four statistics at or under the published
      thresholds. The comparisons run as INTEGER cross-products
      (``num * 100 <= thr * denom``), so no 6-decimal rounding can
      flip a boundary document between engines.

    Plan shape: one corpus pass computes the token array; each n
    contributes one explode + one (doc_id, gram) count + one per-doc
    aggregate — all map-side-partial friendly, no joins between
    documents, nothing corpus-quadratic. At 100 TB this is four
    token-stream aggregations keyed by (doc_id, gram) — co-located
    with the document's input split, so the shuffles are near-no-ops.
    """
    toks = docs.select(
        id_col, tokens_array(text_col).alias("__toks")
    ).filter(F.size("__toks") >= 5)
    chars = F.aggregate(
        F.transform("__toks", lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = toks.select(id_col, "__toks", chars.alias("chars_total"))

    def top_stats_exact(n: int) -> DataFrame:
        # struct-max would prefer the LARGEST gram on count ties, so
        # the smallest-tied gram is derived explicitly: a max-count
        # aggregate, then a min over the tied grams only — both land
        # in the same (doc_id)-keyed shuffle
        grams = base.select(
            id_col,
            "chars_total",
            F.explode(_ngram_array(F.col("__toks"), n)).alias("g"),
        )
        counts = grams.groupBy(id_col, "chars_total", "g").agg(
            F.count("*").alias("c")
        )
        cmax = counts.groupBy(id_col, "chars_total").agg(
            F.max("c").alias("cmax")
        )
        top = (
            counts.join(cmax, [id_col, "chars_total"])
            .filter(F.col("c") == F.col("cmax"))
            .groupBy(id_col, "chars_total")
            .agg(
                F.max("c").alias(f"top{n}_c"),
                F.min("g").alias(f"top{n}_g"),
            )
        )
        # chars covered by the top gram's occurrences:
        # count * (length(gram) - (n-1) separator spaces)
        return top.select(
            id_col,
            "chars_total",
            (
                F.col(f"top{n}_c")
                * (F.length(f"top{n}_g") - F.lit(n - 1))
            ).alias(f"top{n}_chars"),
        )

    t2 = top_stats_exact(2)
    t3 = top_stats_exact(3)
    t4 = top_stats_exact(4)
    g5 = base.select(
        id_col, F.explode(_ngram_array(F.col("__toks"), 5)).alias("g")
    )
    c5 = g5.groupBy(id_col, "g").agg(F.count("*").alias("c"))
    d5 = c5.groupBy(id_col).agg(
        F.sum("c").alias("n5"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
        ).alias("dup5"),
    )
    frac = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / den, 6
    )
    joined = (
        t2.join(t3.select(id_col, "top3_chars"), id_col)
        .join(t4.select(id_col, "top4_chars"), id_col)
        .join(d5, id_col)
    )
    t = GOPHER_TOP_PCT
    keep = (
        (F.col("top2_chars") * 100 <= F.col("chars_total") * t[2])
        & (F.col("top3_chars") * 100 <= F.col("chars_total") * t[3])
        & (F.col("top4_chars") * 100 <= F.col("chars_total") * t[4])
        & (F.col("dup5") * 100 <= F.col("n5") * GOPHER_DUP5_PCT)
    )
    return joined.select(
        id_col,
        "chars_total",
        frac(F.col("top2_chars"), F.col("chars_total")).alias("top2_frac"),
        frac(F.col("top3_chars"), F.col("chars_total")).alias("top3_frac"),
        frac(F.col("top4_chars"), F.col("chars_total")).alias("top4_frac"),
        frac(F.col("dup5"), F.col("n5")).alias("dup5_frac"),
        keep.alias("keep"),
    )

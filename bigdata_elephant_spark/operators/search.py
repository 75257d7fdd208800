"""Scored search — reference Jobs 4+5 (``Query.java``).

The reference runs two chained MapReduce jobs per query (score, then
global sort + top-K). Here every text query — one string or a probe
set, inline over the caller's frames or through a session-scoped
handle over saved artifacts — goes through ONE core,
:class:`TextIndex`: resolve the query terms against the vocabulary,
sum partial scores per ``(query_id, doc_id)`` over just those terms'
postings, then cut each query's top-k. A single query is cut by
``orderBy(desc).limit(k)``, which Spark plans as
``TakeOrderedAndProject`` (per-partition top-K heaps merged on the
driver; no global shuffle-sort at all).

Scoring modes:

- ``"reference"`` — bit-faithful to ``Query.java:113-115``:
  ``score = sum_w (tf_doc / df) * (tf_query / df)``. The reference
  calls the divisor "idf" but it is the raw document frequency
  written by ``Vocabulary.java:103`` (SURVEY §4 flaw F3).
- ``"smooth"`` — standard smoothed TF-IDF:
  ``idf = ln((N + 1) / (df + 1)) + 1``,
  ``score = sum_w (tf_doc * idf) * (tf_query * idf)``.
- ``"bm25"`` — Okapi BM25 (:func:`term_partial`).

The query string is compiled driver-side with the same filterText +
tokenize logic the reference applies (``Query.java:48-58``); its terms
resolve with one vocabulary collect and then ride in the plan as a
literal ``word_id -> (query_id, q_tf, df)`` map — the Spark version of
the reference shipping term weights through the Hadoop
``Configuration`` (``Query.java:254-260``).

Top-K is exact ``limit(k)`` — the reference's per-reducer counter
emits K+1 rows and is only globally correct with one reducer
(``Query.java:229-234``, flaw F2). Ties are broken by ``doc_id`` so
results are fully deterministic; scores are rounded to 6 decimals to
make float comparison stable across engines.
"""

from __future__ import annotations

import copy
import threading
from collections import Counter, OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_elephant_spark.functions.text import tokenize_str

SCORE_DECIMALS = 6


def _check_count(n: int, name: str = "k") -> None:
    """``ValueError`` for a ``k`` below 0, or an ``n_probe`` or
    ``shortlist`` below 1 (``limit(-1)`` would raise an
    ``AnalysisException`` and the rank window return nothing). Entry
    points call it first, so an empty index or an absent query
    rejects the value too."""
    lo = 0 if name == "k" else 1
    if n < lo:
        raise ValueError(f"{name} must be >= {lo}, got {n}")


def search(
    spark: SparkSession,
    query: str,
    vocab: DataFrame,
    postings: DataFrame,
    doc_meta: DataFrame | None = None,
    k: int = 10,
    scoring: str = "reference",
    n_docs: int | None = None,
    replicate_off_by_one: bool = False,
) -> DataFrame:
    """Rank documents for ``query``; top-k ``(doc_id, score)``.

    If ``doc_meta`` is given, the result is the reference's final
    projection ``(title, url)`` plus ``doc_id, score``
    (``Query.java:236-240``) via :func:`project_meta` — a k-row
    semi-join slice, not a corpus-sized broadcast.
    ``n_docs`` (corpus size) is ``"smooth"``'s N; ``None`` means the
    index's own N (docs with at least one vocab token).
    """
    # Faithful-diff mode: the reference's per-reducer counter uses
    # `count > pages` (Query.java:229-234, flaw F2) and emits K+1
    # rows; enable only to byte-compare against actual reference
    # output. The public API is exact limit(k).
    n = k + 1 if replicate_off_by_one and k >= 0 else k
    ranked = TextIndex(spark, vocab, postings)._ranked(
        {0: query}, n, scoring, n_docs
    ).select("doc_id", "score")
    if doc_meta is not None:
        ranked = project_meta(ranked, doc_meta)
    return ranked


def term_partial(
    scoring: str,
    n_docs: float | None = None,
    avgdl: float | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    """One matched posting row's contribution to its document's score
    — the ONE definition of every scoring mode, applied by the
    :class:`TextIndex` core that every text entry point goes through.

    The row carries ``tf``, ``df`` and ``q_tf`` (and ``dl`` for
    ``"bm25"``); N (``n_docs``) and ``avgdl`` are driver scalars.
    ``"bm25"`` is Okapi BM25: the classic
    ``ln((N - df + 0.5) / (df + 0.5) + 1)`` idf times the saturating
    (k1), length-normalized (b) term frequency, weighted by the
    query-term multiplicity."""
    tf, df, q_tf = F.col("tf"), F.col("df"), F.col("q_tf")
    if scoring == "reference":
        return (tf / df) * (q_tf / df)
    if scoring not in ("smooth", "bm25"):
        raise ValueError(f"unknown scoring mode: {scoring}")
    if n_docs is None:
        raise ValueError(f"scoring={scoring!r} needs n_docs (corpus size)")
    if scoring == "smooth":
        idf = F.log((F.lit(float(n_docs) + 1.0)) / (df + 1.0)) + 1.0
        return (tf * idf) * (q_tf * idf)
    idf = F.log((F.lit(float(n_docs)) - df + 0.5) / (df + 0.5) + 1.0)
    frac = (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * (F.col("dl") / F.lit(float(avgdl))))
    )
    return idf * frac * q_tf


def summed_scores(
    matched: DataFrame, partial: Column, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """``(*keys, score)``: the per-row partials summed per key and
    rounded to ``SCORE_DECIMALS`` (stable float comparison across
    engines)."""
    return (
        matched.withColumn("partial", partial)
        .groupBy(*keys)
        .agg(F.round(F.sum("partial"), SCORE_DECIMALS).alias("score"))
    )


def project_meta(
    ranked: DataFrame, doc_meta: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach metadata columns to a top-k result
    (``Query.java:236-240``) without replicating the corpus-sized
    metadata table.

    The reference loads the WHOLE doc-metadata file into every
    reducer task (``Query.java:202-217`` — SURVEY §4 flaw F4), and
    the naive Spark rendering ``ranked.join(broadcast(doc_meta))``
    reproduces it: the hint forces the corpus-sized side onto the
    driver and every executor, and fails outright past the 8 GB
    broadcast limit. Instead, semi-join the metadata scan down to
    the ranked ids first (the k-row ids broadcast into the scan — a
    map-side filter, no shuffle of the metadata), then broadcast the
    resulting <= k-row slice into the left join. Both broadcasts are
    bounded by k at every corpus size; the shared ranked subtree's
    shuffle is computed once (exchange reuse)."""
    ids = ranked.select(id_col)
    meta_slice = doc_meta.join(F.broadcast(ids), id_col, "semi")
    return ranked.join(F.broadcast(meta_slice), id_col, "left")


def doc_lengths(postings: DataFrame) -> DataFrame:
    """Document length (token count of vocab words) per doc — the sum
    of a doc's term frequencies, i.e. derived from the index with no
    corpus re-scan."""
    return postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))


def doc_lengths_from_corpus(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """:func:`doc_lengths` computed straight from the corpus — valid
    ONLY when the vocabulary is built from this same corpus (then
    every token matches the vocab inner-join, so Σtf per doc is
    exactly the token count). One narrow projection, no explode, no
    join, no shuffle — versus the postings-lineage aggregate that
    re-runs tokenize + vocab join + two aggregations. The docs-with-
    no-tokens filter mirrors the postings aggregate's domain (a doc
    with zero vocab tokens has no postings row). Callers holding a
    materialized index artifact should keep :func:`doc_lengths`
    (the artifact scan is cheaper than a corpus re-scan)."""
    from bigdata_elephant_spark.functions.text import tokens_array

    n = F.size(tokens_array(text_col)).cast("long")
    return (
        corpus.select(F.col(id_col).alias("doc_id"), n.alias("dl"))
        .filter(F.col("dl") > 0)
    )


def bm25_search(
    spark: SparkSession,
    query: str,
    vocab: DataFrame,
    postings: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    dl: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 ranking over the same inverted index the reference
    builds — the industry-standard upgrade of its raw TF/df scoring
    (Query.java:113-115): saturating term frequency (k1) and document
    -length normalization (b), with the classic
    ``ln((N - df + 0.5) / (df + 0.5) + 1)`` idf.

    Plan shape is :func:`search`'s (literal query terms, one
    doc-keyed sum, TakeOrderedAndProject) plus the doc lengths,
    joined on ``doc_id``. N and avgdl are driver scalars from one pass
    over the doc lengths (an exact long sum / count, so both engines
    normalize by the identical double); ``dl`` (e.g.
    :func:`doc_lengths_from_corpus` when the vocab covers the whole
    corpus) replaces the postings aggregate.
    """
    return TextIndex(spark, vocab, postings, dl=dl)._ranked(
        {0: query}, k, "bm25", k1=k1, b=b
    ).select("doc_id", "score")


def query_term_rows(
    queries: dict[int, str],
) -> list[tuple[int, str, float]]:
    """The canonical ``(query_id, word, q_tf)`` expansion of a probe
    set — ONE definition consumed by both the Spark scoring core and
    the DuckDB VALUES oracle, so the two sides cannot drift."""
    rows = []
    for qid, qs in sorted(queries.items()):
        for w, c in sorted(Counter(tokenize_str(qs)).items()):
            rows.append((int(qid), w, float(c)))
    return rows


def bm25_search_batch(
    spark: SparkSession,
    queries: dict[int, str],
    vocab: DataFrame,
    postings: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    dl: DataFrame | None = None,
) -> DataFrame:
    """BM25 for a probe SET of queries in ONE plan —
    ``(query_id, doc_id, score, rank)`` with per-query top-k.

    The reference answers multiple queries by re-running its whole
    two-job chain once per query string (``Query.java:247-294``
    drives one job pair per invocation); here the batch is a single
    pass over the index: every query's terms ride in one literal
    ``word_id`` map, each matched posting fans out to every query
    containing the term, one ``(query_id, doc_id)`` aggregate sums
    partials, and the per-query top-k is a ``row_number() <= k`` rank
    window that Spark plans as ``WindowGroupLimit`` — map-side
    per-group heaps before the exchange, so no query's candidate list
    is ever globally sorted. At 100 TB the index is scanned once for
    the whole batch instead of once per query (the text-side analogue
    of ``knn_batch``).
    """
    return TextIndex(spark, vocab, postings, dl=dl)._ranked(
        queries, k, "bm25", k1=k1, b=b
    )


def per_query_topk(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, doc_id, score, rank)``: each query's top-k by score
    (ties by ``doc_id``), as a ``row_number() <= k`` window that Spark
    plans as ``WindowGroupLimit``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of ranked candidate lists →
    ``(doc_id, rrf)`` top-k.

    Each input must carry ``(id_col, rank)`` with 1-based ranks; a
    document's fused score is ``Σ 1/(k_rrf + rank)`` over the lists
    that contain it (the Cormack/Clarke/Buettcher formula — rank
    fusion needs no score calibration between BM25 and cosine, which
    is exactly why hybrid search uses it).

    The inputs are top-N lists (metadata-sized by construction), so
    the outer-join chain and the final sort are driver-trivial; all
    corpus-scale work happened upstream in the retrievers.
    """
    fused = None
    for i, lst in enumerate(ranked_lists):
        contrib = lst.select(
            id_col,
            (1.0 / (F.lit(k_rrf) + F.col("rank"))).alias(f"_c{i}"),
        )
        fused = (
            contrib
            if fused is None
            else fused.join(contrib, id_col, "full_outer")
        )
    score = sum(
        (
            F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
            for i in range(len(ranked_lists))
        ),
        start=F.lit(0.0),
    )
    return (
        fused.select(id_col, F.round(score, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def more_like_this(
    query_doc_id: int,
    vocab: DataFrame,
    postings: DataFrame,
    k: int = 10,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Document-to-document search ("more like this") over the
    inverted index: rank documents by tf-idf cosine against a QUERY
    DOCUMENT → ``(doc_id, cos_sim)`` top-k, query excluded.

    The similarity is computed entirely in postings space — no
    dense vectors: candidates are documents sharing at least one
    term with the query (an equi-join between the query's posting
    rows, broadcast, and the postings table), the dot product is
    ``Σ_w idf(w)² · tf_q(w) · tf_c(w)`` and the norms come from one
    per-doc aggregate over the same weighted postings. idf is the
    rounded ``ln N − ln df`` (overflow-free at any corpus size);
    every sum is an exact decimal × integer sum, so the ranking is
    engine- and partitioning-deterministic.

    Scale shape: the corpus-sized work is one postings self-semi-join
    keyed on the QUERY'S OWN terms (broadcast — a document has
    bounded vocabulary) plus one partial+final norm aggregate;
    fan-out per term is its posting-list length, so stopword-like
    terms dominate cost — prune them upstream with a df cap exactly
    as the tokenizer already drops the hardcoded stopword class.

    When ``corpus`` is the same corpus the vocabulary was built from,
    ``n_docs`` is counted off one narrow corpus projection
    (:func:`doc_lengths_from_corpus` — same covering-vocabulary
    precondition) instead of a tokenize + vocab-join + distinct pass
    over the postings lineage (r15 A/B at sf0.1: 2.68 → 2.22 s warm
    min, rows identical; the wp-level persist re-ran per the r14
    verdict and still LOSES — 2.49 s persisted — so the recompute
    stays).
    """
    if corpus is not None:
        n_docs = doc_lengths_from_corpus(corpus).count()
    else:
        n_docs = postings.select("doc_id").distinct().count()
    idf = vocab.select(
        "word_id",
        F.round(
            F.log(F.lit(float(n_docs))) - F.log("df"), 6
        ).alias("idf"),
    )
    from bigdata_elephant_spark.operators.index import (
        VOCAB_BROADCAST_CORPUS_BYTES,
    )
    from bigdata_elephant_spark.session import maybe_broadcast

    # idf is vocabulary-sized (Heaps-growing): hint only while it is
    # provably small — via the vocab frame's own stats when usable,
    # else via the corpus-scan Heaps bound (the _vocab_probe
    # two-gate; an inline/cached vocab aggregate has garbage stats
    # and would otherwise decline into a 39-shuffle static plan).
    # Past both gates AQE sizes the join at runtime (a forced hint
    # would fail at the 8 GB cap, not degrade).
    wp = postings.join(
        maybe_broadcast(
            idf,
            size_of=vocab,
            fallback_scan=corpus,
            fallback_cap_bytes=VOCAB_BROADCAST_CORPUS_BYTES,
        ),
        "word_id",
    ).select(
        "doc_id",
        "word_id",
        "tf",
        F.round(F.col("idf") * F.col("idf"), 6)
        .cast("decimal(18,6)")
        .alias("i2"),
    )
    norms = wp.groupBy("doc_id").agg(
        F.sum(
            F.col("i2") * (F.col("tf") * F.col("tf")).cast("long")
        ).alias("n2")
    )
    qp = wp.filter(F.col("doc_id") == query_doc_id).select(
        "word_id", F.col("tf").alias("tf_q")
    )
    num = (
        wp.filter(F.col("doc_id") != query_doc_id)
        .join(F.broadcast(qp), "word_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("i2")
                * (F.col("tf") * F.col("tf_q")).cast("long")
            ).alias("num")
        )
    )
    qn = norms.filter(F.col("doc_id") == query_doc_id).select(
        F.col("n2").alias("qn2")
    )
    return (
        num.join(norms, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "doc_id",
            F.round(
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("n2").cast("double"))
                    * F.sqrt(F.col("qn2").cast("double"))
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(k)
    )


# ------------------------------------------------------ the text core
#
# The staged CLI answers every query over the same saved artifacts,
# yet an inline query re-derives everything per call: three artifact
# opens (one schema-inference job each), a persisted doc-length
# aggregate over the WHOLE postings table, and a metadata semi-join.
# A handle from open_text_index pays those once per index version and
# keeps them in the session (the Shark keep-hot-state-resident
# design); each query then touches only its own terms' postings and
# its own k metadata rows. The inline scorers build a throwaway
# TextIndex over their frames and run the same core.

# Open handles, least recently used first, keyed by the artifact
# paths. Each holds one persisted doc-length table (doc-sized), so the
# bound caps what a long-lived process keeps cached.
TEXT_INDEX_LRU_MAX = 4
_TEXT_INDEXES: OrderedDict[tuple, TextIndex] = OrderedDict()
# guards the check-then-act on _TEXT_INDEXES across threads
_TEXT_INDEXES_LOCK = threading.Lock()


def _data_files(spark: SparkSession, path: str) -> tuple:
    """``(path, size, mtime)`` of every data file under ``path``, read
    through the Hadoop ``FileSystem`` (so any Hadoop-visible path
    works, not only local ones), skipping ``_``/``.``-prefixed names
    as Spark's own file index does (a JVM-side glob, so checksum and
    marker files cost no round trip). A rebuild writes new part files
    (fresh names, sizes and mtimes), so an unchanged listing means an
    unchanged artifact. No Spark job."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    out, todo = [], [Path(path)]
    while todo:
        for st in fs.globStatus(Path(todo.pop(), "[!_.]*")) or ():
            p = st.getPath()
            if st.isDirectory():
                todo.append(p)
            else:
                out.append((p.toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def _sql_in(col: str, values) -> str:
    """``col IN (...)`` over int or string literals as SQL text — one
    expression to parse, where ``Column.isin`` costs a py4j round trip
    per literal; ``false`` when ``values`` is empty."""
    lits = [
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, str) else str(int(v))
        for v in values
    ]
    return f"{col} IN ({', '.join(lits)})" if lits else "false"


class TextIndex:
    """The text query core over ``vocab``/``postings`` frames, with
    optional ``meta`` (for :meth:`query`) and ``dl`` (doc lengths,
    else :func:`doc_lengths` of the postings).

    :func:`search`, :func:`bm25_search` and :func:`bm25_search_batch`
    build one over their frames; :func:`open_text_index` keeps one per
    saved artifact set in the session. Every query runs
    :meth:`_ranked`."""

    def __init__(
        self,
        spark: SparkSession,
        vocab: DataFrame,
        postings: DataFrame,
        meta: DataFrame | None = None,
        dl: DataFrame | None = None,
    ):
        self.spark, self.vocab, self.postings = spark, vocab, postings
        self.meta, self.dl = meta, dl
        # artifact path and listings of a handle from open_text_index
        self.index: str | None = None
        self.files: tuple = ()
        self._stats: tuple[int, int] | None = None
        self._partials: dict[tuple, Column] = {}

    def _doc_stats(self) -> tuple[int, int]:
        """``(N, Σdl)`` as driver scalars from ONE pass over the doc
        lengths, run on first need only (never by a ``reference``
        query). N, the docs with at least one vocab token, is the
        doc-length group count. Doc lengths not cached yet are
        persisted first (``persist_tracked``) so the scoring join reuses
        them; a handle's are its own cache."""
        if self._stats is None:
            if self.dl is None or not self.dl.is_cached:
                from bigdata_elephant_spark.session import persist_tracked

                self.dl = persist_tracked(
                    doc_lengths(self.postings) if self.dl is None else self.dl
                )
            row = self.dl.agg(
                F.count("dl").alias("n"), F.sum("dl").alias("s")
            ).first()
            self._stats = int(row["n"]), int(row["s"] or 0)
        return self._stats

    @property
    def n_docs(self) -> int:
        return self._doc_stats()[0]

    def _partial(self, scoring: str, n_docs, k1: float, b: float) -> Column:
        """:func:`term_partial` with N (``n_docs``, else the index's)
        and avgdl as literals, built once per parameters (hundreds of
        py4j calls) and reused per query."""
        key = (scoring, n_docs, k1, b)
        if key not in self._partials:
            avgdl = None
            if scoring == "bm25" or (scoring == "smooth" and n_docs is None):
                n, total = self._doc_stats()
                n_docs = n if n_docs is None else n_docs
                # the same double as Spark's sum(dl) / count(dl); an
                # empty index has no postings to score (max: no 0 / 0)
                avgdl = float(total) / float(max(n, 1))
            self._partials[key] = term_partial(
                scoring, n_docs, avgdl=avgdl, k1=k1, b=b
            )
        return self._partials[key]

    def _ranked(
        self,
        queries: dict[int, str],
        k: int,
        scoring: str = "bm25",
        n_docs: int | None = None,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """``(query_id, doc_id, score, rank)``: each query's top-k by
        score, ties by ``doc_id``.

        The terms resolve with ONE pushed-down ``word IN (...)`` vocab
        collect; each term's ``(query_id, q_tf, df)`` structs then ride
        in the plan as a literal map keyed by ``word_id`` (no joined
        table, no broadcast job) over only the ``word_id IN (...)``
        postings, and the partials sum per ``(query_id, doc_id)``. The
        IN-lists and the map are SQL text: built column by column they
        cost hundreds of py4j round trips per query. A batch of one is
        cut by ``orderBy.limit`` (its rank window is pruned away when
        the caller drops ``rank``), any other by
        :func:`per_query_topk`."""
        _check_count(k)
        partial = self._partial(scoring, n_docs, k1, b)
        rows = query_term_rows(queries)
        words = sorted({w for _, w, _ in rows})
        hits = {
            r["word"]: (r["word_id"], r["df"])
            for r in self.vocab.where(_sql_in("word", words))
            .select("word", "word_id", "df")
            .collect()
        }
        fan: dict = {}
        for qid, w, q_tf in rows:
            if w in hits:
                wid, df = hits[w]
                fan.setdefault(wid, []).append(
                    f"named_struct('query_id', {int(qid)}L, "
                    f"'q_tf', {q_tf!r}D, 'df', {int(df)}L)"
                )
        key_type = self.postings.schema["word_id"].dataType.simpleString()
        terms = ", ".join(
            f"CAST({w} AS {key_type}), array({', '.join(v)})"
            for w, v in fan.items()
        )
        matched = self.postings.where(_sql_in("word_id", fan))
        if scoring == "bm25":
            # Doc lengths from groupBy(doc_id) are already
            # hash-partitioned by doc_id: a shuffled hash join built on
            # the query's matched postings streams them in place and
            # the score aggregate reuses that partitioning. A broadcast
            # would re-ship the doc-sized table per query (one more
            # job, and unbounded at corpus scale).
            matched = matched.hint("shuffle_hash").join(self.dl, "doc_id")
        matched = matched.select("*", F.inline(F.expr(
            f"map({terms})[word_id]" if fan else
            "CAST(NULL AS array<struct<query_id:bigint,q_tf:double,df:bigint>>)"
        )))
        scored = summed_scores(matched, partial, keys=("query_id", "doc_id"))
        if len(queries) != 1:
            return per_query_topk(scored, k)
        order = (F.col("score").desc(), F.col("doc_id").asc())
        w = Window.partitionBy("query_id").orderBy(*order)
        return scored.orderBy(*order).limit(k).withColumn(
            "rank", F.row_number().over(w)
        )

    def query(
        self,
        query: str,
        k: int = 10,
        scoring: str = "bm25",
        n_docs: int | None = None,
    ) -> DataFrame:
        """Top-k for one query as a k-row local frame:
        ``doc_id, score`` plus every metadata column when the index
        has metadata, in rank order (score desc, doc_id asc).
        ``n_docs`` overrides the index's N for ``"smooth"``."""
        import pyarrow as pa

        top = (
            self._ranked({0: query}, k, scoring, n_docs)
            .select("doc_id", "score")
            .toArrow()
        )
        if self.meta is not None:
            ids = top.column("doc_id").to_pylist()
            meta = self.meta.where(_sql_in("doc_id", ids)).toArrow()
            # left join in rank order, as project_meta: a doc with
            # several metadata rows fans out, one with none gets nulls
            top, meta = (
                t.append_column(c, pa.array(range(t.num_rows), pa.int64()))
                for t, c in ((top, "_i"), (meta, "_j"))
            )
            top = (
                top.join(meta, "doc_id", join_type="left outer")
                .sort_by([("_i", "ascending"), ("_j", "ascending")])
                .drop_columns(["_i", "_j"])
            )
        return self.spark.createDataFrame(top)

    def query_batch(self, queries: dict[int, str], k: int = 10) -> DataFrame:
        """BM25 for a probe set: ``(query_id, doc_id, score, rank)``
        with per-query top-k, as :func:`bm25_search_batch`."""
        return self._ranked(queries, k)


def _retire(keys) -> None:
    """Drop these handles. Spark caches by plan, which for a file scan
    means by path, so every handle over one index path shares ONE
    cached doc-length table: a dropped handle's entry is unpersisted
    only when no remaining handle reads the same index."""
    for h in [_TEXT_INDEXES.pop(k) for k in keys]:
        if all(o.index != h.index for o in _TEXT_INDEXES.values()):
            h.dl.unpersist()


def open_text_index(
    spark: SparkSession,
    vocab: str,
    index: str,
    meta: str | None = None,
) -> TextIndex:
    """The session's :class:`TextIndex` over these artifact paths.

    The handle persists :func:`doc_lengths` of the postings under its
    own lifecycle (not ``session._TRACKED_CACHES``). Handles live in a
    module-level LRU (``TEXT_INDEX_LRU_MAX``) keyed by
    ``(vocab, index, meta)``. Every call re-lists the artifacts' data
    files (:func:`_data_files`, no Spark job) and compares them with
    the handle's, so an artifact rebuilt at the same path is never
    served stale. A changed index listing retires EVERY handle over
    that index path first (they share one cache entry, see
    :func:`_retire`), so no key can reopen onto the stale entry.
    A request without ``meta`` and without a handle of its own is
    served by a meta-less view of a valid handle over the same vocab
    and index (a ``query_batch`` never reads meta), sharing its
    frames, doc lengths and, once computed, ``N``/Σdl: the LRU keeps
    the one handle.
    ``session.release_caches()`` closes every handle."""
    from pyspark.storagelevel import StorageLevel

    key = (vocab, index, meta)
    # (vocab, index[, meta]) listings
    files = tuple(
        _data_files(spark, p) for p in (vocab, index, meta) if p
    )
    with _TEXT_INDEXES_LOCK:
        _retire([
            k for k, o in _TEXT_INDEXES.items()
            if o.index == index
            and (o.spark is not spark or o.files[1] != files[1])
        ])
        h = _TEXT_INDEXES.get(key)
        if h is None and meta is None:
            shared = next(
                (k for k, o in _TEXT_INDEXES.items()
                 if k[:2] == key[:2] and o.files[:2] == files),
                None,
            )
            if shared is not None:
                _TEXT_INDEXES.move_to_end(shared)
                view = copy.copy(_TEXT_INDEXES[shared])
                view.meta = None
                return view
        if h is not None and h.files != files:  # vocab or meta rebuilt
            _retire([key])
            h = None
        if h is None:
            v, p = spark.read.parquet(vocab), spark.read.parquet(index)
            h = TextIndex(
                spark, v, p, spark.read.parquet(meta) if meta else None,
                doc_lengths(p).persist(StorageLevel.MEMORY_AND_DISK),
            )
            h.index, h.files = index, files
        _TEXT_INDEXES[key] = h
        _TEXT_INDEXES.move_to_end(key)
        _retire(list(_TEXT_INDEXES)[:-TEXT_INDEX_LRU_MAX])
        return h


def close_text_indexes() -> None:
    """Close every open :class:`TextIndex`, unpersisting its doc
    lengths; the next :func:`open_text_index` reopens."""
    with _TEXT_INDEXES_LOCK:
        _retire(list(_TEXT_INDEXES))

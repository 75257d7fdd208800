"""Inverted-index builder — reference Jobs 2+3 (``ParseDocument.java``,
``Indexer.java``).

- ``parse_documents``: project doc metadata ``(doc_id, url, title)``
  (``ParseDocument.java:35-44``; its identity reducer only re-sorted
  by key, which a columnar table doesn't need).
- ``build_index``: tokenize the corpus, keep only vocabulary words,
  count term frequency per ``(doc_id, word_id)``.

The reference loads the whole vocabulary file into a per-task HashMap
(``Indexer.java:42-73`` — SURVEY §4 flaw F4, OOM at scale) and counts
TF in a reducer-local map keyed only by doc_id (``Indexer.java:122-129``
— flaw F5, one giant document = one hot reducer). Here:

- the vocab probe is a **size-gated broadcast hash join** — one copy
  per executor, spill-safe, and Catalyst prunes it to the two columns
  used. The gate matters: a forced ``F.broadcast`` hint overrides
  ``autoBroadcastJoinThreshold`` unconditionally and *fails* (not
  degrades) past Spark's 8 GB broadcast limit, and the vocabulary
  grows with the corpus (Heaps' law, ~sqrt) — at 100 TB it is
  hundreds of millions of words, i.e. >8 GB hashed. So the hint
  applies only while either the vocab's own plan-size estimate or
  the corpus size (the Heaps bound on the vocab) says it is safely
  small; past that the join is left to AQE, which still
  broadcast-converts small builds at runtime and otherwise plans a
  shuffle join — the correct behavior the reference's per-task
  HashMap (flaw F4) cannot reach;
- TF is ``groupBy(doc_id, word_id).count()`` — the hot key is the
  *pair*, so a giant document spreads across partitions, and the
  partial-aggregation (map-side combine) happens before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_elephant_spark.functions.text import tokenize, tokens_array


def parse_documents(
    corpus: DataFrame, cols: tuple[str, ...] = ("doc_id", "url", "title")
) -> DataFrame:
    """Doc-metadata projection (``ParseDocument.java:35-44``)."""
    return corpus.select(*cols)


# Corpus size below which the vocabulary is certainly broadcast-safe:
# by Heaps' law a cleaned natural-language corpus under 64 GiB holds
# well under ~10 M distinct tokens — a few hundred MB hashed, far
# below Spark's 8 GB broadcast fail point. Mirrors (and shares the
# reasoning of) vocab.VOCAB_DISTRIBUTED_IDS_BYTES.
VOCAB_BROADCAST_CORPUS_BYTES = 64 << 30


def _vocab_probe(corpus: DataFrame, vocab: DataFrame):
    """The pruned ``(word, word_id)`` probe side, broadcast-hinted
    only when provably small (see the module docstring). Two gates
    because the vocab frame arrives in two shapes: a parquet
    artifact scan (reliable stats — gate on the vocab itself) or an
    inline aggregate over the corpus (stats inflate through the agg
    — gate on the corpus scan, the Heaps bound)."""
    from bigdata_elephant_spark.session import maybe_broadcast

    return maybe_broadcast(
        vocab.select("word", "word_id"),
        fallback_scan=corpus,
        fallback_cap_bytes=VOCAB_BROADCAST_CORPUS_BYTES,
    )


def build_index(
    corpus: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """corpus x vocab -> postings ``(doc_id, word_id, tf)``."""
    tokens = tokenize(corpus, text_col=text_col, id_col=id_col)
    matched = tokens.join(_vocab_probe(corpus, vocab), "word", "inner")
    return (
        matched.groupBy(id_col, "word_id")
        .agg(F.count("*").alias("tf"))
        .select(id_col, "word_id", "tf")
    )


def build_positional_index(
    corpus: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional postings ``(doc_id, word_id, pos)`` — the index
    layout phrase/proximity search needs, which the reference's
    ``(word, doc, tf)`` postings (Indexer.java:108-140) cannot
    answer. ``pos`` is the 0-based offset in the FILTERED token
    stream (the same filter the whole engine uses), so adjacency
    means "adjacent after normalization" on every engine. Positions
    multiply postings by average term frequency — the standard
    positional-index size tradeoff; at 100 TB the layout partitions
    by word_id exactly like the tf postings."""
    toks = corpus.select(
        id_col,
        F.posexplode(tokens_array(text_col)).alias("pos", "word"),
    )
    return toks.join(
        _vocab_probe(corpus, vocab), "word", "inner"
    ).select(id_col, "word_id", F.col("pos").cast("long").alias("pos"))


def phrase_search(
    phrase: str,
    vocab: DataFrame,
    positional: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    slop: int = 0,
) -> DataFrame:
    """Phrase search by positional intersection: docs where the
    phrase's terms occur at consecutive positions (``slop=0``, the
    exact phrase) or within ``slop`` extra positions of their exact
    slot (Lucene-style proximity: term i may land in
    ``[p+i, p+i+slop]``, preserving order), ranked by occurrence
    count (ties to the lowest doc id). A slop match counts once per
    anchor position of the first term (distinct anchors, not every
    placement combination).

    Query compile is driver-side like the reference's Query.java
    (O11): the phrase tokenizes with the engine's filter, terms
    resolve to word ids through the (tiny) vocabulary, and a missing
    term means zero matches by definition. Execution is the classic
    n-way postings intersection — each term's postings filtered by
    word_id (a pushed-down predicate on the word_id-partitioned
    layout), joined on ``(doc, pos - offset)``; all joins share the
    (doc_id, pos) key."""
    from bigdata_elephant_spark.functions.text import tokenize_str

    terms = tokenize_str(phrase)
    empty = positional.sparkSession.createDataFrame(
        [], f"{id_col} long, n_occurrences long"
    )
    if not terms:
        return empty
    vocab_rows = {
        r["word"]: r["word_id"]
        for r in vocab.filter(
            F.col("word").isin(list(set(terms)))
        ).collect()
    }
    if any(t not in vocab_rows for t in terms):
        return empty
    ids = [vocab_rows[t] for t in terms]
    matches = positional.filter(F.col("word_id") == ids[0]).select(
        id_col, "pos"
    )
    for i, wid in enumerate(ids[1:], start=1):
        nxt = positional.filter(F.col("word_id") == wid)
        if slop == 0:
            nxt = nxt.select(id_col, (F.col("pos") - i).alias("pos"))
            matches = matches.join(nxt, [id_col, "pos"])
        else:
            nxt = nxt.select(
                F.col(id_col).alias("_nid"), F.col("pos").alias("_npos")
            )
            matches = (
                matches.join(
                    nxt,
                    (F.col(id_col) == F.col("_nid"))
                    & (F.col("_npos") >= F.col("pos") + i)
                    & (F.col("_npos") <= F.col("pos") + i + slop),
                )
                .select(id_col, "pos")
                .distinct()  # one match per anchor position
            )
    return (
        matches.groupBy(id_col)
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc(id_col))
        .limit(k)
    )


def update_index(
    corpus_delta: DataFrame,
    vocab_updated: DataFrame,
    old_postings: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append-only postings maintenance: index ONLY the delta batch
    against the updated vocabulary (vocab.update_vocabulary) and
    union it with the existing postings — the old segment's rows are
    untouched bytes, which is what makes incremental ingest
    delta-cost instead of corpus-cost. Word-level results are
    identical to a full rebuild (unit-proven); only the id
    assignment of new words differs (append-after-max vs global
    alphabetical re-rank), which is the price of id stability.

    Append-only by DOC identity too (Lucene ``addDocument``, not
    ``updateDocument``): a delta row reusing an existing ``doc_id``
    adds a second posting per shared term instead of replacing the
    old ones. Re-ingest = anti-join the old segment on ``doc_id``
    first (delete) then append — checking here would cost a
    corpus-sized distinct over the base postings on every delta
    batch, defeating the delta-cost contract."""
    delta = build_index(
        corpus_delta, vocab_updated, text_col=text_col, id_col=id_col
    )
    return old_postings.unionByName(delta)


def delete_docs(
    postings: DataFrame, doc_ids, id_col: str = "doc_id"
) -> DataFrame:
    """Logical document delete for a postings segment — the Lucene
    ``deleteDocuments`` half of update semantics: drop every posting
    of the given docs with a broadcast anti-join. ``doc_ids`` is a
    list or a single-column DataFrame (the scale shape — e.g. the
    losing side of a dedup pass); delete batches are delta-scale, so
    the broadcast makes the delete a map-side filter on the postings
    scan, never a shuffle of it. Ids with no postings are harmless
    no-ops. Works unchanged on the positional layout (same
    ``doc_id`` key). The same anti-join applies to the doc-metadata
    table; term df in the vocabulary intentionally keeps counting
    deleted docs until a vocabulary rebuild, exactly like Lucene
    stats before a merge."""
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(
            doc_ids[doc_ids.columns[0]].cast("long").alias(id_col)
        ).distinct()
    else:
        ids = postings.sparkSession.createDataFrame(
            [(int(i),) for i in doc_ids], f"{id_col} long"
        )
    return postings.join(F.broadcast(ids), id_col, "left_anti")


def reingest_docs(
    corpus_delta: DataFrame,
    vocab_updated: DataFrame,
    old_postings: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document UPSERT — Lucene ``updateDocument``: delete-then-append
    as one lazy plan. The anti-join keys on exactly the delta's doc
    ids (delta-scale, broadcast), so re-ingesting changed documents
    costs the delta index pass plus one broadcast-filtered pass over
    the base segment — never a base re-index. Unlike plain
    :func:`update_index`, a delta row reusing an existing ``doc_id``
    REPLACES that document's postings instead of stacking a second
    set (the doubled-tf hazard its docstring warns about)."""
    survivors = delete_docs(
        old_postings,
        corpus_delta.select(id_col).distinct(),
        id_col=id_col,
    )
    return update_index(
        corpus_delta,
        vocab_updated,
        survivors,
        text_col=text_col,
        id_col=id_col,
    )

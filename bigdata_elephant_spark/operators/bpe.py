"""Byte-pair-encoding merge training over the corpus vocabulary.

The industrial tokenizer-training shape (Sennrich et al., ACL'16 —
"Neural Machine Translation of Rare Words with Subword Units"; the
same loop HuggingFace ``tokenizers``' BPE trainer runs): the corpus
is scanned ONCE and compressed to its ``(word, freq)`` vocabulary
table, then every merge iteration operates on that vocab-sized table
only — count adjacent symbol-pair frequencies weighted by word
frequency, pick the most frequent pair (ties broken lexically so the
sequence is deterministic), rewrite each word's symbol sequence with
the pair merged left-to-right non-overlapping, repeat.

Scale shape (the reason this is Spark-friendly): the expensive input
(a 100 TB corpus) contributes exactly one tokenize+groupBy scan; the
iterations never touch the raw text again. The per-round work is a
vocab-sized higher-order-function rewrite plus a map-side-partial
pair-count aggregation whose argmax is ONE row (metadata-scale
collect, the same audited pattern as the k-means seed picks). Each
round ``localCheckpoint``\\ s the rewritten vocab (lazily — the next
argmax job materializes it) so round ``k`` never replays rounds
``1..k-1``'s folds — the checkpoint is vocab-sized (#distinct
words), not corpus-sized. For
production-vocabulary merge counts (~32k) the classic optimization is
to additionally restrict the rewrite to words containing the merged
pair; at the K used here the unconditional rewrite is already a
no-op fold for non-matching words inside codegen.

Determinism: pair counts are exact longs; the argmax orders by
``(pair_count DESC, lhs, rhs)`` over ASCII-only symbols ([a-z0-9]
after the reference tokenizer), so the merge sequence — and therefore
every downstream symbol table — is reproducible cross-engine with no
floating point anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_elephant_spark.functions.text import tokenize
from bigdata_elephant_spark.session import local_relation

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.IntegerType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def word_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(word, freq)`` — the one corpus-sized scan of BPE training.

    Tokenization is the reference's ``filterText`` semantics
    (``Vocabulary.java:41-53`` via :func:`tokenize`); the groupBy
    count gets its map-side partial for free.
    """
    return (
        tokenize(docs, text_col=text_col, id_col=id_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over ``(syms, freq)`` rows.

    Every adjacent position counts (the standard trainer counts
    overlapping occurrences: ``aaaa`` contributes three ``(a,a)``).
    """
    s = F.col("syms")
    return (
        wf.filter(F.size(s) >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(s, 1, F.size(s) - 1).alias("lhs"),
                    F.slice(s, 2, F.size(s) - 1).alias("rhs"),
                )
            ).alias("p"),
            "freq",
        )
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _merge_fold(s: Column, lhs: str, rhs: str, merged: str) -> Column:
    """Left-to-right non-overlapping pair merge as an array fold.

    Seed the accumulator with the first symbol, then for each next
    symbol either fuse it into the accumulator's tail (when the tail
    is ``lhs`` and it is ``rhs``) or append it. Fusing replaces the
    tail, so a fresh ``merged`` tail never re-matches ``lhs`` — which
    is exactly the non-overlap rule (``bbbb`` -> ``[bb, bb]``, not
    ``[bb, b, b]``). Mirrored by the oracle's ``list_reduce`` string
    fold (both are left folds).
    """
    step = lambda acc, x: F.when(  # noqa: E731
        (F.element_at(acc, -1) == lhs) & (x == rhs),
        F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
        ),
    ).otherwise(F.concat(acc, F.array(x)))
    return F.when(F.size(s) < 2, s).otherwise(
        F.aggregate(F.slice(s, 2, F.size(s) - 1), F.slice(s, 1, 1), step)
    )


# Per-round collected slice of the pair-count table used to pick a
# merge batch: metadata-scale (rows, not vocab), bounding every
# off-slice pair's count by the slice minimum.
BPE_BATCH_SLICE = 256

# Distinct-word count at or below which the whole merge loop runs
# driver-side over the collected vocabulary — the same size gate and
# rationale as dedup.CC_DRIVER_MAX_EDGES / graph.PR_DRIVER_MAX_EDGES:
# the corpus contributes exactly ONE scan either way (the word_
# frequencies groupBy), and once the vocab table is metadata-sized
# every distributed round is pure fixed overhead (a pair-count
# aggregate + collect + checkpoint per batch) at ANY cluster size.
# 2^17 (word, syms, freq) rows is a few MB of strings — the broadcast
# size class. Above the gate the batched distributed loop below is
# unchanged — the 100 TB path (a Heaps-law vocabulary over a 100 TB
# corpus is tens of millions of words and stays distributed). The
# gate count is read off the already-materialized checkpoint, so it
# costs one metadata-cheap job, not a recompute.
BPE_DRIVER_MAX_WORDS = 1 << 17

# Initial symbol alphabet after the reference tokenizer ([a-z0-9]) —
# every symbol the vocab table can ever contain is one of these or a
# previous merge's output, so "is this merged string a brand-new
# symbol?" is a driver-side set lookup, never a table scan.
_BPE_ALPHABET = tuple("abcdefghijklmnopqrstuvwxyz0123456789")


def _select_merge_batch(
    slice_rows,
    max_batch: int,
    known_symbols: set[str],
    slice_complete: bool = False,
) -> list[tuple[str, str, str, int]]:
    """The maximal PREFIX of the count-ordered pair slice that can be
    merged in one rewrite while reproducing the sequential greedy
    transcript EXACTLY (parallel-BPE batching, made transcript-safe):

    - pairs must be pairwise symbol-disjoint (including the merged
      outputs), so no batch member changes another's count;
    - each merged string must be a brand-new symbol (driver-side set
      check), so a merge can only CREATE pair types, never boost an
      existing pair's count;
    - each member after the first must out-count — strictly — every
      non-batch pair that shares a symbol with any earlier member
      (off-slice pairs are bounded by the slice minimum): any pair a
      prior merge creates inherits its count from such a
      symbol-sharing pair, so strict dominance means no created pair
      can out-rank the next member under the (count DESC, lhs, rhs)
      order;
    - a SELF-pair (lhs == rhs) closes the batch: merging ``(a, a)``
      over a run ``aaa`` creates ``(aa, a)`` whose only
      symbol-sharing witness in the pre-merge table is ``(a, a)``
      ITSELF, so no other pair's count bounds it — the created pair
      can legitimately be sequential greedy's next pick (found by
      the hypothesis property test: words ``bb``/``aaa`` — after
      merging ``(a,a)``, ``(aa,a)`` lexicographically beats
      ``(b,b)`` at equal count).

    The first violation stops the batch (prefix rule — sequential
    greedy would re-count before touching anything later). Batch
    size 1 (the plain sequential pick) is always sound, so progress
    is guaranteed. tests/test_properties.py drives this function
    through a pure-python trainer under hypothesis; tests/test_bpe.py
    pins batched == sequential on the real corpus at n_merges=64.
    """
    if not slice_rows:
        return []
    # bound for off-slice pairs (0 when the slice IS the whole table)
    floor = 0 if slice_complete else int(slice_rows[-1]["pair_count"])
    batch: list[tuple[str, str, str, int]] = []
    used: set[str] = set()
    n_cap = floor
    for i, r in enumerate(slice_rows):
        if len(batch) >= max_batch:
            break
        lhs, rhs, cnt = r["lhs"], r["rhs"], int(r["pair_count"])
        merged = lhs + rhs
        if batch:
            interacts = (
                lhs in used or rhs in used or merged in used
            )
            if interacts or merged in known_symbols or cnt <= n_cap:
                break
        elif merged in known_symbols:
            # first pick is still sequential-sound, but its merge may
            # boost an existing pair — nothing may batch after it
            batch.append((lhs, rhs, merged, cnt))
            break
        batch.append((lhs, rhs, merged, cnt))
        if lhs == rhs:
            # self-pair: its created pairs are bounded only by its
            # own count — nothing may batch after it
            break
        used.update((lhs, rhs, merged))
        # widen the dominance cap to every later slice pair touching
        # this member's symbols (earlier slice pairs out-count the
        # next candidate anyway and stop the prefix via `interacts`)
        for r2 in slice_rows[i + 1:]:
            if (
                r2["lhs"] in used
                or r2["rhs"] in used
                or (r2["lhs"] + r2["rhs"]) in used
            ):
                n_cap = max(n_cap, int(r2["pair_count"]))
    return batch


def _merge_word_py(syms: list[str], lhs: str, rhs: str,
                   merged: str) -> list[str]:
    """Pure-python twin of :func:`_merge_fold`: left-to-right
    non-overlapping — a fresh ``merged`` tail never re-matches
    ``lhs`` (``bbbb`` -> ``[bb, bb]``)."""
    out = [syms[0]]
    for x in syms[1:]:
        if out[-1] == lhs and x == rhs:
            out[-1] = merged
        else:
            out.append(x)
    return out


def _bpe_train_driver(
    wf_rows: list[tuple[str, list[str], int]],
    n_merges: int,
) -> tuple[list[tuple[int, str, str, str, int]],
           list[tuple[str, list[str], int]]]:
    """Driver-side twin of the merge loop (see
    :data:`BPE_DRIVER_MAX_WORDS`): the PLAIN SEQUENTIAL greedy
    trainer — argmax by exact integer ``(pair_count DESC, lhs, rhs)``
    then one rewrite, repeated. The distributed batched loop is
    transcript-equal to this by construction (tests/test_properties.py
    drives both through hypothesis; tests/test_bpe.py pins the
    driver-vs-distributed equality on the real corpus), and every
    count is an exact long over ASCII symbols, so there is no
    float/ordering hazard of the pagerank-twin kind."""
    words = [(syms, int(freq)) for _, syms, freq in wf_rows]
    rules: list[tuple[int, str, str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merged = lhs + rhs
        rules.append((len(rules) + 1, lhs, rhs, merged, cnt))
        words = [
            (
                _merge_word_py(syms, lhs, rhs, merged)
                if lhs in syms else syms,
                freq,
            )
            for syms, freq in words
        ]
    final = [
        (w, syms, freq)
        for (w, _, freq), (syms, _) in zip(wf_rows, words)
    ]
    return rules, final


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_batch: int = 16,
    driver_max_words: int = BPE_DRIVER_MAX_WORDS,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges; return ``(merges, final_wf)``.

    ``merges`` is the ordered rule table ``(merge_rank, lhs, rhs,
    merged, pair_count)``; ``final_wf`` is the vocabulary rewritten
    under all learned rules, ``(word, syms: array<string>, freq)`` —
    exploding ``syms`` gives the learned subword vocabulary, and each
    row is the finished encoding of its in-vocab word.

    Each round commits up to ``max_batch`` merges in ONE vocab-sized
    rewrite + ONE pair-count job via :func:`_select_merge_batch` —
    the parallel-BPE batching that keeps a production 32k-merge
    vocabulary at ~hundreds of Spark jobs instead of 32k, while
    reproducing the fully sequential transcript bit-for-bit
    (``max_batch=1`` IS the sequential trainer; equality is pinned by
    tests/test_bpe.py at n_merges=64). Interacting pairs fall back to
    sequential behavior automatically — the batch stops at the first
    pair whose count a prior member's merge could have changed.
    """
    spark = docs.sparkSession
    wf = word_frequencies(docs, text_col=text_col, id_col=id_col).select(
        "word", F.split("word", "").alias("syms"), "freq"
    )
    # One corpus scan materialized; every round below is vocab-sized.
    wf = wf.localCheckpoint(eager=True)
    if wf.count() <= driver_max_words:
        # metadata-sized vocabulary: one Arrow collect, the whole
        # merge loop in python, LocalRelations out (real stats for
        # every consumer join) — see BPE_DRIVER_MAX_WORDS
        tbl = wf.toArrow()
        wf_rows = list(
            zip(
                tbl.column("word").to_pylist(),
                tbl.column("syms").to_pylist(),
                tbl.column("freq").to_pylist(),
            )
        )
        rules_d, final_rows = _bpe_train_driver(wf_rows, n_merges)
        wf_schema = T.StructType(
            [
                T.StructField("word", T.StringType(), False),
                T.StructField(
                    "syms", T.ArrayType(T.StringType(), False), False
                ),
                T.StructField("freq", T.LongType(), False),
            ]
        )
        return (
            local_relation(spark, rules_d, MERGE_SCHEMA),
            local_relation(spark, final_rows, wf_schema),
        )
    rules: list[tuple[int, str, str, str, int]] = []
    known: set[str] = set(_BPE_ALPHABET)
    while len(rules) < n_merges:
        want = n_merges - len(rules)
        lim = max(BPE_BATCH_SLICE, 4 * min(max_batch, want))
        slice_rows = (
            _pair_counts(wf)
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(lim)
            .collect()
        )  # metadata-scale, like the k-means seed picks
        batch = _select_merge_batch(
            slice_rows,
            min(max_batch, want),
            known,
            slice_complete=len(slice_rows) < lim,
        )
        if not batch:
            break
        # One withColumn PER RULE, never rule folds nested into one
        # Column: _merge_fold references its input 5x, so nesting n
        # folds makes Spark 4's ColumnNode->Expression conversion
        # walk ~5^n paths (measured: a 16-deep nest is seconds, a
        # 64-deep nest OOMs the driver). Stacked single-fold Projects
        # reference the `syms` ATTRIBUTE instead — linear — and
        # CollapseProject keeps them stacked (5 references to a
        # non-cheap higher-order producer decline inlining).
        for lhs, rhs, merged, cnt in batch:
            rules.append((len(rules) + 1, lhs, rhs, merged, cnt))
            known.add(merged)
            wf = wf.withColumn(
                "syms", _merge_fold(F.col("syms"), lhs, rhs, merged)
            )
        # Lazy: the NEXT round's pair-count job materializes the
        # rewrite as a side effect (measured 2.41s vs 2.64s eager at
        # sf0.01 — the per-loop-shape A/B the pagerank bisect
        # prescribes).
        wf = wf.localCheckpoint(eager=False)
    return local_relation(spark, rules, MERGE_SCHEMA), wf


def bpe_subword_vocab(final_wf: DataFrame, top_n: int = 30) -> DataFrame:
    """The learned subword vocabulary: symbol frequencies after all
    merges, top ``top_n`` by ``(freq DESC, subword)``. Plans as a
    ``TakeOrderedAndProject`` over a map-side-partial aggregation."""
    return (
        final_wf.select(F.explode("syms").alias("subword"), "freq")
        .groupBy("subword")
        .agg(F.sum("freq").alias("freq"))
        .orderBy(F.desc("freq"), "subword")
        .limit(top_n)
    )


# How many single-fold Projects to stack before truncating the plan
# with a localCheckpoint. A production vocabulary is ~32k rules; an
# unbounded stack breaks Catalyst analysis (and a single nested
# expression is exponentially worse — see bpe_train) long before
# data size matters. 64 keeps each segment's analysis cheap;
# commit a33daaf records the measured A/B at 1k rules.
BPE_ENCODE_FOLD_CHUNK = 64


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = BPE_ENCODE_FOLD_CHUNK,
) -> DataFrame:
    """Apply an ordered rule list to fresh text: ``(id, word,
    subwords)`` — one row per token occurrence.

    The inference half of the trainer (rules learned once, applied
    to any corpus), shaped as a DICTIONARY ENCODE: BPE is a function
    of the word alone, so the rules fold over the DISTINCT words
    (vocabulary-sized — Heaps-bounded, millions of rows at 100 TB,
    never corpus-sized) and the encodings join back onto the token
    stream, size-gated broadcast. Folding over occurrences instead
    multiplies every rule pass by corpus size — at 1k rules x sf0.01
    occurrences that already ran minutes; the distinct-word fold
    runs seconds (the A/B recorded in commit a33daaf).

    Rules are literals in the plan — no join against a rule table.
    Each rule is its own single-fold Project (nesting folds into one
    Column is exponential in the ColumnNode conversion — see
    bpe_train); every ``chunk`` rules the plan is truncated with an
    EAGER ``localCheckpoint``. Eager, unlike the trainer's lazy
    checkpoints: the trainer's next pair-count job materializes its
    ONE pending segment, but the encoder would leave every segment
    pending until the consumer runs — all of them then compute
    inside one task, and ~16 pending segments x 64 interpreted
    higher-order Projects overflow the task stack (measured at 1k
    rules)."""
    from bigdata_elephant_spark.operators.index import (
        VOCAB_BROADCAST_CORPUS_BYTES,
    )
    from bigdata_elephant_spark.session import maybe_broadcast

    toks = tokenize(docs, text_col=text_col, id_col=id_col).select(
        id_col, "word"
    )
    words = (
        toks.select("word")
        .distinct()
        .select("word", F.split("word", "").alias("syms"))
    )
    n = len(merges)
    for start in range(0, max(n, 1), chunk):
        # one Project per rule (see bpe_train: nesting folds into a
        # single Column is exponential in the ColumnNode conversion)
        for lhs, rhs, merged in merges[start : start + chunk]:
            words = words.withColumn(
                "syms", _merge_fold(F.col("syms"), lhs, rhs, merged)
            )
        if start + chunk < n:
            words = words.localCheckpoint(eager=True)
    enc = words.select("word", F.col("syms").alias("subwords"))
    return toks.join(
        maybe_broadcast(
            enc,
            fallback_scan=docs,
            fallback_cap_bytes=VOCAB_BROADCAST_CORPUS_BYTES,
        ),
        "word",
    ).select(id_col, "word", "subwords")

"""Staged command-line driver — the reference's job surface, on Spark.

The reference is operated as three chained Hadoop jobs writing HDFS
artifacts (``Vocabulary.java:133-146`` → vocab dir, ``Indexer.java`` +
``ParseDocument.java:91`` → index/meta dirs, ``Query.java`` → ranked
output read back by the caller). This CLI reproduces that *user
workflow* — build once, query many times over the saved artifacts —
with parquet directories as the artifact format:

    python -m bigdata_elephant_spark vocab  --corpus D --out V
    python -m bigdata_elephant_spark index  --corpus D --vocab V --out I
    python -m bigdata_elephant_spark meta   --corpus D --out M
    python -m bigdata_elephant_spark query  --vocab V --index I \
        [--meta M] [-k 10] [--scoring reference|smooth|bm25] "the query"
    python -m bigdata_elephant_spark search --corpus D "the query"

``search`` is the one-shot convenience (all stages inline, nothing
persisted) for ad-hoc use; the staged path is the production shape —
at 100 TB the index build is the expensive scan and each query then
touches only the (much smaller) postings artifact, exactly like the
reference's flow. Corpus inputs may be WikiExtractor JSON-lines
(``.json``/``.jsonl``, with optional ``--glob`` shard pruning) or a
parquet table with ``(doc_id, text, ...)`` columns.

Every text query shares one query core, ``operators.search.TextIndex``:
the query terms resolve with one vocab collect and ride in the plan as
literals, and a single query is a batch of one. ``search`` builds one
over its inline frames. ``query`` (every scoring mode) and ``batch``
go through a session-scoped handle (``operators.search.open_text_index``).
It caches the opened vocab/postings/meta frames, the postings' doc
lengths (persisted once per index version) and ``N``/Σdl as driver
scalars, so a warm query is one vocab-term collect, one scoring pass
over just its terms' postings and one k-row metadata fetch — 4 Spark
jobs (18 before). Handles sit in an LRU of ``TEXT_INDEX_LRU_MAX`` keyed by
the ``(vocab, index, meta)`` paths, revalidated on every call against
the artifacts' data-file listing (name, size, mtime) so a rebuilt index
is never served stale. A ``batch`` (no meta) after ``query --meta`` calls
is served by a meta-less view of the open handle, not a second open.
``session.release_caches()`` closes them all and
unpersists their doc lengths; the next query reopens. The cache lives
in the process: called repeatedly through ``main(argv, spark=...)`` it
pays the open once, while one process per query gains only the job
cuts.

``ann-query`` and ``ann-batch`` share one query core over the three
index layouts, plain IVF, IVF,SQ8 and IVF-PQ
(``operators.similarity._ivf_indexed_search``): a single query is a
batch of one through the same probe, candidate and scoring stages.
``ann-query`` enters through the layout's reader (plain IVF through
``ivf_topk_indexed``), ``ann-batch`` through ``ivf_topk_batch_indexed``.
Both read the index through a session-scoped ANN handle
(``operators.similarity.open_ann_index``). It caches the index kind
and dimension, the centroids as a driver-side array, the live rows
(vectors, or codes on the quantized layouts; tombstones hidden) and
the quantizer state (SQ8 stats, PQ codebooks), and persists nothing.
Handles sit in an LRU keyed by index path with the text handles' bound
(``TEXT_INDEX_LRU_MAX``), revalidated on every call against the
index's data-file listing: a rebuild, an ``ann-add``, an
``ann-delete`` or an ``ann-compact`` is seen by the next query.
``session.release_caches()`` closes them too. The probe runs on the
driver, and a literal ``--vec`` enters the plan as a SQL literal, so a
warm ``ann-query --vec`` is 1 Spark job on plain IVF and 2 on IVF,SQ8.
The quantized layouts store codes only, so their stored-id queries
(and IVF-PQ's exact re-rank) read ``--embeddings``. The n_cells x dim
centroids live on the driver, which suits a query or a batch; the
corpus-sized delta of ``embedding_novelty_indexed`` keeps its probe in
Spark.

``ann-build`` and ``ann-add`` are one call each of the index write core
(``operators.similarity._build_index`` and ``_append_to_index``), which
the six ``build_*_index``/``update_*_index`` functions call too. A
build gates the input, picks the centroids, assigns every row once and
lets the layout's encoder train and encode, then writes the
cell_id-partitioned corpus table, the centroids and the side tables and
commits the manifest. An append takes the kind from ``index_kind``,
gates the delta, assigns it to the frozen centroids and appends what
the encoder makes of it with the stored quantizer. The encoders (raw
rows; SQ8 codes; PQ codes of the residuals) and one layout table,
``similarity._LAYOUTS`` (corpus table, side tables, encoder per kind),
are all that differ by layout.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

from bigdata_elephant_spark.operators.index import (
    build_index,
    parse_documents,
)
from bigdata_elephant_spark.operators.search import (
    bm25_search,
    open_text_index,
    search,
)
from bigdata_elephant_spark.operators.vocab import build_vocabulary
from bigdata_elephant_spark.session import get_spark, local_relation
from bigdata_elephant_spark.sources.corpus import read_corpus


def _load_corpus(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    if path.rstrip("/").endswith((".json", ".jsonl")) or (
        glob and glob.endswith((".json", ".jsonl"))
    ):
        return read_corpus(spark, path, glob=glob)
    df = spark.read.parquet(path)
    assert "doc_id" in df.columns and "text" in df.columns, (
        f"parquet corpus needs (doc_id, text), got {df.columns}"
    )
    return df


def _meta_cols(corpus: DataFrame) -> tuple[str, ...]:
    return tuple(c for c in corpus.columns if c != "text")


def _with_meta(ranked: DataFrame, meta: DataFrame | None) -> DataFrame:
    if meta is None:
        return ranked
    from bigdata_elephant_spark.operators.search import project_meta

    # k-row semi-join slice, never broadcast(corpus-sized meta) —
    # reference flaw F4 (Query.java:202-217), see project_meta.
    return project_meta(ranked, meta)


def _write(df: DataFrame, out: str) -> None:
    df.write.mode("overwrite").parquet(out)


def _print_rows(df: DataFrame, file) -> None:
    cols = df.columns
    print("\t".join(cols), file=file)
    for row in df.collect():
        print(
            "\t".join("" if row[c] is None else str(row[c]) for c in cols),
            file=file,
        )


def _at_least(lo: int):
    """argparse ``type`` for a count option with a floor: a value
    below ``lo`` (``-k`` below 0, ``--probe``/``--shortlist`` below
    1) is a usage error (exit 2) raised while parsing, before any
    Spark work."""

    def parse(s: str) -> int:
        v = int(s)
        if v < lo:
            raise argparse.ArgumentTypeError(f"must be >= {lo}, got {v}")
        return v

    parse.__name__ = "int"  # argparse names the type in its errors
    return parse


def _literal_vec(p, spark, args) -> list[float]:
    """Parse ``--vec`` into the literal query vector, validating its
    length against the index dimension up front: zip_with pads
    mismatched arrays with nulls, so a wrong-length vector would
    silently yield null distances and arbitrary probe cells instead
    of an error. The dimension comes from
    ``operators.similarity.index_dim``, the lookup the ANN handle
    uses (the manifest.json written at ann-build time, a plain file
    read; pre-manifest dirs fall back to one centroids footer read).
    Validation is best-effort: a missing or unreadable index path
    skips the check and surfaces as the query function's usual
    error. ONE definition for both index kinds that take a literal:
    the IVF and IVF,SQ8 readers take the vector itself (``vec=...``,
    a SQL literal in the plan, scored as the sentinel id -1; ids are
    non-negative on ingest).

    Components must be finite numbers, also once rounded to the
    stored float32, checked before any Spark work: an empty
    component is a usage error, and a NaN or ±Inf component would
    score every candidate ``nan`` — the same finite-floats contract
    ``ann-build`` enforces on stored vectors."""
    import numpy as np

    from bigdata_elephant_spark.operators.similarity import index_dim

    try:
        vec = [float(x) for x in args.vec.split(",")]
    except ValueError:
        p.error(f"--vec {args.vec!r}: every comma-separated component "
                "must be a number")
    with np.errstate(over="ignore"):
        finite = np.isfinite(np.asarray(vec, np.float32)).all()
    if not finite:
        p.error(f"--vec {args.vec!r}: components must be finite "
                "(no nan or inf, and within float32 range)")
    try:
        dim = index_dim(spark, args.index)
    except Exception:
        dim = None
    if dim is not None and len(vec) != dim:
        p.error(
            f"--vec has {len(vec)} components but index "
            f"'{args.index}' stores {dim}-dimensional vectors"
        )
    return vec


def main(argv: list[str] | None = None, spark=None, out=None) -> int:
    p = argparse.ArgumentParser(prog="bigdata_elephant_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def corpus_args(sp):
        sp.add_argument("--corpus", required=True)
        sp.add_argument("--glob", default=None)

    sp = sub.add_parser("vocab", help="build vocabulary artifact")
    corpus_args(sp)
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("index", help="build postings artifact")
    corpus_args(sp)
    sp.add_argument("--vocab", required=True)
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("meta", help="build doc-metadata artifact")
    corpus_args(sp)
    sp.add_argument("--out", required=True)

    sp = sub.add_parser("query", help="rank docs over saved artifacts")
    sp.add_argument("--vocab", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--meta", default=None)
    sp.add_argument("-k", type=_at_least(0), default=10)
    sp.add_argument(
        "--scoring", default="reference",
        choices=("reference", "smooth", "bm25"),
    )
    sp.add_argument("--n-docs", type=int, default=None,
                    help="corpus size (smooth scoring); inferred from "
                         "the postings when omitted")
    sp.add_argument("text")

    sp = sub.add_parser(
        "batch",
        help="BM25 for a SET of queries over saved artifacts in one "
             "index pass (query_id = 1-based argument position)",
    )
    sp.add_argument("--vocab", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("-k", type=_at_least(0), default=10)
    sp.add_argument("queries", nargs="+")

    sp = sub.add_parser("search", help="one-shot inline search")
    corpus_args(sp)
    sp.add_argument("-k", type=_at_least(0), default=10)
    sp.add_argument(
        "--scoring", default="reference",
        choices=("reference", "smooth", "bm25"),
    )
    sp.add_argument("text")

    sp = sub.add_parser(
        "phrase", help="exact-phrase / proximity search (inline)"
    )
    corpus_args(sp)
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--slop", type=int, default=0,
                    help="extra positions each term may drift "
                         "(0 = exact phrase)")
    sp.add_argument("text")

    sp = sub.add_parser(
        "ann-build",
        help="materialize an IVF vector index (cell_id-partitioned "
             "vectors + centroid table) from an embeddings parquet; "
             "--pq adds residual product quantization (codebooks + "
             "cell_id-partitioned codes, the FAISS IVFx,PQy layout)",
    )
    sp.add_argument("--embeddings", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--cells", type=int, default=16)
    sp.add_argument("--pq", action="store_true")
    sp.add_argument("--sq8", action="store_true",
                    help="store SQ8 scalar-quantized codes instead "
                         "of raw vectors (FAISS IVFx,SQ8: 4x "
                         "smaller probes, asymmetric scoring)")
    sp.add_argument("--sub", type=int, default=4,
                    help="PQ subspaces (with --pq)")
    sp.add_argument("--sub-dim", type=int, default=16,
                    help="dims per PQ subspace (with --pq)")
    sp.add_argument("--codes", type=int, default=16,
                    help="codebook entries per subspace (with --pq)")

    sp = sub.add_parser(
        "ann-query",
        help="cosine top-k over a saved IVF index (probes n cells "
             "via static partition pruning)",
    )
    sp.add_argument("--index", required=True)
    g = sp.add_mutually_exclusive_group(required=True)
    g.add_argument("--vec-id", type=int, default=None,
                   help="query by a stored vector's id")
    g.add_argument("--vec", default=None,
                   help="query by a literal vector: comma-separated "
                        "floats, e.g. '0.1,-0.2,0.3'")
    sp.add_argument("-k", type=_at_least(0), default=10)
    sp.add_argument("--probe", type=_at_least(1), default=4)
    sp.add_argument("--pq", action="store_true",
                    help="query a --pq index (ADC over codes + exact "
                         "re-rank); needs --embeddings for the "
                         "re-rank and --vec-id for the query")
    sp.add_argument("--embeddings", default=None,
                    help="raw vector table: the --pq re-rank and the "
                         "quantized layouts' --vec-id query")
    sp.add_argument("--shortlist", type=_at_least(1), default=50,
                    help="ADC shortlist size before exact re-rank "
                         "(with --pq)")
    sp.add_argument("--allowed", default=None,
                    help="FILTERED search: parquet whose first "
                         "column is the ids passing a metadata "
                         "predicate (evaluate the predicate "
                         "upstream, e.g. over the documents table); "
                         "candidates outside it are excluded, probe "
                         "geometry is unchanged — raise --probe if "
                         "a selective filter returns fewer than k")

    sp = sub.add_parser(
        "ann-add",
        help="append a delta batch of vectors to a saved ANN index "
             "(FAISS add() contract: quantizers stay frozen, base "
             "segment untouched; one append for every layout, the "
             "encoder picked by the index's kind)",
    )
    sp.add_argument("--index", required=True)
    sp.add_argument("--embeddings", required=True,
                    help="parquet with the NEW (vec_id, embedding) "
                         "rows only — ids already in the index are "
                         "appended blindly, exactly like FAISS add()")

    sp = sub.add_parser(
        "ann-batch",
        help="batch top-k over a saved IVF, IVF,SQ8 or IVF-PQ index: "
             "the whole probe set answered by ONE statically "
             "partition-pruned scan (union of every query's probe "
             "cells)",
    )
    sp.add_argument("--index", required=True)
    sp.add_argument("--vec-ids", required=True,
                    help="comma-separated stored vector ids to query")
    sp.add_argument("-k", type=_at_least(0), default=10)
    sp.add_argument("--probe", type=_at_least(1), default=4)
    sp.add_argument("--embeddings", default=None,
                    help="source table for the query vectors (plain "
                         "IVF defaults to the index's own rows; the "
                         "quantized layouts need it)")

    sp = sub.add_parser(
        "pca",
        help="top principal direction(s) of an embedding table by "
             "power iteration over the one-pass Gram matrix; "
             "--components 2 adds Hotelling deflation and projects "
             "every vector onto both (vec_id, pc1, pc2)",
    )
    sp.add_argument("--embeddings", required=True,
                    help="parquet with (vec_id, embedding) rows")
    sp.add_argument("--components", type=int, choices=(1, 2),
                    default=1)
    sp.add_argument("--iters", type=int, default=8)
    sp.add_argument("--out", default=None)

    sp = sub.add_parser(
        "novelty",
        help="ingest-time semantic-dedup admission: each incoming "
             "vector's max exact cosine against the base corpus, "
             "admit below --threshold (empty base admits all); "
             "sweep mode prints admit rate per threshold 0.1..0.9",
    )
    sp.add_argument("--base", required=True,
                    help="parquet with the indexed (vec_id, "
                         "embedding) corpus")
    sp.add_argument("--delta", required=True,
                    help="parquet with the incoming batch")
    sp.add_argument("--threshold", type=float, default=0.4)
    sp.add_argument("--sweep", action="store_true")
    sp.add_argument("--out", default=None)

    sp = sub.add_parser(
        "ann-stats",
        help="index health/observability: geometry, current "
             "generation, per-cell file counts (the small-files "
             "tax ann-compact undoes), pending tombstones",
    )
    sp.add_argument("--index", required=True)

    sp = sub.add_parser(
        "ann-delete",
        help="tombstone ids out of a saved ANN index (FAISS "
             "remove_ids contract at tombstone cost: queries hide "
             "them immediately, the next ann-compact applies the "
             "delete physically and retires the tombstones)",
    )
    sp.add_argument("--index", required=True)
    sp.add_argument("--ids", required=True,
                    help="comma-separated vec_ids to delete")

    sp = sub.add_parser(
        "ann-compact",
        help="rewrite an index so each cell holds one file again "
             "(undoes the small-files tax of repeated ann-add; "
             "snapshot commit — readers of the old generation are "
             "unaffected, one prior generation is retained)",
    )
    sp.add_argument("--index", required=True)

    sp = sub.add_parser(
        "bpe-train",
        help="learn BPE merge rules over a corpus (one tokenize "
             "scan, then vocab-sized merge rounds); prints the "
             "ordered rule table and optionally persists it (with "
             "the trained word->subwords vocabulary alongside) for "
             "bpe-encode",
    )
    corpus_args(sp)
    sp.add_argument("--merges", type=int, default=8)
    sp.add_argument("--out", default=None,
                    help="artifact dir: <out>/merges + <out>/vocab "
                         "parquet tables")

    sp = sub.add_parser(
        "bpe-encode",
        help="tokenize a corpus with rules learned by bpe-train "
             "--out; prints (doc_id, word, subwords) for the first "
             "--limit docs (rules apply as plan literals — no "
             "per-row join)",
    )
    corpus_args(sp)
    sp.add_argument("--rules", required=True,
                    help="artifact dir written by bpe-train --out")
    sp.add_argument("--limit", type=int, default=20)

    sp = sub.add_parser(
        "curate",
        help="curation pipeline: quality filter -> near-dup "
             "survivor drop -> temperature mixture; writes the "
             "selected (doc_id, source, rate) rows",
    )
    corpus_args(sp)
    sp.add_argument("--alpha", type=float, default=0.5,
                    help="mixture temperature (p_s ~ n_s^alpha)")
    sp.add_argument("--frac", type=float, default=0.3,
                    help="output budget as a corpus fraction")
    sp.add_argument("--out", required=True)

    sp = sub.add_parser(
        "dsir",
        help="DSIR importance selection: hashed-ngram log-ratio "
             "scores vs a target subset; top-n deterministic, or "
             "--sample for derandomized Gumbel-top-k resampling "
             "(reproducible sampling proportional to exp(logw))",
    )
    corpus_args(sp)
    sp.add_argument("--target-lang", default="en",
                    help="target subset = docs with this lang "
                         "column value (needs a lang column)")
    sp.add_argument("--target-ids", default=None,
                    help="parquet of doc_id rows defining the "
                         "target subset (overrides --target-lang)")
    sp.add_argument("-n", type=int, default=100)
    sp.add_argument("-m", type=int, default=None,
                    help="hash buckets (default 256)")
    sp.add_argument("--sample", action="store_true")
    sp.add_argument("--out", default=None,
                    help="write parquet instead of printing")

    args = p.parse_args(argv)
    spark = spark or get_spark("elephant-cli")
    out = out or sys.stdout

    if args.cmd == "vocab":
        _write(
            build_vocabulary(_load_corpus(spark, args.corpus, args.glob)),
            args.out,
        )
    elif args.cmd == "index":
        corpus = _load_corpus(spark, args.corpus, args.glob)
        vocab = spark.read.parquet(args.vocab)
        _write(build_index(corpus, vocab), args.out)
    elif args.cmd == "bpe-train":
        from bigdata_elephant_spark.operators.bpe import bpe_train

        merges, wf = bpe_train(
            _load_corpus(spark, args.corpus, args.glob),
            n_merges=args.merges,
        )
        if args.out:
            _write(merges, f"{args.out}/merges")
            _write(wf, f"{args.out}/vocab")
        _print_rows(merges.orderBy("merge_rank"), out)
    elif args.cmd == "bpe-encode":
        from pyspark.sql import functions as F

        from bigdata_elephant_spark.operators.bpe import bpe_encode

        rules = [
            (r["lhs"], r["rhs"], r["merged"])
            for r in spark.read.parquet(f"{args.rules}/merges")
            .orderBy("merge_rank")
            .collect()
        ]
        docs = _load_corpus(spark, args.corpus, args.glob)
        ids = docs.select("doc_id").orderBy("doc_id").limit(args.limit)
        _print_rows(
            bpe_encode(docs.join(F.broadcast(ids), "doc_id"), rules)
            .select(
                "doc_id", "word",
                F.array_join("subwords", " ").alias("subwords"),
            )
            .distinct()
            .orderBy("doc_id", "word"),
            out,
        )
    elif args.cmd == "curate":
        from pyspark.sql import functions as F

        from bigdata_elephant_spark.operators.curation import (
            curate_pipeline,
        )

        docs = _load_corpus(spark, args.corpus, args.glob)
        if "source" not in docs.columns:
            docs = docs.withColumn("source", F.lit("corpus"))
        if "n_chars" not in docs.columns:
            docs = docs.withColumn("n_chars", F.length("text"))
        _write(
            curate_pipeline(
                docs, alpha=args.alpha, frac_out=args.frac
            ),
            args.out,
        )
    elif args.cmd == "dsir":
        from pyspark.sql import functions as F

        from bigdata_elephant_spark.operators.curation import (
            DSIR_BUCKETS,
            dsir_gumbel_sample,
            dsir_select,
        )

        docs = _load_corpus(spark, args.corpus, args.glob)
        if args.target_ids is not None:
            tgt = spark.read.parquet(args.target_ids).select("doc_id")
        else:
            if "lang" not in docs.columns:
                p.error(
                    "corpus has no lang column — pass --target-ids "
                    "to define the target subset"
                )
            tgt = docs.filter(
                F.col("lang") == args.target_lang
            ).select("doc_id")
        fn = dsir_gumbel_sample if args.sample else dsir_select
        sel = fn(docs, tgt, n=args.n, m=args.m or DSIR_BUCKETS)
        if args.out:
            _write(sel, args.out)
        else:
            _print_rows(sel, out)
    elif args.cmd == "meta":
        corpus = _load_corpus(spark, args.corpus, args.glob)
        _write(
            parse_documents(corpus, cols=_meta_cols(corpus)), args.out
        )
    elif args.cmd == "query":
        idx = open_text_index(spark, args.vocab, args.index, args.meta)
        _print_rows(
            idx.query(
                args.text, k=args.k, scoring=args.scoring,
                n_docs=args.n_docs,
            ),
            out,
        )
    elif args.cmd == "ann-build":
        from bigdata_elephant_spark.operators.similarity import _build_index

        if args.pq and args.sq8:
            p.error("--pq and --sq8 are mutually exclusive layouts")
        geom = (
            dict(n_sub=args.sub, sub_dim=args.sub_dim, n_codes=args.codes)
            if args.pq
            else {}
        )
        _build_index(
            spark.read.parquet(args.embeddings), args.out,
            "ivfpq" if args.pq else "ivfsq8" if args.sq8 else "ivf",
            args.cells, **geom,
        )
    elif args.cmd == "ann-add":
        from bigdata_elephant_spark.operators.similarity import (
            _append_to_index,
        )

        # the index's own kind picks the encoder; an IVF,SQ8 delta
        # outside the trained range is refused (rebuild then)
        _append_to_index(
            spark, args.index, spark.read.parquet(args.embeddings)
        )
    elif args.cmd == "ann-delete":
        from bigdata_elephant_spark.operators.similarity import (
            delete_from_index,
        )

        delete_from_index(
            spark, args.index,
            [int(s) for s in args.ids.split(",") if s.strip()],
        )
    elif args.cmd == "ann-compact":
        from bigdata_elephant_spark.operators.similarity import (
            compact_index,
        )

        compact_index(spark, args.index)
    elif args.cmd == "ann-query":
        from bigdata_elephant_spark.operators.similarity import (
            index_kind,
            ivf_topk_indexed,
            ivfpq_topk_indexed,
            ivfsq8_topk_indexed,
        )

        # Dispatch on the INDEX KIND first (manifest, with a layout
        # fallback that distinguishes all three kinds): flag-first
        # routing sent "--pq on an sq8 index" into a raw read error
        # and "no flag on an ivfpq index" into the IVF reader, which
        # finds no vectors/ and silently prints zero rows from a
        # populated index.
        kind = index_kind(args.index)
        if args.pq and kind != "ivfpq":
            p.error(
                f"--pq passed but index '{args.index}' is "
                f"kind={kind} — the flag is only meaningful (and "
                "optional) for an ivfpq layout"
            )
        allowed = (
            spark.read.parquet(args.allowed) if args.allowed else None
        )
        vec_id, vec = args.vec_id, None
        if args.vec is not None:
            vec_id, vec = -1, _literal_vec(p, spark, args)
        if kind == "ivfpq":
            if vec is not None or args.embeddings is None:
                p.error(
                    "an ivfpq index needs --vec-id and --embeddings "
                    "(ADC probes the codes; the exact re-rank reads "
                    "the raw vectors)"
                )
            res = ivfpq_topk_indexed(
                spark, args.index, vec_id,
                source=spark.read.parquet(args.embeddings),
                n_probe=args.probe, shortlist=args.shortlist,
                k=args.k, allowed=allowed,
            )
        elif kind == "ivfsq8":
            # asymmetric scan: the query must come exact (--vec, or
            # --embeddings for a stored id)
            if vec is None and args.embeddings is None:
                p.error(
                    "an --sq8 index stores quantized codes "
                    "only: query by --vec, or pass --embeddings "
                    "so --vec-id can fetch the exact query "
                    "vector"
                )
            res = ivfsq8_topk_indexed(
                spark, args.index, vec_id,
                source=(
                    None if vec is not None
                    else spark.read.parquet(args.embeddings)
                ),
                n_probe=args.probe, k=args.k, allowed=allowed, vec=vec,
            )
        else:
            res = ivf_topk_indexed(
                spark, args.index, vec_id,
                n_probe=args.probe, k=args.k, allowed=allowed, vec=vec,
            )
        _print_rows(res, out)
    elif args.cmd == "ann-batch":
        from pyspark.sql import functions as F

        from bigdata_elephant_spark.operators.similarity import (
            index_kind,
            ivf_topk_batch_indexed,
        )

        try:
            ids = [int(s) for s in args.vec_ids.split(",") if s.strip()]
        except ValueError as e:  # names the bad id
            p.error(f"--vec-ids: {e}")
        kind = index_kind(args.index)
        if kind != "ivf" and args.embeddings is None:
            p.error(
                f"a {kind} index stores quantized codes only: pass "
                "--embeddings for the exact query vectors"
            )
        res = ivf_topk_batch_indexed(
            spark, args.index, ids, n_probe=args.probe, k=args.k,
            source=(
                spark.read.parquet(args.embeddings)
                if args.embeddings
                else None
            ),
        )
        # |Q| x k rows: one sorted partition, not a global sort (no
        # range-partition sampling job); the score is the layout's own
        _print_rows(
            res.coalesce(1).sortWithinPartitions(
                F.asc("q_id"), F.desc(res.columns[-1]), F.asc("vec_id")
            ),
            out,
        )
    elif args.cmd == "pca":
        from pyspark.sql import functions as F

        from bigdata_elephant_spark.operators.similarity import (
            pca2_projection,
            power_iteration_top_eigvec,
        )
        from bigdata_elephant_spark.plans.curation_queries import (
            _gram_merge,
            _gram_partials,
        )

        emb = spark.read.parquet(args.embeddings)
        dim = int(
            emb.select(F.size("embedding").alias("d")).first()["d"]
        )  # metadata probe, like the ann verbs
        gram = _gram_merge(_gram_partials(emb.select("embedding")))
        if args.components == 1:
            res = power_iteration_top_eigvec(
                gram, dim=dim, iters=args.iters
            )
        else:
            res = pca2_projection(
                gram, emb, dim=dim, iters=args.iters
            )
        if args.out:
            _write(res, args.out)
        _print_rows(res, out)
    elif args.cmd == "novelty":
        from bigdata_elephant_spark.operators.similarity import (
            embedding_novelty_admission,
            novelty_threshold_sweep,
        )

        base = spark.read.parquet(args.base)
        delta = spark.read.parquet(args.delta)
        if args.sweep:
            res = novelty_threshold_sweep(base, delta)
        else:
            res = embedding_novelty_admission(
                base, delta, threshold=args.threshold
            ).orderBy("vec_id")
        if args.out:
            _write(res, args.out)
        _print_rows(res, out)
    elif args.cmd == "ann-stats":
        import os

        from bigdata_elephant_spark.operators.similarity import (
            _LAYOUTS,
            _index_rows,
            _table_path,
            index_kind,
            read_index_manifest,
        )

        kind = index_kind(args.index)
        man = read_index_manifest(args.index) or {}
        table = _LAYOUTS[kind][0]
        cur = _table_path(args.index, table)
        files_per_cell: dict[str, int] = {}
        if os.path.isdir(cur):
            for d in sorted(os.listdir(cur)):
                full = os.path.join(cur, d)
                if d.startswith("cell_id=") and os.path.isdir(full):
                    files_per_cell[d.split("=", 1)[1]] = len(
                        [f for f in os.listdir(full)
                         if f.endswith(".parquet")]
                    )
        rows = _index_rows(spark, args.index, table)
        tomb = _index_rows(spark, args.index, "tombstones")
        stats = [
            ("kind", kind),
            ("dim", str(man.get("dim", "?"))),
            ("n_cells", str(man.get("n_cells", "?"))),
            ("generation", os.path.basename(cur)),
            ("rows", "0" if rows is None else str(rows.count())),
            ("populated_cells", str(len(files_per_cell))),
            ("files", str(sum(files_per_cell.values()))),
            ("max_files_per_cell",
             str(max(files_per_cell.values(), default=0))),
            ("tombstones_pending",
             "0" if tomb is None else str(tomb.count())),
        ]
        _print_rows(
            local_relation(spark, stats, "stat string, value string"), out
        )
    elif args.cmd == "batch":
        qmap = {i + 1: q for i, q in enumerate(args.queries)}
        _print_rows(
            open_text_index(spark, args.vocab, args.index).query_batch(
                qmap, k=args.k
            ),
            out,
        )
    elif args.cmd == "search":
        corpus = _load_corpus(spark, args.corpus, args.glob)
        vocab = build_vocabulary(corpus)
        postings = build_index(corpus, vocab)
        meta = parse_documents(corpus, cols=_meta_cols(corpus))
        if args.scoring == "bm25":
            ranked = _with_meta(bm25_search(
                spark, args.text, vocab, postings, k=args.k
            ), meta)
        else:
            ranked = search(
                spark, args.text, vocab, postings, doc_meta=meta,
                k=args.k, scoring=args.scoring,
                n_docs=corpus.count() if args.scoring == "smooth" else None,
            )
        _print_rows(ranked, out)
    elif args.cmd == "phrase":
        from bigdata_elephant_spark.operators.index import (
            build_positional_index,
            phrase_search,
        )

        corpus = _load_corpus(spark, args.corpus, args.glob)
        vocab = build_vocabulary(corpus)
        positional = build_positional_index(corpus, vocab)
        _print_rows(
            phrase_search(
                args.text, vocab, positional, k=args.k, slop=args.slop
            ),
            out,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""One-decade-up scaling spot-check for the heaviest plans.

The driver ships testdata only up to sf0.1, where the three most
expensive queries are still overhead-dominated (SCALING.md slopes
0.05-0.33). This tool synthesizes an sf1-SCALE dataset (10 shifted,
text-salted copies of sf0.1 — used ONLY for runtime measurement,
never as a correctness input; the oracles keep running on the
driver's parquet) and times the heavy plans at sf0.1 vs sf1 to
confirm the slope holds where data finally exceeds fixed overhead.

Text is salted per copy (a distinct trailing token) so the dedup
pipeline doesn't see 10 exact copies of every document — replica
structure would otherwise turn the LSH bucket join into an
artificial all-dup blowup that no real 10x corpus has. Embeddings
are copied verbatim (gram/pagerank costs are row-count-driven).

Writes the results table to stdout and updates the "sf1 spot-check"
section at the end of SCALING.md.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from pyspark.sql import functions as F

from bigdata_elephant_spark.registry import all_specs
from bigdata_elephant_spark.session import get_spark, release_caches

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("SF1_DIR", "/tmp/elephant_sf1")
COPIES = 10
ID_STRIDE = 100_000_000
# Five heaviest plans + the indexed/batch scale paths paired with
# their inline twins: the *_indexed variants exist precisely to
# amortize the corpus scan at scale, so their decade-slope advantage
# over the inline twin is the design claim to demonstrate (build
# cost lands in the cold first iteration; min-of-ITERS reads the
# warm query, which is the production steady state).
HEAVY = ("llm_pipeline_e2e", "embedding_gram_matrix",
         "pagerank_dupgraph", "dedup_groups",
         "search_batch", "search_batch_indexed",
         "search_reference", "search_reference_indexed",
         "knn_ivfpq", "knn_ivfpq_indexed",
         "knn_batch", "knn_ivf_batch", "knn_ivf_batch_indexed",
         # round-7 additions: the filtered pair demonstrates the
         # metadata semi-join composing with (inline vs pruned)
         # scans; deleted shows the tombstone anti-join tax at 10x;
         # MMR is shortlist-bound after one scan (expect near the
         # plain scan's slope)
         "knn_ivf_filtered", "knn_ivf_filtered_indexed",
         "knn_ivf_deleted", "knn_mmr",
         # BPE trains on the vocab table, so a 10x corpus should
         # move only the one tokenize scan (sublinear); SQ8's
         # asymmetric scan is a full pass over reconstructions
         # (expect ~the exact-knn slope); the persisted IVF,SQ8
         # pair shows the pruned-codes amortization vs its inline
         # twin, like every *_indexed row above
         "bpe_merges", "knn_sq8",
         "knn_ivf_sq8", "knn_ivf_sq8_indexed",
         # round-8 additions (r7 verdict item 2): the non-ANN
         # operators carrying the newest scale claims. DSIR is one
         # token-stream shuffle + an m-row broadcast (expect ~the
         # corpus-scan slope); its indexed twin reads the
         # materialized histogram only (expect near-flat, the
         # *_indexed pattern); the frozen-lambda admission pass is
         # delta-sized on a full-corpus-fit lambda; KN perplexity is
         # one bigram-type aggregation whose score join is now
         # AQE-planned (the de-hinted path from this round's
         # broadcast sweep); hard-negative mining is one scan +
         # WindowGroupLimit heaps; BPE encode folds literal rules in
         # codegen over one scan
         "dsir_select", "dsir_select_indexed", "dsir_incremental",
         "kn_perplexity", "hard_negative_mining",
         "bpe_encode_sample",
         # round-9 additions (r8 verdict items 1+6): the second-wave
         # queries absent from the r8 table. The novelty pair's
         # bounded-delta fixture would have caught the r8 broadcast
         # defect here (delta fixed at 100 vectors, base grows 10x —
         # expect ~the one-base-scan slope); the Gopher and relative-
         # boilerplate filters are single-corpus-pass token pipelines
         # (expect ~the corpus-scan slope); the probe sweep and
         # recall reports each pay one exact-baseline scan plus
         # cell-pruned probes (expect ~the exact-knn slope); the SQ8
         # batch retriever shares the batched shortlist shape
         "embedding_novelty", "gopher_ngram_filters",
         "boilerplate_flags_relative", "ivf_probe_sweep",
         "ivf_recall_report", "pq_recall_report", "knn_sq8_batch",
         # round-9 additions: the power-iteration PCA pair rides the
         # one-scan Gram (iteration is dim^2-row metadata — expect
         # ~the gram slope); gram_incremental re-derives the same
         # Gram through the base∪delta split (expect == gram);
         # the dedup trust gates pay the exact shingle join (expect
         # ~the jaccard-pairs slope); the novelty sweep adds only a
         # 9-level fan-out of the (id, nn_sim) slice over the
         # novelty scan (expect ~the novelty slope)
         "embedding_top_eigvec", "embedding_pca2",
         "gram_incremental", "minhash_est_error",
         "dedup_lsh_recall", "novelty_threshold_sweep",
         # round-10 additions: variance-explained shares the eigvec
         # chain (expect == its slope — r9 verdict item 8); the
         # star-edge miner replaces the all-pairs bucket join
         # (expect <= dedup_minhash_lsh's slope; the synthetic 10x
         # has no mega-cluster, so the win here is just the collapsed
         # join — the cluster case is count-pinned in
         # tests/test_skewed_corpus.py); indexed novelty probes the
         # maintained layout (expect near-flat vs 0.83 inline)
         "pca_variance_explained", "dedup_lsh_edges",
         "dedup_minhash_lsh", "embedding_novelty_indexed",
         # round-11 additions (r10 verdict item 4): the five r10
         # queries without sf1 rows. The embedding-side star miners
         # share SemDeDup's cell/bucket pairing (expect ~the
         # semantic_dedup_pairs slope; the synthetic 10x has no
         # bit-identical cluster — that regime is count-pinned in
         # tests/test_skewed_corpus.py and measured in
         # the A/B of commit 1f96ea3); the ingest-edge pair is
         # delta-vs-corpus (expect ~the incremental_dedup slope, the
         # corpus-signature scan); the bucket histogram is the band
         # explode + one groupBy — cheaper than any miner it guards
         # in ABSOLUTE wall, but its slope is STEEPER than the edge
         # miner's (measured r11: 0.72 vs 0.55 in SCALING.md) since
         # the explode+agg is all growth while the miner amortizes
         # fixed costs (expect ~0.7, not <= the edge slope);
         # the streaming admit twin replays the same edges through
         # 3 micro-batches (expect ~incremental_dedup_edges plus
         # fixed stream overhead)
         "semantic_dedup_edges", "near_dup_edges_lsh",
         "incremental_dedup_edges", "docs_stream_dedup_admit",
         "lsh_bucket_histogram",
         # round-12 addition (r11 verdict item 6): the r11 star-edge
         # rewrite's consumer — mines the collapsed edge graph, then
         # runs components + two hash aggs on the tiny label table
         # (expect ~the dedup_lsh_edges slope: the miner dominates,
         # the histogram tail is group-count-sized)
         "dup_group_size_histogram")
ITERS = int(os.environ.get("SF1_ITERS", "2"))


def build_sf1(spark) -> None:
    if os.path.exists(os.path.join(DST, "_BUILT")):
        return
    os.makedirs(DST, exist_ok=True)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    copies = spark.range(COPIES).withColumnRenamed("id", "c")
    (
        docs.crossJoin(copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("c") * ID_STRIDE)
        .withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" salt"),
                     F.col("c").cast("string")),
        )
        # keep the corpus IN its own metadata contract: salting
        # changes the text, so n_chars must follow — since r14 the
        # production pipelines quarantine length_mismatch rows at
        # ingest, and a stale n_chars would (correctly!) dead-letter
        # every synthesized copy, silently shrinking the e2e
        # measurement to an empty corpus (observed: llm_pipeline_e2e
        # "slope -0.46" on the first r14 run)
        .withColumn("n_chars", F.length("text"))
        .drop("c")
        .write.mode("overwrite")
        .parquet(os.path.join(DST, "documents.parquet"))
    )
    (
        emb.crossJoin(copies)
        .withColumn("vec_id", F.col("vec_id") + F.col("c") * ID_STRIDE)
        .drop("c")
        .write.mode("overwrite")
        .parquet(os.path.join(DST, "embeddings.parquet"))
    )
    # the heavy plans only read documents+embeddings; link the rest
    # so read_table() keeps working if a query touches them
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(DST, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    open(os.path.join(DST, "_BUILT"), "w").write("ok\n")


def main() -> None:
    spark = get_spark("elephant-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    build_sf1(spark)
    print(f"sf1 build: {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    specs = {s.name: s for s in all_specs() if s.name in HEAVY}
    rows = []
    for name in HEAVY:
        spec = specs[name]
        best = {}
        for label, d in (("sf0.1", SRC), ("sf1", DST)):
            b = float("inf")
            for _ in range(ITERS):
                t0 = time.perf_counter()
                spec.fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                b = min(b, time.perf_counter() - t0)
                release_caches()
            best[label] = b
        import math

        slope = math.log10(best["sf1"] / best["sf0.1"])
        rows.append((name, best["sf0.1"], best["sf1"], slope))
        print(f"  {name}: sf0.1 {best['sf0.1']:.2f}s  "
              f"sf1 {best['sf1']:.2f}s  decade-slope {slope:.2f}",
              file=sys.stderr)

    table = (
        "\n## sf1 spot-check (synthesized 10x corpus, "
        "tools/sf1_spotcheck.py)\n\n"
        "Decade-slope = log10(t_sf1 / t_sf0.1): 1.0 = linear, "
        "<1 = sublinear (overhead still amortizing), >1 = "
        "superlinear — the red flag.\n\n"
        "The indexed/batch rows pair each inline scorer with its "
        "materialized-artifact twin: the twin's near-flat slope is "
        "the amortization the artifact exists to buy — an indexed "
        "query's cost is the probe (partition-pruned scan + "
        "metadata-sized lookups), not the corpus, so a 10x corpus "
        "moves it barely at all while the inline twin re-pays the "
        "full scan.\n\n"
        "Slopes of 0.8-0.9 on the single-pass inline operators "
        "(novelty admission, gopher/boilerplate filters, dsir "
        "inline, kn_perplexity) are the one-corpus-scan slope — "
        "by-design linear in data, amortized in production by their "
        "materialized/probe twins (dsir_select_indexed vs the "
        "inline dsir_select; embedding_novelty_indexed — the "
        "statically pruned probe of the maintained IVF layout — vs "
        "the inline novelty scan).\n\n"
        "Reading the PCA rows: the r10 driver-side iteration cut "
        "their sf0.1 absolute cost ~5-6x (embedding_top_eigvec "
        "10.15s → ~1.6s) and RAISED their slopes — the job overhead "
        "that used to dominate (and flatten the slope) is gone, so "
        "what remains is the genuine one-pass Gram/projection scan, "
        "which scales like embedding_gram_matrix. Overhead-flat "
        "slopes on overhead-dominated queries were never the scale "
        "story; the scan slope is.\n\n"
        "`dedup_lsh_recall`'s ground truth is the exact all-pairs "
        "Jaccard join and the synthetic corpus multiplies every "
        "duplicate group 10x — TRUE pairs grow 100x, so wall time "
        "near-linear in data is sublinear in the pair count the "
        "query verifies; its in-suite sf0.1 time also inherits "
        "GC/cache pressure from the preceding trust-gate query "
        "(standalone warm ~1.3s). The gate's production contract "
        "is a sampled slice (docstring), like the ANN recall "
        "reports. dedup_lsh_edges vs dedup_minhash_lsh compares "
        "the star-collapsed miner with the all-pairs verifier on "
        "this deliberately cluster-free corpus (the salted copies "
        "keep signatures distinct): the guard is not a tax; its "
        "payoff regime is count-pinned in tests/test_skewed_corpus"
        ".py and measured by the A/B of commit 1f96ea3.\n\n"
        "The r11 rows close the r10 coverage gap (verdict item 4): "
        "semantic_dedup_edges / near_dup_edges_lsh are the "
        "embedding-side star miners, and their near-FLAT slopes (vs "
        "dedup_minhash_lsh's 0.67 on the salted text side) are the "
        "guard caught in the act: the synthetic 10x duplicates "
        "every EMBEDDING verbatim (new vec_ids, bit-identical "
        "vectors — unlike the texts, which are salted), so each "
        "vector becomes a 10-copy identical cluster and the "
        "identical-vector collapse absorbs the entire 10x growth "
        "into star edges before any cell/bucket pairing — the "
        "regime count-pinned in tests/test_skewed_corpus.py and "
        "measured at 838x fewer rows by commit 1f96ea3's A/B, its "
        "emb_ab section; incremental_dedup_edges pays the "
        "corpus-signature scan (the ingest-admission slope); "
        "lsh_bucket_histogram is the band explode + one groupBy (a "
        "pre-flight report, cheaper than any miner it guards); "
        "docs_stream_dedup_admit replays the same admission through "
        "3 micro-batches, so its slope is the edge slope plus fixed "
        "per-batch stream overhead that amortizes as the corpus "
        "grows.\n\n"
        "| query | sf0.1 | sf1 (synth) | decade-slope |\n"
        "|---|---|---|---|\n"
    )
    for name, a, b, s in rows:
        table += f"| {name} | {a:.2f}s | {b:.2f}s | {s:.2f} |\n"

    md_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    md = open(md_path).read()
    md = re.sub(r"\n## sf1 spot-check.*", "", md, flags=re.S)
    open(md_path, "w").write(md + table)
    print(table)


if __name__ == "__main__":
    main()

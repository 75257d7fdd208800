"""The two workloads: ``serve`` (the read path) and ``ingest`` (the
write and LLM-curation path).

Each workload makes its inputs from the seed (cached by workload and
seed), sets up, warms up, then runs one op at a time in a closed loop
with one client. Every op exercises both of the engine's paths, timed
separately: the inverted-index path (``index``) and the similarity
path (``similarity``). Ops keep their raw outputs; checks run after the
timed window against the independent computations in ``oracle``.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import time

import numpy as np

from searchbench import gen, oracle
from searchbench.tracer import noop_write

# Sizes, chosen so that one run (JVM start, set-up, warm-up, timed
# window, checks) stays well inside the benchmark's time budget on a
# 4-core machine; see README.md for the measurements behind them.
SERVE_DOCS = 2_000
SERVE_VECS = 2_000
SERVE_CELLS = 16
SERVE_PROBE = 4
QUERY_POOL = 256
QUERY_STREAM = 4_000
RECALL_QUERIES = 100
RECALL_ID_BASE = 1_000_000  # above every stored vec_id
INGEST_DOCS = 2_000
INGEST_COPY_SHARE = 0.3
INGEST_EDIT_RATE = 0.03
DEDUP_THRESHOLD = 0.5
TOP_K = 10

GLOB = "wiki_*.json"


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under an artifact directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-") and n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _parse_rows(text: str) -> list[dict]:
    lines = text.rstrip("\n").split("\n")
    cols = lines[0].split("\t")
    return [dict(zip(cols, ln.split("\t"))) for ln in lines[1:] if ln]


class Workload:
    """Base: ``ctx`` carries spark, tracer, and the cache/work dirs."""

    name = ""
    warmup_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.corpus = os.path.join(ctx.cache, "corpus")
        self.records = oracle.read_jsonl(oracle.corpus_files(self.corpus))

    @property
    def spark(self):
        return self.ctx.spark

    def cli(self, argv: list[str]) -> str:
        from bigdata_elephant_spark import cli

        out = io.StringIO()
        with self.tracer.span(f"cli.{argv[0]}"):
            cli.main(argv, spark=self.spark, out=out)
        return out.getvalue()

    def build_text(self, out: str) -> None:
        """The CLI's three build jobs: vocab, index, meta."""
        src = ["--corpus", self.corpus, "--glob", GLOB]
        self.cli(["vocab", *src, "--out", f"{out}/vocab"])
        self.cli(["index", *src, "--vocab", f"{out}/vocab", "--out", f"{out}/index"])
        self.cli(["meta", *src, "--out", f"{out}/meta"])

    def setup(self) -> None:
        pass

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, rec: dict) -> list[str]:
        raise NotImplementedError

    def finish(self, records: list[dict]) -> None:
        """Untimed work after the window (runs while Spark is up)."""

    def finish_check(self) -> list[str]:
        """Checks the outputs of :meth:`finish`."""
        return []


# ------------------------------------------------------------------ serve

class Serve(Workload):
    """Setup builds the text artifacts and an IVF index; each op is one
    hybrid request: a CLI BM25 text query, then a CLI ``ann-query``
    with a fresh query vector."""

    name = "serve"
    # the first four ops in a fresh JVM are the steep part of the JIT
    # curve (about 3.5x, then 1.2-1.6x the later op time); README.md
    warmup_ops = 4

    @staticmethod
    def prepare(cache: str, seed: int) -> dict:
        corpus = gen.text_corpus(seed, SERVE_DOCS, os.path.join(cache, "corpus"))
        pool, stream = gen.query_pool(seed, corpus, QUERY_POOL, QUERY_STREAM)
        emb = os.path.join(cache, "embeddings.parquet")
        _, queries = gen.embeddings(seed, SERVE_VECS, QUERY_STREAM, emb)
        np.save(os.path.join(cache, "queries.npy"), queries)
        gen.write_vectors(
            os.path.join(cache, "recall_queries.parquet"),
            RECALL_ID_BASE + np.arange(RECALL_QUERIES), queries[:RECALL_QUERIES],
        )
        return {
            "docs": SERVE_DOCS, "pool": pool, "stream": stream,
            "input_bytes": corpus.input_bytes + os.path.getsize(emb),
        }

    def __init__(self, ctx):
        import pyarrow.parquet as pq

        super().__init__(ctx)
        self.bm25 = oracle.BM25(oracle.CorpusTruth(self.records))
        self.pool, self.stream = ctx.info["pool"], ctx.info["stream"]
        self.emb = os.path.join(ctx.cache, "embeddings.parquet")
        table = pq.read_table(self.emb)
        self.vecs = np.asarray(table.column("embedding").to_pylist(), dtype=np.float32)
        self.queries = np.load(os.path.join(ctx.cache, "queries.npy"))
        self.art = os.path.join(self.work, "artifacts")

    def setup(self) -> None:
        self.build_text(self.art)
        self.cli([
            "ann-build", "--embeddings", self.emb, "--out", f"{self.art}/ivf",
            "--cells", str(SERVE_CELLS),
        ])

    def text_query(self, i: int) -> str:
        a = self.art
        return self.cli([
            "query", "--vocab", f"{a}/vocab", "--index", f"{a}/index",
            "--meta", f"{a}/meta", "--scoring", "bm25", "-k", str(TOP_K),
            self.pool[self.stream[i]],
        ])

    def vector_query(self, i: int) -> str:
        vec = ",".join(repr(float(x)) for x in self.queries[i])
        return self.cli([
            "ann-query", "--index", f"{self.art}/ivf", f"--vec={vec}",
            "--probe", str(SERVE_PROBE), "-k", str(TOP_K),
        ])

    def op(self, i: int) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span("query.text"):
            text = self.text_query(i)
        t1 = time.perf_counter()
        with self.tracer.span("query.vector"):
            vout = self.vector_query(i)
        t2 = time.perf_counter()
        return {
            "i": i, "index_ms": (t1 - t0) * 1e3, "similarity_ms": (t2 - t1) * 1e3,
            "text": text, "vout": vout,
        }

    def finish(self, records: list[dict]) -> None:
        """Recall is taken over a fixed set of fresh queries, so it does
        not depend on how many ops the window held: the first
        ``RECALL_QUERIES`` query vectors, answered after the window in
        one CLI ``ann-batch`` pass over the same index and probe
        count."""
        ids = ",".join(str(RECALL_ID_BASE + j) for j in range(RECALL_QUERIES))
        out = self.cli([
            "ann-batch", "--index", f"{self.art}/ivf", "--vec-ids", ids,
            "--embeddings", os.path.join(self.ctx.cache, "recall_queries.parquet"),
            "--probe", str(SERVE_PROBE), "-k", str(TOP_K),
        ])
        self.batch: dict[int, list[dict]] = {}
        for r in _parse_rows(out):
            self.batch.setdefault(int(r["q_id"]) - RECALL_ID_BASE, []).append(r)

    def finish_check(self) -> list[str]:
        """Checks the batch answers and sets ``self.recall_at_10``."""
        errs, recalls = [], []
        for j in range(RECALL_QUERIES):
            rows = self.batch.get(j, [])
            errs += [f"ann-batch query {j}: {e}" for e in
                     oracle.check_vector(self.vecs, self.queries[j], rows, TOP_K)]
            recalls.append(self.recall(j, rows))
        self.recall_at_10 = float(np.mean(recalls))
        return errs

    def check(self, rec: dict) -> list[str]:
        """Op ``i`` queries with ``queries[i]``; for ``i`` below
        ``RECALL_QUERIES`` that is also a recall query, so its
        ``ann-query`` answer must be the ``ann-batch`` answer, and a
        change that lowers recall on the single-query path fails the
        op."""
        i = rec["i"]
        errs = oracle.check_text(
            self.bm25, self.pool[self.stream[i]], _parse_rows(rec["text"]), TOP_K
        )
        vrows = _parse_rows(rec["vout"])
        errs += oracle.check_vector(self.vecs, self.queries[i], vrows, TOP_K)
        if i < RECALL_QUERIES:
            errs += oracle.check_same_ids(vrows, self.batch.get(i, []))
        return errs

    def recall(self, i: int, rows: list[dict]) -> float:
        got = [int(r["vec_id"]) for r in rows]
        return oracle.recall_at_k(got, oracle.exact_topk(self.vecs, self.queries[i], TOP_K))

    def summary(self, records: list[dict], timed: list[dict]) -> dict:
        text = [r["index_ms"] for r in timed]
        vec = [r["similarity_ms"] for r in timed]
        recall = self.recall_at_10
        seen = {self.stream[r["i"]] for r in records if r.get("warmup")}
        repeats = 0
        for r in timed:
            repeats += self.stream[r["i"]] in seen
            seen.add(self.stream[r["i"]])
        files, size = 0, 0
        for a in ("vocab", "index", "meta", "ivf"):
            f, b = _dir_stats(f"{self.art}/{a}")
            files, size = files + f, size + b
        p90 = oracle.percentile
        return {
            "text_query_p50_ms": (oracle.median(text), "ms"),
            "text_query_p90_ms": (p90(text, 0.9), "ms"),
            "vector_query_p50_ms": (oracle.median(vec), "ms"),
            "vector_query_p90_ms": (p90(vec, 0.9), "ms"),
            "vector_recall_at_10": (recall, "ratio"),
            "text_query_samples": (len(text), "count"),
            "vector_query_samples": (len(vec), "count"),
            "text_query_repeat_share": (repeats / max(1, len(timed)), "ratio"),
            "bytes_written_per_input_byte": (size / self.ctx.info["input_bytes"], "ratio"),
            "artifact_files": (files, "count"),
            "artifact_bytes": (size, "bytes"),
        }

    @staticmethod
    def headline(named: dict) -> dict:
        return {
            "index_p50_ms": named["text_query_p50_ms"][0],
            "similarity_p50_ms": named["vector_query_p50_ms"][0],
            "similarity_recall": named["vector_recall_at_10"][0],
            "bytes_written_per_input_byte": named["bytes_written_per_input_byte"][0],
        }


# ----------------------------------------------------------------- ingest

class Ingest(Workload):
    """Each op ingests the corpus: a MinHash-LSH dedup pass
    (``minhash_signatures`` -> ``lsh_candidate_pairs`` -> est_sim
    threshold -> ``duplicate_groups``, collected), then the CLI's
    vocab + index + meta build into a fresh artifact directory. A
    fixed share of the documents are planted near-copies."""

    name = "ingest"
    # here the steep part is three ops (about 5.5x, 1.6x, 1.2x the
    # later op time); the slow tail after it is steeper than serve's,
    # so one op more
    warmup_ops = 4

    @staticmethod
    def prepare(cache: str, seed: int) -> dict:
        corpus, planted = gen.dedup_corpus(
            seed, INGEST_DOCS, INGEST_COPY_SHARE, INGEST_EDIT_RATE,
            os.path.join(cache, "corpus"),
        )
        return {"docs": INGEST_DOCS, "input_bytes": corpus.input_bytes, "planted": planted}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.truth = oracle.CorpusTruth(self.records)
        self.shingles = {d: oracle.shingle_set(t) for d, t in self.truth.tokens.items()}
        self.planted = [tuple(p) for p in ctx.info["planted"]]

    def dedup_pass(self):
        from pyspark.sql import functions as F

        from bigdata_elephant_spark.operators import dedup
        from bigdata_elephant_spark.session import release_caches
        from bigdata_elephant_spark.sources.corpus import read_corpus

        docs = read_corpus(self.spark, self.corpus, glob=GLOB)
        if self.tracer.active:
            from bigdata_elephant_spark.functions.text import tokenize

            with self.tracer.span("corpus.read", extra=True):
                noop_write(docs)
            with self.tracer.span("text.tokenize", extra=True) as sp:
                sp["rows"] = tokenize(docs).count()
        sigs = dedup.minhash_signatures(docs)
        kept = dedup.lsh_candidate_pairs(sigs).filter(F.col("est_sim") >= DEDUP_THRESHOLD)
        with self.tracer.span("dedup.collect"):
            pairs = [(r["doc_a"], r["doc_b"], r["est_sim"]) for r in kept.collect()]
        groups = dedup.duplicate_groups(kept)
        with self.tracer.span("dedup.collect"):
            group_rows = [(r["doc_id"], r["group_id"]) for r in groups.collect()]
        release_caches()
        return pairs, group_rows

    def op(self, i: int) -> dict:
        d = os.path.join(self.work, f"build-{i}")
        t0 = time.perf_counter()
        with self.tracer.span("ingest.dedup"):
            pairs, groups = self.dedup_pass()
        t1 = time.perf_counter()
        with self.tracer.span("ingest.build"):
            self.build_text(d)
        t2 = time.perf_counter()
        return {
            "i": i, "similarity_ms": (t1 - t0) * 1e3, "index_ms": (t2 - t1) * 1e3,
            "dir": d, "pairs": pairs, "groups": groups,
        }

    def check(self, rec: dict) -> list[str]:
        import pyarrow.parquet as pq

        d = rec["dir"]
        tables = {a: pq.read_table(f"{d}/{a}") for a in ("vocab", "index", "meta")}
        errs = oracle.check_build(self.truth, tables["vocab"], tables["index"], tables["meta"])
        rec["artifacts"] = {}
        for a, t in tables.items():
            f, b = _dir_stats(f"{d}/{a}")
            rec["artifacts"][a] = {"files": f, "bytes": b, "rows": t.num_rows}
        shutil.rmtree(d, ignore_errors=True)
        errs += oracle.check_dedup(
            set(self.shingles), rec["pairs"], rec["groups"], DEDUP_THRESHOLD
        )
        rec["quality"] = oracle.dedup_quality(
            self.shingles, self.planted, rec["pairs"], rec["groups"], DEDUP_THRESHOLD
        )
        del rec["pairs"], rec["groups"]
        return errs

    def summary(self, records: list[dict], timed: list[dict]) -> dict:
        docs = self.ctx.info["docs"]
        build = oracle.median([r["index_ms"] for r in timed])
        dd = oracle.median([r["similarity_ms"] for r in timed])
        art = timed[0]["artifacts"]
        q = timed[0]["quality"]
        return {
            "build_docs_per_s": (docs / (build / 1e3), "docs/s"),
            "build_p50_ms": (build, "ms"),
            "bytes_written_per_input_byte": (
                sum(a["bytes"] for a in art.values()) / self.ctx.info["input_bytes"], "ratio"
            ),
            "dedup_docs_per_s": (docs / (dd / 1e3), "docs/s"),
            "dedup_p50_ms": (dd, "ms"),
            "dedup_pair_recall": (q["recall"], "ratio"),
            "dedup_pair_precision": (q["precision"], "ratio"),
            "dedup_planted_pairs": (q["true_pairs"], "count"),
            "ops": (len(timed), "count"),
        }

    @staticmethod
    def headline(named: dict) -> dict:
        return {
            "index_p50_ms": named["build_p50_ms"][0],
            "similarity_p50_ms": named["dedup_p50_ms"][0],
            "similarity_recall": named["dedup_pair_recall"][0],
            "bytes_written_per_input_byte": named["bytes_written_per_input_byte"][0],
        }


WORKLOADS = {w.name: w for w in (Serve, Ingest)}


def load_inputs(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate the workload's inputs once per (workload, seed) and
    reuse them; ``info.json`` is written last, so its presence marks a
    complete cache entry."""
    cache = os.path.join(cache_root, f"{workload}-{seed}-v{gen.GEN_VERSION}")
    marker = os.path.join(cache, "info.json")
    if not os.path.exists(marker):
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(cache)
        info = WORKLOADS[workload].prepare(cache, seed)
        with open(marker + ".tmp", "w") as fh:
            json.dump(info, fh)
        os.replace(marker + ".tmp", marker)
    with open(marker) as fh:
        return cache, json.load(fh)

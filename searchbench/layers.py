"""Per-layer metrics of a traced run, computed from the spans and the
event log. Each ``*_ms`` metric is the median over traced ops of the
time that op spent in the layer; a layer the workload does not
exercise reads 0."""

from __future__ import annotations

from searchbench.oracle import median

PER_LAYER = {
    "session.jobs_per_text_query": "count",
    "session.tasks_per_text_query": "count",
    "session.jobs_per_vector_query": "count",
    "session.tasks_per_vector_query": "count",
    "session.jobs_per_build": "count",
    "session.jobs_per_dedup_pass": "count",
    "session.failed_tasks": "count",
    "session.gc_share": "ratio",
    "cli.artifact_open_ms": "ms",
    "cli.files_written": "count",
    "cli.artifact_bytes": "bytes",
    "corpus.read_ms": "ms",
    "text.tokenize_ms": "ms",
    "text.tokens": "count",
    "vocab.build_ms": "ms",
    "vocab.rows": "count",
    "vocab.shuffle_bytes": "bytes",
    "index.build_ms": "ms",
    "index.postings_rows": "count",
    "index.shuffle_bytes": "bytes",
    "index.meta_ms": "ms",
    "search.plan_ms": "ms",
    "search.exec_ms": "ms",
    "search.rows_read_per_query": "count",
    "search.bytes_read_per_query": "bytes",
    "search.shuffle_bytes_per_query": "bytes",
    "similarity.build_ms": "ms",
    "similarity.plan_ms": "ms",
    "similarity.exec_ms": "ms",
    "similarity.rows_read_per_query": "count",
    "similarity.files_read_per_query": "count",
    "dedup.minhash_ms": "ms",
    "dedup.lsh_ms": "ms",
    "dedup.groups_ms": "ms",
    "dedup.candidate_pairs": "count",
    "dedup.useful_pair_ratio": "ratio",
    "dedup.cc_jobs": "count",
    "dedup.shuffle_bytes": "bytes",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "ratio",
}


def _med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0


def compute(tr, events: dict, ops: list[dict], setup: dict | None,
            untraced_ms: list[float], named: dict) -> dict[str, float]:
    """``ops`` are the traced timed-op records (with their root span
    under ``span``); ``setup`` is the set-up span, ``untraced_ms`` the
    op times of the untraced ops of the same run and ``named`` the
    workload's own metrics."""
    m = dict.fromkeys(PER_LAYER, 0.0)

    def ev(spans, key):
        return sum(events.get(s["group"], {}).get(key, 0.0) for s in spans)

    def within(root, name, fn=tr.dur_ms):
        return sum(fn(s) for s in tr.named(root, name))

    def per(roots, fn):
        return _med(fn(r) for r in roots)

    roots = [r["span"] for r in ops]
    texts = [s for r in roots for s in tr.named(r, "query.text")]
    vecs = [s for r in roots for s in tr.named(r, "query.vector")]
    builds = [s for r in roots for s in tr.named(r, "ingest.build")]
    passes = [s for r in roots for s in tr.named(r, "ingest.dedup")]
    serve = bool(texts)

    def jobs(s):
        return sum(x["jobs"] for x in tr.real(s))

    def tasks(s):
        return sum(x["tasks"] for x in tr.real(s))

    m["session.jobs_per_text_query"] = per(texts, jobs)
    m["session.tasks_per_text_query"] = per(texts, tasks)
    m["session.jobs_per_vector_query"] = per(vecs, jobs)
    m["session.tasks_per_vector_query"] = per(vecs, tasks)
    m["session.jobs_per_build"] = per(builds, jobs)
    m["session.jobs_per_dedup_pass"] = per(passes, jobs)
    total = events.get("*", {})
    m["session.failed_tasks"] = total.get("failed_tasks", 0.0)
    if total.get("run_ms"):
        m["session.gc_share"] = total.get("gc_ms", 0.0) / total["run_ms"]

    units = texts + vecs if serve else roots
    m["cli.artifact_open_ms"] = per(units, lambda s: within(s, "cli.open"))
    m["corpus.read_ms"] = per(roots, lambda s: within(s, "corpus.read"))
    m["text.tokenize_ms"] = per(roots, lambda s: within(s, "text.tokenize"))
    m["text.tokens"] = per(
        roots, lambda s: next((x["rows"] for x in tr.named(s, "text.tokenize")), 0)
    )
    for layer, cmd in (("vocab", "cli.vocab"), ("index", "cli.index")):
        m[f"{layer}.build_ms"] = per(roots, lambda s: within(s, cmd, tr.net_ms))
        m[f"{layer}.shuffle_bytes"] = per(
            roots, lambda s: sum(ev(tr.real(c), "shuffle_bytes") for c in tr.named(s, cmd))
        )
    m["index.meta_ms"] = per(roots, lambda s: within(s, "cli.meta", tr.net_ms))
    built = [r["artifacts"] for r in ops if "artifacts" in r]
    if serve:
        m["cli.files_written"] = named["artifact_files"][0]
        m["cli.artifact_bytes"] = named["artifact_bytes"][0]
    elif built:
        m["vocab.rows"] = _med(a["vocab"]["rows"] for a in built)
        m["index.postings_rows"] = _med(a["index"]["rows"] for a in built)
        m["cli.files_written"] = _med(sum(x["files"] for x in a.values()) for a in built)
        m["cli.artifact_bytes"] = _med(sum(x["bytes"] for x in a.values()) for a in built)

    for layer, spans in (("search", texts), ("similarity", vecs)):
        m[f"{layer}.plan_ms"] = per(spans, lambda s: within(s, f"{layer}.plan"))
        m[f"{layer}.exec_ms"] = per(spans, lambda s: within(s, "cli.collect"))
        m[f"{layer}.rows_read_per_query"] = per(spans, lambda s: ev(tr.real(s), "input_rows"))
    m["search.bytes_read_per_query"] = per(texts, lambda s: ev(tr.real(s), "input_bytes"))
    m["search.shuffle_bytes_per_query"] = per(texts, lambda s: ev(tr.real(s), "shuffle_bytes"))
    m["similarity.files_read_per_query"] = per(vecs, lambda s: ev(tr.real(s), "files_read"))
    if setup is not None and serve:
        m["similarity.build_ms"] = within(setup, "cli.ann-build", tr.net_ms)

    if passes:
        m["dedup.minhash_ms"] = per(roots, lambda s: within(s, "dedup.minhash"))
        m["dedup.lsh_ms"] = per(roots, lambda s: within(s, "dedup.lsh"))
        m["dedup.groups_ms"] = per(roots, lambda s: within(s, "dedup.groups"))
        m["dedup.candidate_pairs"] = per(
            roots, lambda s: sum(x.get("rows", 0) for x in tr.named(s, "dedup.lsh"))
        )
        m["dedup.cc_jobs"] = per(
            roots, lambda s: sum(jobs(x) for x in tr.named(s, "dedup.groups"))
        )
        m["dedup.shuffle_bytes"] = per(roots, lambda s: ev(tr.real(s), "shuffle_bytes"))
        ratios = []
        for r in ops:
            cand = sum(x.get("rows", 0) for x in tr.named(r["span"], "dedup.lsh"))
            if cand:
                ratios.append(r["quality"]["good_pairs"] / cand)
        m["dedup.useful_pair_ratio"] = _med(ratios)

    if ops and untraced_ms:
        base = median(untraced_ms)
        m["trace.overhead_ms"] = median([r["ms"] for r in ops]) - base
        m["trace.overhead_share"] = m["trace.overhead_ms"] / base
    return m

"""Spans and Spark counters for the traced run, all from outside the
package.

A :class:`Tracer` records spans (name, start, end, parent, op id) in
memory. Every span runs under its own Spark job group, so the status
tracker gives its jobs and tasks, and the event log (enabled only in
the traced run) gives its task metrics. :func:`install` wraps public
functions of the package's modules in spans by monkeypatching them
once, before set-up; the package's files are never edited. Wrappers that
return a lazy frame materialize it inside the span (a noop write or a
count), so the span holds that layer's work; such spans are marked
``extra`` because the untraced op does not pay for them.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, extra: bool = False):
        """Record one span; a no-op unless the tracer is active."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "op": parent["op"] if parent else len(self.spans),
            "group": f"span-{len(self.spans)}",
            "extra": extra or bool(parent and parent["extra"]),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._status(sp)

    def _status(self, sp: dict) -> None:
        """Jobs, tasks and failed tasks of the span's own job group,
        read from the status tracker while Spark still retains them."""
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(sp["group"]))
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        sp.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)

    # ---------------------------------------------------------- queries

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    @staticmethod
    def dur_ms(sp: dict) -> float:
        return (sp["end"] - sp["start"]) * 1e3

    def self_ms(self, sp: dict) -> float:
        """Duration minus the time its child spans cover."""
        return self.dur_ms(sp) - sum(self.dur_ms(c) for c in self.children(sp))

    def net_ms(self, sp: dict) -> float:
        """Duration minus the traced-only (extra) work inside it: what
        the same call costs with tracing off."""
        extra = [
            d for d in self.descendants(sp)
            if d["extra"] and not self._has_extra_parent(d)
        ]
        return self.dur_ms(sp) - sum(self.dur_ms(d) for d in extra)

    def _has_extra_parent(self, sp: dict) -> bool:
        p = sp["parent"]
        return p is not None and self.spans[p]["extra"]

    def named(self, root: dict, name: str) -> list[dict]:
        return [s for s in self.descendants(root) if s["name"] == name]

    def real(self, root: dict) -> list[dict]:
        """``root`` and its descendants that are not traced-only."""
        return [s for s in [root, *self.descendants(root)] if not s["extra"]]

    def dump(self) -> list[dict]:
        """Spans with times relative to the first one, and self time."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6),
             "self_ms": round(self.self_ms(s), 3)}
            for s in self.spans
        ]


# ------------------------------------------------------------- wrappers

def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None, extra=False):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return orig(*args, **kwargs)
        with tracer.span(name, extra=extra) as sp:
            out = orig(*args, **kwargs)
            if after is not None:
                after(out, sp)
        return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points named in the benchmark's
    per-layer metric table. Called once, before any workload runs."""
    from pyspark.sql.readwriter import DataFrameReader

    from bigdata_elephant_spark import cli
    from bigdata_elephant_spark.operators import dedup, index, search, similarity, vocab

    def materialize(df, sp):
        noop_write(df)

    def count_rows(df, sp):
        sp["rows"] = df.count()

    # sources.corpus, read through the CLI's corpus loader
    _wrap(tracer, cli, "read_corpus", "corpus.read", materialize, extra=True)
    # functions.text.tokenize, as imported by the vocab and index builders
    for mod in (vocab, index):
        _wrap(tracer, mod, "tokenize", "text.tokenize", count_rows, extra=True)
    # cli: parquet artifact opens, writes and the final collect
    _wrap(tracer, DataFrameReader, "parquet", "cli.open")
    _wrap(tracer, cli, "_write", "cli.write")
    _wrap(tracer, cli, "_print_rows", "cli.collect")
    # operators.search: driver-side plan building
    _wrap(tracer, cli, "bm25_search", "search.plan")
    _wrap(tracer, search, "project_meta", "search.plan")
    # operators.similarity: probe selection and plan building
    _wrap(tracer, similarity, "ivf_topk_indexed", "similarity.plan")
    # operators.dedup + functions.hashing: each stage materialized
    _wrap(tracer, dedup, "minhash_signatures", "dedup.minhash", materialize, extra=True)
    _wrap(tracer, dedup, "lsh_candidate_pairs", "dedup.lsh", count_rows, extra=True)
    _wrap(tracer, dedup, "duplicate_groups", "dedup.groups")


# ------------------------------------------------------------ event log

def _tree_metrics(plan: dict, name: str, acc: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == name:
            acc.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _tree_metrics(child, name, acc)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group task metrics from a Spark event log directory:
    tasks, failed tasks, executor run/CPU/GC time, input rows and
    bytes, shuffle bytes, spill, and the scans' "number of files
    read"."""
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
        if not f.startswith(".")
    )
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_acc: dict[int, set] = defaultdict(set)
    acc_value: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group[int(eid)] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    failed = (ev.get("Task End Reason") or {}).get("Reason") != "Success"
                    tm = ev.get("Task Metrics") or {}
                    inp = tm.get("Input Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    # "*" totals every task of the run, grouped or not
                    for g in (out["*"], out[group]) if group else (out["*"],):
                        g["tasks"] += 1
                        g["failed_tasks"] += failed
                        g["run_ms"] += tm.get("Executor Run Time", 0)
                        g["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                        g["gc_ms"] += tm.get("JVM GC Time", 0)
                        g["input_rows"] += inp.get("Records Read", 0)
                        g["input_bytes"] += inp.get("Bytes Read", 0)
                        g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _tree_metrics(
                        ev.get("sparkPlanInfo") or {},
                        "number of files read",
                        files_acc[int(ev["executionId"])],
                    )
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", ()):
                        acc_value[acc_id] = value
    for eid, accs in files_acc.items():
        group = exec_group.get(eid)
        if group is not None:
            out[group]["files_read"] += sum(acc_value.get(a, 0) for a in accs)
    return {g: dict(v) for g, v in out.items()}

#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of every
bench-tagged query at sf0.1, with a one-line shuffle/broadcast/scan
summary — the artifact to eyeball after any operator change.

``--optimized OUT.json [--sf DIR]`` instead writes the optimized
logical plan of EVERY registry query as ``{name: plan}``. Both kinds
are normalized (:func:`normalize`), so two dumps written from two
checkouts compare equal wherever a change left a plan alone.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from bigdata_elephant_spark.registry import all_specs
from bigdata_elephant_spark.session import get_spark, release_caches

SF_DIR = "/root/testdata/sf0.1"

# non-bench queries whose PLAN is evidence worth auditing per round
# (plan-shape changes land here even when the query isn't benched).
# frozenset so a single entry written without a trailing comma fails
# loudly instead of degrading membership checks to substring matching
# (r11 ADVICE)
EXTRA_PLANS: frozenset[str] = frozenset({
    # (empty: dup_group_size_histogram rode here for the r11
    # star-edge switch until it was bench-tagged the same round)
})


# Plan-text details that differ between equal plans: expression ids,
# plan ids, temporary paths, lambda variable names (``x_3`` from a
# Python lambda, ``w`` from SQL text) and the printed name of a struct
# constructor (``struct`` from F.struct, ``named_struct`` from SQL).
_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/…"),
    (re.compile(r"\blambda \w+"), "lambda v"),
    (re.compile(r"\bnamed_struct\("), "struct("),
)


def normalize(plan: str) -> str:
    """``plan`` with every :data:`_NORMALIZE` detail replaced."""
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def spec_plans(spark, spec, sf_dir: str, optimized: bool) -> dict:
    """``{"result": plan}`` of one registry query, plus ``"step"``, the
    per-round iteration step of a driver-iterative query, for the
    physical kind — each normalized. Empty if the query does not
    build lazily (streaming/iterative queries run jobs eagerly)."""

    def plan(df) -> str:
        qe = df._jdf.queryExecution()
        p = qe.optimizedPlan() if optimized else qe.executedPlan()
        return normalize(p.toString())

    builders = {"result": spec.fn}
    if spec.step_fn is not None and not optimized:
        builders["step"] = spec.step_fn
    out = {}
    for part, fn in builders.items():
        try:
            # drop caches a previous spec registered BEFORE planning:
            # a persisted lineage from an earlier query rewrites this
            # one's plan as InMemoryTableScan, making the recorded
            # plan depend on registry ORDER (the r12 GATE_PRIORITY
            # reorder shifted four summaries with zero code change) —
            # the canonical uncached plan is the comparable artifact
            release_caches()
            out[part] = plan(fn(spark, sf_dir))
        except Exception as ex:
            print(f"skip {spec.name} {part}: {ex}", file=sys.stderr)
            break
    return out


def _render(plan: str) -> str:
    """Escape control chars (plan text can embed control-char join
    delimiters, e.g. concat_ws(chr(0), ...) in fingerprint queries)
    and truncate — shared by the result and step sections so both
    stay formatted identically."""
    return "".join(
        ch if ch == "\n" or ch >= " " else f"\\x{ord(ch):02x}"
        for ch in plan.strip()[:3000]
    )


def summarize(plan: str) -> str:
    shuffles = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    bcasts = plan.count("BroadcastExchange")
    scans = plan.count("FileScan parquet")
    topk = "TakeOrderedAndProject" in plan
    py = ("ArrowEval" in plan) or ("BatchEvalPython" in plan) or (
        "MapInPandas" in plan) or ("FlatMapGroupsInPandas" in plan)
    return (
        f"shuffles={shuffles} broadcasts={bcasts} scans={scans} "
        f"topk={'yes' if topk else 'no'} python={'yes' if py else 'no'}"
    )


def _markdown(plans: dict[str, dict]) -> str:
    out = [
        "# PLANS — physical plans of the benchmarked queries (sf0.1)",
        "",
        "Generated by `python tools/dump_plans.py`. Shuffle counts are",
        "from the pre-AQE static plan; AQE may further coalesce or",
        "convert joins at runtime. Streaming and iterative queries run",
        "multiple jobs and are summarized in their module docstrings",
        "instead.",
        "",
    ]
    for name, parts in plans.items():
        out += [f"## {name}", "", f"`{summarize(parts['result'])}`", "",
                "```", _render(parts["result"]), "```", ""]
        # driver-iterative queries checkpoint every round, so the
        # result plan above is a bare checkpoint scan (shuffles=0) —
        # dump the representative per-round step plan too, or the
        # audit is blind to the real shuffle shape (r12 verdict #3)
        if "step" in parts:
            out += [
                f"### {name} — per-round iteration step", "",
                f"`{summarize(parts['step'])}` (×rounds; inputs are "
                "checkpointed state)", "",
                "```", _render(parts["step"]), "```", "",
            ]
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--optimized", metavar="OUT.json")
    ap.add_argument("--sf", default=SF_DIR)
    args = ap.parse_args()
    optimized = args.optimized is not None
    spark = get_spark("plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    plans = {}
    for spec in all_specs():
        if not optimized and not (
            spec.bench or spec.name in EXTRA_PLANS
        ):
            continue
        parts = spec_plans(spark, spec, args.sf, optimized)
        if parts:
            plans[spec.name] = parts
    release_caches()
    if optimized:
        with open(args.optimized, "w") as f:
            json.dump({n: p["result"] for n, p in plans.items()}, f,
                      indent=0, sort_keys=True)
        print(f"wrote {len(plans)} plans to {args.optimized}")
    else:
        with open("PLANS.md", "w") as f:
            f.write(_markdown(plans))
        print("wrote PLANS.md")


if __name__ == "__main__":
    main()

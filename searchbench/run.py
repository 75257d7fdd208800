"""Seeded benchmark of the search engine: one workload, one seed, one run.

    python3 searchbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The inputs are generated from the seed
(and cached by workload and seed under ``.searchbench/cache``), one
Spark session is started with one local core per CPU, the workload is
set up and warmed up, and then one client runs ops back to back for
``--seconds`` seconds. Every op's output is checked against an
independent computation after the window. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a run whose odd ops are traced. A JSON dump of the run
(spans and counters too when traced) is written to
``.searchbench/out/<workload>[.trace].json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from searchbench import layers  # noqa: E402
from searchbench.tracer import Tracer, install, read_event_log  # noqa: E402
from searchbench.workloads import WORKLOADS, load_inputs  # noqa: E402

STATE = os.path.join(ROOT, ".searchbench")
END_TO_END = {
    "setup_s": "s",
    "index_p50_ms": "ms",
    "similarity_p50_ms": "ms",
    "similarity_recall": "ratio",
    "bytes_written_per_input_byte": "ratio",
    "ok_op_ratio": "ratio",
}


def spark_env(tmp: str, event_dir: str | None) -> None:
    """Keep every file Spark and the JVM write inside the checkout, turn
    the console progress bar off and, for a traced run, the event log
    on. Read when the session's JVM starts."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import bigdata_elephant_spark  # noqa: F401
        from bigdata_elephant_spark.session import get_spark
    except ImportError as e:
        print(f"searchbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2

    wl_cls = WORKLOADS[args.workload]
    cache, info = load_inputs(args.workload, args.seed, os.path.join(STATE, "cache"))
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = os.path.join(work, "events") if args.trace else None
    spark_env(os.path.join(work, "tmp"), event_dir)

    ctx = SimpleNamespace(cache=cache, info=info, work=work, tracer=Tracer(), spark=None)
    wl = wl_cls(ctx)  # reference data is derived before the clock starts

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("searchbench", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer.sc = spark.sparkContext
        if args.trace:
            install(ctx.tracer)
            ctx.tracer.active = True
        with ctx.tracer.span("setup") as setup_span:
            wl.setup()
        ctx.tracer.active = False

        def run_op(i: int, traced: bool) -> dict:
            ctx.tracer.active = traced
            rec = {"traced": traced}
            t = time.perf_counter()
            try:
                with ctx.tracer.span(f"op.{wl.name}") as rec["span"]:
                    rec.update(wl.op(i))
                rec["ms"] = (time.perf_counter() - t) * 1e3
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
            ctx.tracer.active = False
            return rec

        records = [{"warmup": True, **run_op(i, False)} for i in range(wl.warmup_ops)]
        setup_s = time.perf_counter() - t0

        i = len(records)
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            records.append(run_op(i, bool(args.trace and i % 2)))
            i += 1
        wl.finish(records)
    finally:
        stop_spark(spark)

    # warm-up ops are checked and counted like timed ones; only the
    # timed ones give the timings
    timed = [r for r in records if not r.get("warmup")]
    failed = 0
    for r in records:
        problems = [r["error"]] if "error" in r else []
        if not problems:
            try:
                problems = wl.check(r)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
        r["problems"] = problems[:5]
        failed += bool(problems)
    failed_ratio = failed / len(records)
    ok = [r for r in timed if not r["problems"]]
    try:
        after = wl.finish_check()
    except Exception:
        after = [traceback.format_exc(limit=3)]

    named = {"setup_s": (setup_s, "s"), "failed_op_ratio": (failed_ratio, "ratio")}
    if ok:
        # in a traced run only the untraced ops time the workload
        untraced = [r for r in ok if not r["traced"]] or ok
        named.update(wl.summary(records, untraced))
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": cpus, "problems_after_window": after[:5],
        "ops": [
            {k: r[k] for k in ("i", "ms", "index_ms", "similarity_ms", "traced", "warmup", "problems") if k in r}
            for r in records
        ],
    }
    if args.trace:
        events = read_event_log(event_dir)
        metrics = layers.compute(
            ctx.tracer, events, [r for r in ok if r["traced"]], setup_span,
            [r["ms"] for r in ok if not r["traced"]], named,
        )
        out = {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in metrics.items()}
        result.update(spans=ctx.tracer.dump(), events=events)
    else:
        e2e = dict.fromkeys(END_TO_END, 0.0)
        if ok:
            e2e.update(wl.headline(named))
        e2e.update(setup_s=setup_s, ok_op_ratio=1.0 - failed_ratio)
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result.update(metrics=out, workload_metrics=named)
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    dump = os.path.join(STATE, "out", f"{args.workload}{'.trace' if args.trace else ''}.json")
    with open(dump, "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    for name, (value, unit) in named.items():
        shown = "n/a (fewer than 10 samples beyond it)" if value is None else f"{value:.6g}"
        print(f"{args.workload}  {name:30s} {shown} {unit}")
    for r in records:
        for prob in r["problems"]:
            print(f"{args.workload}  problem: {prob}".rstrip())
    for prob in after[:5]:
        print(f"{args.workload}  problem after the window: {prob}".rstrip())
    print(json.dumps({
        "correct": failed == 0 and not after,
        "attempted": len(records),
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

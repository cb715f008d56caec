"""Lakehouse benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one Spark session on
``local[<cores>]`` with the package's own session factory, sets up the
workload (input generation, warm-up) and then measures whole units of
work until ``--seconds`` have passed. Every output is checked; a wrong
result counts as a failed operation and makes the command exit 1.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run measures two half-length phases (untraced,
then traced) and the last line carries the per-layer metrics, including
the tracing overhead. Earlier stdout lines (prefixed ``#``) repeat each
workload's named metrics with units and sample counts. All files go under
``.bench_work/`` (removed at exit), ``.bench_cache/`` (generated inputs)
and ``.bench_out/`` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "ops_per_min": "1/min",
    "read_p50_s": "s",
}

# Per-layer metric -> unit. Layers a workload does not exercise report 0.
PER_LAYER = {
    "flows.ingest.busy_s": "s",
    "flows.ingest.bytes_out": "B",
    "flows.bronze.busy_s": "s",
    "flows.bronze.rows_out": "rows",
    "flows.bronze.bytes_out": "B",
    "flows.silver.busy_s": "s",
    "flows.silver.rows_out": "rows",
    "flows.silver.bytes_out": "B",
    "flows.gold.busy_s": "s",
    "flows.gold.bytes_out": "B",
    **{
        f"plans.{fam}.{part}_s": "s"
        for fam in ("relational", "advanced", "tpch_extra", "events", "text", "dedup", "similarity")
        for part in ("build", "exec")
    },
    "streaming.landing.busy_s": "s",
    "streaming.landing.rows_in": "rows",
    "streaming.landing.corrupt_rows": "rows",
    "sources.snapshots.write.busy_s": "s",
    "sources.snapshots.delete_keys.busy_s": "s",
    "sources.snapshots.compact.busy_s": "s",
    "sources.snapshots.read_point.busy_s": "s",
    "sources.snapshots.read_range.busy_s": "s",
    "sources.snapshots.read_travel.busy_s": "s",
    "sources.snapshots.dirs_scanned_ratio": "ratio",
    "sources.snapshots.files_scanned_ratio": "ratio",
    "sources.snapshots.data_dirs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "trace.overhead_ratio": "ratio",
}


# Sized to the benchmark host (4 cores, memory shared with other tenants)
# rather than the session factory's 8g cluster default. The heap is
# fixed and touched at start: a heap the collector grows on demand grew
# by different amounts from run to run (query_mix peak RSS spread over
# 10%), so peak RSS is the heap plus the off-heap and Python-worker
# memory the program uses.
JVM_HEAP = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, ui: bool):
    """The package's session factory on local[<cores>], with every
    scratch location inside the run's work dir and console progress
    off so stdout stays parseable."""
    from deathmetal_datalake_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": JVM_HEAP,
            "spark.ui.enabled": str(ui).lower(),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float) -> tuple[list, float]:
    """Whole units of work until ``seconds`` have passed."""
    ops, t0 = [], time.perf_counter()
    while True:
        ops += wl.unit()
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return ops, elapsed


def end_to_end(wl, ops: list, setup_s: float, rss_mb: float) -> dict[str, float]:
    from workloads import READ_KINDS

    primary = [o.latency for o in ops if o.kind == wl.op_kind]
    reads = [o.latency for o in ops if o.kind in READ_KINDS]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "op_p50_s": float(np.median(primary)),
        "ops_per_min": 60.0 * len(primary) / sum(o.latency for o in ops),
        "read_p50_s": float(np.median(reads)),
    }


def layers(wl, tracer, engine, ops, overhead: float) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER, 0.0)
    for name, xs in tracer.self_times().items():
        if name.startswith("plans."):
            out[f"{name}_s"] = float(np.median(xs))
        elif f"{name}.busy_s" in out:
            out[f"{name}.busy_s"] = float(np.median(xs))
    out.update(wl.layer_metrics())
    # Per primary operation, including the reads that follow it.
    primary = sum(o.kind == wl.op_kind for o in ops)
    out.update(engine.per_op([o.op_id for o in ops], primary))
    out["trace.overhead_ratio"] = overhead
    return out


def run(args, work: str) -> dict:
    import workloads
    from tracing import EngineMetrics, PeakRss, Tracer

    cache = os.path.join(ROOT, ".bench_cache")
    t0 = time.perf_counter()
    spark = start_session(work, ui=bool(args.trace))
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(False)
        ctx = workloads.Context(spark, work, cache, args.seed, tracer, None, PeakRss(jvm_pid))
        cls = workloads.WORKLOADS[args.workload]
        wl = cls(ctx, ROOT) if cls is workloads.QueryMix else cls(ctx)
        wl.prepare()
        checked = wl.warm_up()
        setup_s = time.perf_counter() - t0 - getattr(wl, "untimed_s", 0.0)
        failed_queries = getattr(wl, "oracle_failures", [])

        # A traced run measures two half-length phases, untraced then
        # traced, which keeps it within its time limit.
        window = args.seconds / 2 if args.trace else args.seconds
        ops, elapsed = measure(wl, window)
        metrics = end_to_end(wl, ops, setup_s, ctx.rss.mb)
        checked += ops
        if args.trace:
            engine = EngineMetrics(spark)
            ctx.engine, tracer.enabled = engine, True
            traced, _ = measure(wl, window)
            ctx.engine, tracer.enabled = None, False
            checked += traced
            overhead = end_to_end(wl, traced, 0, 0)["op_p50_s"] / metrics["op_p50_s"]
            tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-s{args.seed}.json"))
            out = layers(wl, tracer, engine, traced, overhead)
            units = PER_LAYER
        else:
            out, units = metrics, END_TO_END
    finally:
        stop_session(spark)

    bad = [o for o in checked if not o.ok]
    attempted = len(checked) + len(failed_queries)
    failed = len(bad) + len(failed_queries)
    for o in bad[:10]:
        print(f"# FAILED {o.op_id}: {o.detail}", flush=True)
    for q in failed_queries:
        print(f"# FAILED oracle check: {q}", flush=True)

    primary = [o for o in ops if o.kind == wl.op_kind]
    print(f"# {args.workload} seed={args.seed} inputs={json.dumps(wl.sizes())}")
    print(f"# measured {len(primary)} {wl.op_kind} ops in {elapsed:.1f} s; setup {setup_s:.1f} s")
    named = {"error_rate": (failed / attempted, "ratio", attempted), "setup_s": (setup_s, "s", 1),
             "peak_rss_mb": (ctx.rss.mb, "MB", 1), **wl.named(ops)}
    for name, (value, unit, n) in named.items():
        print(f"# {name} = {value:.6g} {unit} (n={n})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(out[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["query_mix", "lakehouse_writes"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "deathmetal_datalake_spark")
    ):
        print(f"error: {ROOT} is not a checkout of the package", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    sys.dont_write_bytecode = True

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cva_annual_refresh --seed 1 \\
        --seconds 18 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.bench_tmp/`` (deleted at exit), sets up the Spark
session, warms the workload up untimed, measures whole operations until
``--seconds`` of operation time have passed, checks every output, and
prints human-readable lines followed by ONE JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (spans, the
Spark event log and self times; span JSON lands in ``.bench_out/``).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 4
MAX_ERRORS = 3


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Ctx:
    """What a workload sees: the session, the tracer, its directories,
    and the accumulators for the measured operations."""

    def __init__(self, spark, tracer, work: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.latencies: list[float] = []
        self.failed = 0  # operations whose output check failed
        self.errors = 0  # operations that raised (no latency recorded)
        self.rows = 0
        self.wall = 0.0
        self.intervals: list[tuple[float, float]] = []
        self.bytes_written = 0
        self.files_written = 0
        self.progress: list = []
        self.outputs: list = []

    @contextmanager
    def timed(self, name: str):
        """One timed region of operation work; checks run outside it."""
        rec = {}
        t0, p0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(name, "bench", "op"):
                yield rec
        finally:
            rec["elapsed"] = time.perf_counter() - p0
            self.wall += rec["elapsed"]
            self.intervals.append((t0, t0 + rec["elapsed"]))


def _setup_session(extra_conf: dict, cpus: int, tracer) -> tuple:
    from calp_cva_tracking_pipeline_spark.session import (
        get_spark,
        normalize_session,
    )

    p0 = time.perf_counter()
    with tracer.span("get_spark", "session"):
        spark = get_spark("perfbench", cpus=cpus, extra_conf=extra_conf)
    p1 = time.perf_counter()
    with tracer.span("normalize_session", "session"):
        normalize_session(spark)
    p2 = time.perf_counter()
    with tracer.span("first_job", "session", "action"):
        spark.range(0, 10000, 1, cpus).selectExpr("sum(id)").collect()
    p3 = time.perf_counter()
    return spark, (p1 - p0, p2 - p1, p3 - p2)


def _retained_heap(spark) -> int:
    """Live JVM heap after full collections: what the run keeps resident
    (peak RSS swings with the JVM's lazy heap growth). Later collections
    free what Spark's ContextCleaner released after the earlier ones; the
    old-generation usage right after the last one ignores allocation
    since."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    for _ in range(3):
        spark._jvm.java.lang.System.gc()
        time.sleep(0.3)
    return sum(
        pool.getCollectionUsage().getUsed()
        for pool in mgmt.getMemoryPoolMXBeans()
        if pool.getCollectionUsage() is not None
        and "Old Gen" in pool.getName()
    )


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: Path, log_path: Path) -> tuple[dict, list[str]]:
    import numpy as np

    import workloads
    from tracing import RssSampler, Tracer, count_error_lines, \
        summarise_event_log

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    wl = workloads.WORKLOADS[args.workload]()
    extra = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    evdir = work / "eventlog"
    if args.trace:
        evdir.mkdir(parents=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = evdir.as_uri()
        extra["spark.eventLog.compress"] = "false"

    rng = np.random.default_rng(args.seed)
    gen_t0 = time.perf_counter()
    sizes = wl.generate(rng, str(work / "inputs"))
    gen_s = time.perf_counter() - gen_t0

    setups = []
    spark = None
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            spark, parts = _setup_session(extra, cpus, tracer)
            setups.append(parts)
        ctx = Ctx(spark, tracer, work, args.seed)
        jvm_pid = spark.sparkContext._gateway.proc.pid

        tracer.phase = "warmup"
        warm_t0 = time.perf_counter()
        wl.warmup(ctx)
        warm_s = time.perf_counter() - warm_t0

        tracer.phase = "measure"
        with RssSampler(jvm_pid) as rss:
            while ctx.wall < args.seconds and ctx.errors < MAX_ERRORS:
                step_ops = len(ctx.latencies)
                try:
                    wl.step(ctx)
                except Exception:
                    traceback.print_exc()  # into the driver log
                    ctx.errors += 1
                step_ops = len(ctx.latencies) - step_ops
        tracer.phase = "done"
        # optimized-plan size of what one operation of the last step ran
        nodes = 0
        if args.trace:
            for df in ctx.outputs:
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                nodes += sum(1 for ln in plan.splitlines() if ln.strip())
            nodes /= max(step_ops, 1)
        ctx.outputs = []

        retained = _retained_heap(spark)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    ops = len(ctx.latencies)
    if not ops:
        raise RuntimeError("no operation completed; see the log above")
    attempted, failed = ops + ctx.errors, ctx.failed + ctx.errors
    totals = [sum(p) for p in setups]
    e2e = {
        "setup_s": (statistics.median(totals), "s"),
        "ops_per_s": (ops / ctx.wall, "1/s"),
        "op_p50_s": (percentile(ctx.latencies, 50), "s"),
        "op_p90_s": (percentile(ctx.latencies, 90), "s"),
        "retained_heap_mb": (retained / 2**20, "MB"),
    }
    lines = [
        f"workload={args.workload} seed={args.seed} cpus={cpus} "
        f"ops={attempted} failed={failed} measured_s={ctx.wall:.3f}",
        f"inputs: {json.dumps(sizes)} (generated in {gen_s:.2f}s; "
        f"driver heap 8 GB)",
        f"setup totals (first is the cold JVM launch): "
        + ", ".join(f"{t:.3f}s" for t in totals),
        f"warm-up (untimed, includes one-shot checks): {warm_s:.2f}s",
        f"{wl.row_name}: {ctx.rows / ctx.wall:.1f} 1/s",
        f"failed_ratio: {failed / attempted:.4f}",
        f"peak RSS of the JVM and its Python workers: "
        f"{rss.peak_bytes / 2**20:.0f} MB",
        "op latencies (s): " + " ".join(f"{x:.3f}" for x in ctx.latencies),
    ]
    lines += [f"{k}: {v:.6g} {u}" for k, (v, u) in e2e.items()]
    if not args.trace:
        return _result(ctx, e2e), lines

    per_op = ops
    session = list(zip(*setups))
    ex = summarise_event_log(str(evdir), tracer.measured())
    ev = ex["all"]

    def share(layer=None, kind=None):
        return tracer.total(layer, kind) / ctx.wall

    layer = {
        "session.build_s": (statistics.median(session[0]), "s"),
        "session.ship_s": (statistics.median(session[1]), "s"),
        "session.first_job_s": (statistics.median(session[2]), "s"),
        "sources.read_share": (share("sources", "read"), "ratio"),
        "sources.write_share": (share("sources", "write"), "ratio"),
        "sources.bytes_written": (ctx.bytes_written / per_op, "bytes"),
        "sources.files_written": (ctx.files_written / per_op, "count"),
        "plans.build_share": (share("plans", "build"), "ratio"),
        "plans.exec_share": (share(None, "write"), "ratio"),
        "plans.optimized_nodes": (nodes, "count"),
        "catalog.build_share": (share("catalog", "build"), "ratio"),
        "catalog.exec_share": (share("catalog", "action"), "ratio"),
        "catalog.jobs_per_query": (
            ex.get("catalog", {}).get("jobs", 0) / per_op, "count"),
        "exec.jobs": (ev["jobs"] / per_op, "count"),
        "exec.stages": (ev["stages"] / per_op, "count"),
        "exec.tasks": (ev["tasks"] / per_op, "count"),
        "exec.task_run_s": (ev["run_s"] / per_op, "s"),
        "exec.task_cpu_s": (ev["cpu_s"] / per_op, "s"),
        "exec.gc_share": (ev["gc_s"] / max(ev["run_s"], 1e-9), "ratio"),
        "exec.input_bytes": (ev["input_bytes"] / per_op, "bytes"),
        "exec.shuffle_write_bytes": (
            ev["shuffle_write_bytes"] / per_op, "bytes"),
        "exec.shuffle_read_bytes": (
            ev["shuffle_read_bytes"] / per_op, "bytes"),
        "exec.spill_bytes": (ev["spill_bytes"] / per_op, "bytes"),
        "exec.task_skew": (ev["task_skew"], "ratio"),
        "exec.busy_ratio": (ev["run_s"] / (ctx.wall * cpus), "ratio"),
        "exec.stage_reuse_ratio": (
            1 - ev["stages"] / ev["listed_stages"]
            if ev["listed_stages"] else 0.0, "ratio"),
        "exec.error_log_lines": (count_error_lines(str(log_path)), "count"),
        "exec.peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
    }
    if ctx.progress:
        layer.update(workloads.streaming_metrics(ctx.progress))
    self_times = tracer.self_times()
    out_dir = ROOT / ".bench_out"
    tracer.dump(str(out_dir / f"spans-{run_id}.json"))
    with open(out_dir / f"layers-{run_id}.json", "w") as f:
        json.dump({"self_s": self_times, "exec": ex, "ops": ops}, f)
    lines.append("traced run: the end-to-end values above include "
                 "tracing overhead")
    lines.append("self time per op by layer: " + ", ".join(
        f"{k}={v / per_op:.4f}s" for k, v in self_times.items()))
    for name, c in ex.items():
        lines.append(
            f"exec[{name}] per op: jobs={c['jobs'] / per_op:.1f} "
            f"stages={c['stages'] / per_op:.1f} "
            f"tasks={c['tasks'] / per_op:.1f} "
            f"task_run_s={c['run_s'] / per_op:.3f} "
            f"task_cpu_s={c['cpu_s'] / per_op:.3f} "
            f"shuffle_w={c['shuffle_write_bytes'] / per_op:.0f}B")
    return _result(ctx, layer), lines


def _result(ctx, metrics: dict) -> dict:
    failed = ctx.failed + ctx.errors
    return {
        "correct": failed == 0,
        "attempted": len(ctx.latencies) + ctx.errors,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import calp_cva_tracking_pipeline_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # keep every scratch file inside the checkout: Python's tempfile (the
    # package zip, the gateway handshake), Spark's block and shuffle files
    # (the environment variable wins over spark.local.dir) and the JVM's
    # java.io.tmpdir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )
    # the JVM inherits fd 2: route it (and ours) to a log whose ERROR lines
    # are counted, so Spark's log noise stays off the console
    log_path = work / "driver.log"
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    status = 1
    try:
        result, lines = run(args, work, log_path)
        status = 0
    finally:
        os.dup2(saved_err, 2)
        if status:
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())

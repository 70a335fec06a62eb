#!/usr/bin/env python3
"""Benchmark of the bearysta_spark recipe engine and query fleet.

    python3 perfbench/run.py --workload recipe_logs|agg_sweep|query_fleet \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. One run is one process: it writes the
workload's seeded inputs (in a child process, untimed), sets up Spark
in a new JVM SETUP_CYCLES times, then runs timed closed-loop passes over
the workload's fixed op set (one client, ops back to back) for about
--seconds, checks every op's output, and prints one JSON line last.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of a traced run (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("recipe_logs", "agg_sweep", "query_fleet")
SETUP_CYCLES = 2
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "ok_ratio": "ratio"}


def pin_env(work: str, trace: bool) -> dict:
    """Pin the run's environment before pyspark starts; returns the
    record printed with the results."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(work, k) for k in ("scratch", "tmp", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("BEARYSTA_SPARK_MEDIAN", None)
    # session.py's own default driver heap
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["BEARYSTA_SCRATCH_DIR"] = dirs["scratch"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    submit = [
        # no hsperfdata files outside the run's directory
        "--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return {
        "cpus": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "BEARYSTA_SPARK_MEDIAN": None,
        "SPARK_GRAFT_DRIVER_MEM": None,
        "PYSPARK_SUBMIT_ARGS": os.environ["PYSPARK_SUBMIT_ARGS"],
    }


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this process plus the Spark JVM it launched."""
    from pyspark import SparkContext

    return (_hwm_kb(os.getpid()) + _hwm_kb(SparkContext._gateway.proc.pid)) / 1024.0


def stop_spark(ctx) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def rec_op(op) -> str:
    """The job group of an op in the traced pass."""
    return f"traced:{op.name}"


def run_op(ctx, op, rec=None):
    """One op, build then action; returns (seconds, output, error)."""
    t0 = time.perf_counter()
    try:
        if rec is None:
            out = op.action(op.build())
        else:
            rec.op = rec_op(op)
            out = rec.phase("op.action", op.action, rec.phase("op.build", op.build))
        err = None
    except Exception as e:  # an op that raises counts as failed; keep going
        traceback.print_exc()
        out, err = None, f"{type(e).__name__}: {e}"
    dt = time.perf_counter() - t0
    ctx.spark.catalog.clearCache()
    return dt, out, err


def run_pass(ctx, ops, rec=None):
    """Every op once, back to back; returns (seconds, results)."""
    t0 = time.perf_counter()
    results = [(op, *run_op(ctx, op, rec)) for op in ops]
    if rec is not None:
        rec.op = None
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t0, results


def run(args) -> dict:
    import workloads as W

    profile = "smoke" if args.smoke else "full"
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    report: dict = {"workload": args.workload, "seed": args.seed, "profile": profile}
    ctx = SimpleNamespace(spark=None)
    try:
        W.generate(args.workload, os.path.join(work, "data"), args.seed, profile)
        report["env"] = pin_env(work, args.trace)

        import duckdb
        import pyspark

        import tracing as T
        from bearysta_spark.session import get_spark

        report["env"].update(
            python=sys.version.split()[0], pyspark=pyspark.__version__, duckdb=duckdb.__version__
        )
        data = os.path.join(work, "data")
        warm_op = W.make_warm_op(args.workload, ctx, os.path.join(data, "warm"),
                                 os.path.join(work, "warm_out"))
        setup, get_spark_s = [], []
        for _ in range(SETUP_CYCLES):
            stop_spark(ctx)  # every cycle launches its own JVM
            t0 = time.perf_counter()
            ctx.spark = get_spark("perfbench")
            get_spark_s.append(time.perf_counter() - t0)
            ctx.spark.sparkContext.setLogLevel("ERROR")
            _, _, err = run_op(ctx, warm_op)
            setup.append(time.perf_counter() - t0)
            if err:
                raise RuntimeError(f"set-up op failed: {err}")
        report["env"]["spark"] = ctx.spark.version
        app_id = ctx.spark.sparkContext.applicationId

        ops = W.make_ops(args.workload, ctx, os.path.join(data, "main"),
                         os.path.join(work, "out"), profile)
        if args.workload == "query_fleet":
            random.Random(args.seed).shuffle(ops)

        # closed loop, one client: timed passes over the op set right
        # after set-up, as many as fit in --seconds (at least one)
        timed = []
        start = time.perf_counter()
        while not timed or time.perf_counter() - start + timed[-1][0] <= args.seconds:
            timed.append(run_pass(ctx, ops))
        report["peak_rss_mb"] = peak_rss_mb()
        passes = list(timed)
        if args.trace:
            # a traced pass, then the same ops untraced: the overhead is the
            # difference, so it also carries one pass of JIT warming and
            # overstates the tracer's cost rather than hiding it
            rec = T.Recorder(ctx.spark)
            saved = T.install(rec)
            try:
                passes.append(run_pass(ctx, ops, rec))
            finally:
                T.uninstall(saved)
            passes.append(run_pass(ctx, ops))
            counts = T.status_counts(ctx.spark, [rec_op(op) for op in ops])
            stop_spark(ctx)
            log = T.parse_event_log(os.path.join(work, "eventlog"), app_id)

        # checks, outside the timed region: every pass's outputs
        failed, reasons = 0, []
        for _, results in passes:
            for op, _, out, err in results:
                reason = err or op.check(out)
                if reason:
                    failed += 1
                    reasons.append(f"{op.name}: {reason}")
        attempted = sum(len(r) for _, r in passes)
        lat = [dt for _, results in timed for _, dt, _, err in results if not err]
        wall = statistics.median(w for w, _ in timed)
        report.update(
            attempted=attempted,
            failed=failed,
            fail_ratio=failed / attempted,
            failures=reasons[:20],
            pass_walls_s=[w for w, _ in passes],
            op_s=[[op.name, dt] for _, results in passes for op, dt, _, _ in results],
            op_samples=len(lat),
            setup_cycles_s=setup,
        )
        if args.trace:
            metrics = T.span_metrics(rec.spans)
            windows: dict[str, tuple[float, float]] = {}
            for sp in rec.spans:
                if sp.name in ("op.build", "op.action"):
                    t0, t1 = windows.get(sp.op, (sp.start, sp.end))
                    windows[sp.op] = (min(t0, sp.start), max(t1, sp.end))
            metrics.update(T.spark_metrics(windows, counts, log, metrics["op.build_jobs"]))
            metrics["session.get_spark_s"] = statistics.median(get_spark_s)
            metrics["trace.untraced_wall_s"] = passes[-1][0]
            metrics["trace.traced_wall_s"] = passes[-2][0]
            metrics["trace.overhead_s"] = passes[-2][0] - passes[-1][0]
            metrics["peak_rss_mb"] = report["peak_rss_mb"]
            units = {k: T.unit_of(k) for k in T.PER_LAYER}
            metrics = {k: metrics[k] for k in T.PER_LAYER}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            rec.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            units = END_TO_END
            metrics = {
                "setup_s": statistics.median(setup),
                "wall_s": wall,
                "op_p50_s": statistics.median(lat) if lat else float("nan"),
                "ok_ratio": 1.0 - failed / attempted,
            }
        report["result"] = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return report
    finally:
        stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bearysta_spark")):
        print(f"no bearysta_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    report = run(args)
    result = report.pop("result")
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

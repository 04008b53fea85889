#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one closed-loop client: each op starts when the previous one
has returned and been checked. Spark runs as ``local[nproc]`` with
``SPARK_GRAFT_CPUS=nproc`` and every other ``SPARK_GRAFT_*`` switch at its
default. A run is:

1. set-up, timed as ``setup_s``: import the package, ``get_spark``, catalog
   registration and one untimed warm pass (the hms fixture build and the
   reference digests are excluded);
2. ``max(1, round(seconds / nominal pass time))`` measured passes, each the
   workload's op list once in a seeded order; with ``--trace 1`` the same
   number of passes again with the tracer on.

Every op, warm ones included, is checked against a DuckDB reference; a
mismatch or an exception counts as failed, and a failed warm pass ends the
run with exit code 1 and no result. The second-to-last stdout line is a
report (box state, per-pass statistics, per-op details); the last line is
the result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import box  # noqa: E402
import workloads  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "read_p50_s": "s", "read_tail_s": "s",
}
HELD_OUT_SEED = 9173  # keep out of tuning; confirm claims on it


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least ten
    samples beyond it; with ten samples or fewer, the maximum."""
    xs = sorted(values)
    n = len(xs)
    i = n - 11 if n > 10 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n


def isolate_environment(run_dir: str) -> None:
    """Pin the engine's knobs and keep every file the run writes inside the
    checkout: temp files, Spark's local dirs and its warehouse."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(box.nproc())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM Spark starts: temp files here, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem")))
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until the JVM and the
    Python workers below this process have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while box.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Runner:
    def __init__(self, wl, ctx, rng: random.Random) -> None:
        self.wl, self.ctx, self.rng = wl, ctx, rng
        self.ops: list[dict] = []

    def run_pass(self, phase: str, index: int) -> dict:
        """One pass; returns its summary. Only the op calls are timed."""
        tracer = self.ctx.tracer
        total, failed = 0.0, 0
        cpu0 = box.cpu_times()
        for op in self.wl.pass_ops(self.rng):
            rec = {"phase": phase, "pass": index, "op": op.label, "kind": op.kind,
                   "ok": False}
            if hasattr(op, "expr"):
                rec["filter"] = op.expr
            trace_op = tracer.begin_op()
            t0 = time.perf_counter()
            try:
                result = op.execute(self.ctx)
            except Exception as exc:  # noqa: BLE001 - a failed op is a data point
                rec["wall_s"] = time.perf_counter() - t0
                tracer.end_op()
                rec["error"] = _describe(exc)
            else:
                rec["wall_s"] = time.perf_counter() - t0
                tracer.end_op()
                try:
                    problem = op.verify(self.ctx, result)
                except Exception as exc:  # noqa: BLE001
                    problem = "check raised " + _describe(exc)
                rec["ok"] = problem is None
                if problem:
                    rec["error"] = problem
                if trace_op is not None:
                    rec["layer"] = {**tracer.collect(trace_op),
                                    **op.layer_counts(self.ctx, result)}
            if not rec["ok"]:
                print(f"[perfbench] {phase} op failed: {rec['op']}: {rec['error']}",
                      file=sys.stderr, flush=True)
            total += rec["wall_s"]
            failed += not rec["ok"]
            self.ops.append(rec)
        return {"phase": phase, "pass": index, "wall_s": total, "failed": failed,
                "steal_share": box.steal_share(cpu0, box.cpu_times())}


def _describe(exc: BaseException) -> str:
    lines = traceback.format_exception_only(type(exc), exc)
    return lines[-1].strip()[:500]


def end_to_end(passes, ops, setup_s: float) -> tuple[dict, list[dict]]:
    """Each latency statistic is taken within a pass and the run reports its
    median over the passes, so one pass slowed by a burst of host steal
    moves no figure. Returns the metrics and the per-pass statistics."""
    per_pass = []
    for p in passes:
        walls = [o["wall_s"] for o in ops if o["pass"] == p["pass"]]
        reads = [o["wall_s"] for o in ops if o["pass"] == p["pass"] and o["kind"] == "read"]
        op_tail, op_pct, op_n = tail(walls)
        read_tail, read_pct, read_n = tail(reads)
        per_pass.append({
            "pass_s": p["wall_s"],
            "op_p50_s": statistics.median(walls),
            "op_tail_s": op_tail,
            "read_p50_s": statistics.median(reads),
            "read_tail_s": read_tail,
            "tails": {"op": {"percentile": op_pct, "n": op_n},
                      "read": {"percentile": read_pct, "n": read_n}},
        })
    values = {"setup_s": setup_s}
    for k in ("pass_s", "op_p50_s", "op_tail_s", "read_p50_s", "read_tail_s"):
        values[k] = statistics.median(pp[k] for pp in per_pass)
    return values, per_pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: end-to-end and per-layer benchmark")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="directory of the generated parquet inputs "
                    "(default: the engine's catalog.DEFAULT_SF_DIR, sf0.1)")
    args = ap.parse_args(argv)
    os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
    # runs in one checkout share the work directory: take turns
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        run_dir = os.path.join(WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        isolate_environment(run_dir)
        state = box.BoxState(ROOT)
        rss = box.PeakRss().start()
        try:
            return _run(args, run_dir, state, rss)
        finally:
            rss.stop()
            shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, state: box.BoxState, rss: box.PeakRss) -> int:
    rng = random.Random(args.seed)
    t0 = time.perf_counter()
    try:
        from dask_hivemetastore_spark import catalog, plans
        from dask_hivemetastore_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0
    args.data = args.data or catalog.DEFAULT_SF_DIR
    if not os.path.isdir(args.data):
        print(f"perfbench: input directory {args.data} not found", file=sys.stderr)
        return 2

    from oracle import OracleDigests
    from tracer import Tracer

    wl = workloads.make(args.workload)
    digests = OracleDigests(args.data, os.path.join(WORK, "cache", "oracle_digests.json"),
                            plans.ORACLES, catalog.TABLE_NAMES)
    ctx = workloads.Context(None, args.data, run_dir, None, digests)
    t0 = time.perf_counter()
    wl.prepare(ctx)
    prepare_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_confs={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer = Tracer(spark)
        t0 = time.perf_counter()
        wl.register(ctx)
        register_s = time.perf_counter() - t0

        runner = Runner(wl, ctx, rng)
        warm = runner.run_pass("warm", 0)
        setup_s = import_s + get_spark_s + register_s + warm["wall_s"]
        if warm["failed"]:
            print("perfbench: the warm pass failed; no result", file=sys.stderr)
            return 1

        n_passes = max(1, round(args.seconds / wl.nominal_pass_s))
        passes = [runner.run_pass("measured", i) for i in range(n_passes)]
        traced = []
        if args.trace:
            ctx.tracer.enable()
            traced = [runner.run_pass("traced", i) for i in range(n_passes)]
        versions = (spark.version,
                    spark._jvm.java.lang.System.getProperty("java.version"))
    finally:
        stop_spark(spark)
        wl.close()
        digests.close()
    peak = rss.stop()

    measured_ops = [o for o in runner.ops if o["phase"] == "measured"]
    e2e, per_pass = end_to_end(passes, measured_ops, setup_s)
    attempted = len(runner.ops)
    failed = sum(not o["ok"] for o in runner.ops)
    if args.trace:
        import layers

        metrics = layers.per_layer(
            traced, [o for o in runner.ops if o["phase"] == "traced"],
            untraced_pass_s=e2e["pass_s"], get_spark_s=get_spark_s, peak_rss=peak,
            all_ops=runner.ops, attempted=attempted, failed=failed)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data": args.data, "held_out_seed": HELD_OUT_SEED,
        "box": state.finish(*versions),
        "setup": {"import_s": import_s, "get_spark_s": get_spark_s,
                  "register_s": register_s, "warm_pass_s": warm["wall_s"],
                  "excluded_prepare_s": prepare_s},
        "passes": [warm, *passes, *traced],
        "end_to_end": e2e,
        "measured_pass_stats": per_pass,
        "peak_rss_mb": peak / 2**20,
        "ops": runner.ops,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

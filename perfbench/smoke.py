#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at sf0.001 in short mode.

    python3 perfbench/smoke.py [--data <sf0.001 directory>]

Each workload runs with ``--seconds 1 --trace 1`` (one measured and one
traced pass) and must exit 0 with a correct result that names exactly the
per-layer metrics of ``BENCHMARK.json``; one untraced run must name exactly
its end-to-end metrics. The stand-in for the all-pairs Jaccard oracle (see
``oracle.py``) must give the registered oracle's digest. Last, a copy of
only ``BENCHMARK.json`` and the benchmark's files must fail without printing
a result. Exits non-zero on the first failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(cwd: str, workload: str, trace: int, data: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--data", data]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(proc, names: list[str], label: str) -> None:
    if proc.returncode != 0:
        sys.exit(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit(f"{label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        sys.exit(f"{label}: not correct: {result['attempted']} attempted, "
                 f"{result['failed']} failed\n{proc.stderr[-3000:]}")
    if list(result["metrics"]) != names:
        sys.exit(f"{label}: metrics {sorted(result['metrics'])} != {sorted(names)}")
    print(f"{label}: ok ({result['attempted']} ops)", flush=True)


def check_jaccard_equivalent(data: str) -> None:
    """The stand-in for the all-pairs Jaccard oracle gives its digest."""
    import oracle
    from dask_hivemetastore_spark import plans
    from dask_hivemetastore_spark.catalog import TABLE_NAMES

    registered = plans.ORACLES["stream_dedup_near_docs"]
    if registered != oracle.JACCARD_ORACLE:
        print("jaccard oracle: registered text changed; the stand-in is unused")
        return
    con = oracle.duck_connect(data, TABLE_NAMES)
    want = oracle.run_oracle(con, registered)
    got = oracle.run_oracle(con, oracle.JACCARD_EQUIVALENT)
    con.close()
    if got != want:
        sys.exit(f"jaccard oracle: stand-in {got} != registered {want}")
    print(f"jaccard oracle: stand-in matches ({want})")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", help="default: sf0.001 beside the engine's "
                    "catalog.DEFAULT_SF_DIR")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from dask_hivemetastore_spark.catalog import DEFAULT_SF_DIR

    args.data = args.data or os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_jaccard_equivalent(args.data)
    per_layer = [m["name"] for m in spec["per_layer"]]
    end_to_end = [m["name"] for m in spec["end_to_end"]]

    for wl in workloads.WORKLOADS:
        check_result(run(ROOT, wl, 1, args.data), per_layer, f"{wl} --trace 1")
    check_result(run(ROOT, "tpch_analytic", 0, args.data), end_to_end,
                 "tpch_analytic --trace 0")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = run(bare, "tpch_analytic", 0, args.data)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        sys.exit(f"bare copy: expected a failure, got exit {proc.returncode}")
    print(f"bare copy: fails as expected (exit {proc.returncode})")


if __name__ == "__main__":
    main()

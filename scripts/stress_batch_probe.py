#!/usr/bin/env python
"""Batched vs looped index probes at 100x corpus scale (r13).

Same 100x corpus as the ann_index_compact stress (PERF.md r13):
200 000 vectors, one-shot indexes (LSH postings 16x8-bit + INT8
sidecar; IVF 16 cells), then a Q-query workload served two ways — a single-probe loop (Q pruned scans,
Q shortlist jobs) and the batched probe (ONE scan, one screen, one
rescore). Invariants wired into the exit code:

- batch == loop per query, row-for-row, on BOTH families (the batch
  probe's whole contract);
- the batch is faster than the loop (the amortization claim — reported
  as a ratio; asserted > 1.0 since Q scans vs one scan should never
  lose at this Q).

Usage: python scripts/stress_batch_probe.py [--reps 100] [--queries 8]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time

import numpy as np
from pyspark.sql import SparkSession, functions as F


def _best(n: int, fn) -> float:
    fn()  # warm rep
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return round(min(times), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=100)
    ap.add_argument("--queries", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed,
        ivf_probe_indexed_batch,
        lsh_build_index,
        lsh_probe_indexed,
        lsh_probe_indexed_batch,
    )
    from dask_hivemetastore_spark.session import ensure_runtime_confs

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_runtime_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, args.sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    big = (
        emb.withColumn(
            "__rep", F.explode(F.sequence(F.lit(0), F.lit(args.reps - 1)))
        )
        .select(
            (F.col("vec_id") + F.col("__rep") * 10_000_000).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    base = tempfile.mkdtemp(prefix="batch_probe_")
    flat_path = f"{base}/flat"
    big.write.mode("overwrite").parquet(flat_path)
    flat = spark.read.parquet(flat_path)
    n = flat.count()
    Q = args.queries
    qids = list(range(Q))
    results: dict = {"n_vectors": n, "queries": Q}
    ok = True

    # ---------------- LSH ----------------
    lidx = f"{base}/lsh"
    lsh_build_index(flat, lidx, dim=dim, bits=8, n_tables=16)

    def lsh_loop():
        out = {}
        for q in qids:
            out[q] = {tuple(r) for r in lsh_probe_indexed(
                flat, lidx, query_id=q, k=5).collect()}
        return out

    def lsh_batch():
        out = {}
        for r in lsh_probe_indexed_batch(flat, lidx, qids, k=5).collect():
            out.setdefault(r.q_id, set()).add((r.vec_id, r.cosine))
        return out

    ok &= lsh_batch() == lsh_loop()
    results["lsh_loop_sec"] = _best(3, lsh_loop)
    results["lsh_batch_sec"] = _best(3, lsh_batch)
    results["lsh_batch_speedup_x"] = round(
        results["lsh_loop_sec"] / results["lsh_batch_sec"], 2)

    # ---------------- IVF ----------------
    iidx = f"{base}/ivf"
    ivf_build_index(flat, iidx, n_cells=16, cache_key=flat_path, dim=dim,
                    drift_reference=False)
    qvecs = {
        int(r[0]): np.asarray(r[1], dtype=np.float64)
        for r in finite_vectors(flat, "embedding", dim)
        .where(F.col("vec_id").isin(qids))
        .select("vec_id", "embedding").collect()
    }

    def ivf_loop():
        out = {}
        for q in qids:
            out[q] = {(r.vec_id, r.cosine) for r in ivf_probe_indexed(
                spark, iidx, None, qvecs[q], k=5, nprobe=8,
                exclude_id=q).collect()}
        return out

    def ivf_batch():
        out = {}
        for r in ivf_probe_indexed_batch(
            flat, iidx, qids, k=5, nprobe=8, dim=dim
        ).collect():
            out.setdefault(r.q_id, set()).add((r.vec_id, r.cosine))
        return out

    ok &= ivf_batch() == ivf_loop()
    results["ivf_loop_sec"] = _best(3, ivf_loop)
    results["ivf_batch_sec"] = _best(3, ivf_batch)
    results["ivf_batch_speedup_x"] = round(
        results["ivf_loop_sec"] / results["ivf_batch_sec"], 2)

    ok &= results["lsh_batch_speedup_x"] > 1.0
    ok &= results["ivf_batch_speedup_x"] > 1.0
    results["ok"] = bool(ok)
    print(json.dumps(results))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

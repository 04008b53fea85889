"""Per-layer metrics of a traced run, folded from the tracer's op records.

Counts, bytes and busy times are totals per pass (summed over the traced
passes, divided by their number), so runs with different pass counts
compare. Names ending in ``_p50_s``, ``plans.<key>.wall_s`` and the
``metastore.read_table_*`` pair are medians over ops; the last two cover
only the year-spanning range reads (~365 partitions). A metric of a layer a
workload does not reach reads 0.
"""

from __future__ import annotations

import statistics

import workloads

# summed per pass
_TOTALS = {
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "metastore.list_partitions_s": "s",
    "metastore.partitions_walked": "count",
    "metastore.partitions_kept": "count",
    "writers.write_parquet_s": "s",
    "writers.files_written": "count",
    "writers.bytes_written": "B",
    "plans.build_s": "s",
    "plans.collect_s": "s",
    "plans.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.task_failures": "count",
    "operators.python_rows_received": "count",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_received": "B",
    "operators.python_exec_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_commit_s": "s",
}

# every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.get_spark_s": "s",
    **{k: u for k, u in _TOTALS.items() if k.startswith(("catalog.", "metastore."))},
    "metastore.prune_ratio": "ratio",
    "metastore.read_table_s": "s",
    "metastore.read_table_jobs": "count",
    **{k: u for k, u in _TOTALS.items() if not k.startswith(("catalog.", "metastore."))},
    "streaming.data_batch_ratio": "ratio",
    "streaming.batch_p50_s": "s",
    "streaming.state_memory_bytes": "B",
    **{f"plans.{key}.wall_s": "s" for key in workloads.registry_keys()},
    "trace.overhead_s": "s",
    "append_p50_s": "s",
    "fail_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(traced_passes, traced_ops, *, untraced_pass_s: float,
              get_spark_s: float, peak_rss: int, all_ops, attempted: int,
              failed: int) -> dict:
    n = max(1, len(traced_passes))
    layer = [o.get("layer", {}) for o in traced_ops]
    v = {k: sum(rec.get(k, 0.0) for rec in layer) / n for k in _TOTALS}
    v["session.get_spark_s"] = get_spark_s
    walked = v["metastore.partitions_walked"]
    v["metastore.prune_ratio"] = v["metastore.partitions_kept"] / walked if walked else 0.0
    ranges = [o["layer"] for o in traced_ops if o["op"] == "read_range" and "layer" in o]
    v["metastore.read_table_s"] = _median(r.get("metastore.read_table_s", 0.0) for r in ranges)
    v["metastore.read_table_jobs"] = _median(r.get("metastore.read_table_jobs", 0) for r in ranges)
    batches = sum(rec.get("streaming.batches", 0) for rec in layer)
    data = sum(rec.get("streaming.data_batches", 0) for rec in layer)
    v["streaming.data_batch_ratio"] = data / batches if batches else 0.0
    v["streaming.batch_p50_s"] = _median(
        d for rec in layer for d in rec.get("streaming.batch_durations", ()))
    v["streaming.state_memory_bytes"] = max(
        (rec.get("streaming.state_memory_bytes", 0) for rec in layer), default=0)
    for key in workloads.registry_keys():
        v[f"plans.{key}.wall_s"] = _median(o["wall_s"] for o in traced_ops if o["op"] == key)
    v["trace.overhead_s"] = _median(p["wall_s"] for p in traced_passes) - untraced_pass_s
    v["append_p50_s"] = _median(o["wall_s"] for o in all_ops
                                if o["kind"] == "append" and o["phase"] != "warm")
    v["fail_ratio"] = failed / attempted if attempted else 0.0
    v["peak_rss_mb"] = peak_rss / 2**20
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}

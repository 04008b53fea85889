#!/usr/bin/env python
"""100x RANDOM-ARRIVAL stress for the r11 component-set sessionizer.

The r11 rewrite (streaming/pipeline.py `_sessionize_fn`) made
`stream_sessionize` order-independent across micro-batches: state is the
user's set of gap-components, insertion merges intervals, superseded
session starts emit tombstones. The batching gate proves exactness on
the 0.001-SF fixture; this harness proves it at replica scale with
hostile arrival order, invariants wired to the exit code:

  A. EXACT final answer: the sink's sequential-upsert reconstruction
     (update the (user, session_start) key on a real row, delete it on a
     tombstone, in batch order) equals the batch gaps-and-islands answer
     computed by an independent Spark window formulation (LAG + running
     SUM — the registered DuckDB oracle's shape) — set equality both
     directions, on every (user_id, session_start, n_events,
     total_value) tuple.
  B. State accounting (I10 readback): after the drain, the state store's
     per-user component COUNT equals the per-user session count of the
     batch answer (unwatermarked run: nothing may evict), and component
     n's sum to the non-NULL-ts event count.
  C. The retraction path actually ran: random arrival moved at least one
     session start backwards across batches (n_tombstones > 0) —
     otherwise the run proves only the append path.

Corpus: the sf0.01 events table replicated R times with per-replica
user-id offsets (sessions independent across replicas; the NULL user_id
row replicates into ONE shared NULL group — a deliberate hot key).
Arrival order: rows hash-partitioned by event_id into B parquet files
with increasing mtimes — each micro-batch is a RANDOM slice of every
user's timeline, the exact shape the r10 sessionizer documented as
out-of-contract.

--rocksdb switches the state store to the built-in RocksDB provider
(disk-backed state — the 100 TB deployment note from PERF.md r10) and
records the same invariants under it.

Usage: python scripts/stress_sessionize_scale.py [--reps 100]
         [--batches 6] [--sf-dir /root/testdata/sf0.01] [--rocksdb]
Prints one JSON line; exit 0 iff every invariant holds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=100)
    ap.add_argument("--batches", type=int, default=6)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--rocksdb", action="store_true")
    args = ap.parse_args()

    from pyspark.sql.streaming.state import GroupStateTimeout

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.session import get_spark
    from dask_hivemetastore_spark.streaming.pipeline import (
        _SESS_OUT,
        _SESS_STATE,
        _sessionize_fn,
    )

    # ~1M update-mode emissions accumulate in the single local JVM's
    # memory sink, beside the state store and its maintenance snapshots —
    # provision heap up front (same note as PERF.md r10's stream-dedup
    # stress: at
    # production scale this is executor memory × shard count, and the
    # sink is a real table, not memory)
    spark = get_spark(
        app_name="stress_sessionize",
        extra_confs={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.rocksdb:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
    t_all = time.time()

    # ------------------------------------------------ corpus construction
    ev = load_table(spark, args.sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    reps = args.reps
    corpus = ev.withColumn(
        "__rep",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.lit(reps - 1).cast("long"))),
    ).select(
        (F.col("event_id") + F.col("__rep") * 100_000_000).alias("event_id"),
        # NULL user_id stays NULL in every replica -> one shared hot group
        (F.col("user_id") + F.col("__rep") * 10_000_000).alias("user_id"),
        "ts",
        "value",
    )

    src = tempfile.mkdtemp(prefix="stress_sess_src_")
    corpus.withColumn(
        "__b", F.pmod(F.xxhash64("event_id"), F.lit(args.batches))
    ).write.partitionBy("__b").mode("overwrite").parquet(src)
    base_t = 1_000_000_000
    for i in range(args.batches):
        d = os.path.join(src, f"__b={i}")
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (base_t + 60 * i, base_t + 60 * i))
    n_events = corpus.count()

    # ------------------------------------------------ ground truth (batch)
    # Independent formulation: LAG + running SUM gaps-and-islands (the
    # registered oracle's shape), NOT the component algorithm under test.
    corpus.createOrReplaceTempView("stress_events")
    truth = spark.sql(
        """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTES
                        THEN 1 ELSE 0 END AS new_sess
            FROM stress_events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ), sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS session_start,
               COUNT(*)              AS n_events,
               ROUND(SUM(value), 2)  AS total_value
        FROM sess GROUP BY user_id, sid
        """
    ).persist()
    n_sessions = truth.count()

    # ------------------------------------------------ the streaming run
    t0 = time.time()
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", src)
        .parquet(src)
        .select("user_id", "ts", "value")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    ckpt = tempfile.mkdtemp(prefix="stress_sess_ckpt_")
    q = (
        sessions.writeStream.format("memory")
        .queryName("stress_sess_sink")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    wall_stream = time.time() - t0

    failures: list[str] = []

    # ------------------------------------------------ A: exact final answer
    # Sequential upsert in SQL: the LAST emission per key decides; a key
    # whose last emission is a tombstone is deleted. Emission order is
    # the sink's append order — pin it with a monotonic row id BEFORE any
    # shuffle touches the frame.
    sink = (
        spark.table("stress_sess_sink")
        .withColumn("__seq", F.monotonically_increasing_id())
        .persist()
    )
    n_emissions = sink.count()
    n_tombstones = sink.where(F.col("n_events").isNull()).count()
    last = (
        sink.groupBy("user_id", "session_start")
        .agg(F.max_by(F.struct("n_events", "total_value"), "__seq").alias("v"))
        .select(
            "user_id",
            "session_start",
            F.col("v.n_events").alias("n_events"),
            F.col("v.total_value").alias("total_value"),
        )
        .where(F.col("n_events").isNotNull())
        .persist()
    )
    extra = last.exceptAll(truth).count()
    missing = truth.exceptAll(last).count()
    if extra or missing:
        failures.append(
            f"A: final sink state != batch answer (extra={extra}, "
            f"missing={missing})"
        )

    # ------------------------------------------------ B: state accounting
    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.size("value.groupState.starts").alias("n_comp"),
            F.aggregate(
                "value.groupState.ns", F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("n_rows"),
        )
        .persist()
    )
    state_comps = state.agg(F.sum("n_comp")).first()[0] or 0
    state_rows = state.agg(F.sum("n_rows")).first()[0] or 0
    dated_events = corpus.where(F.col("ts").isNotNull()).count()
    if state_comps != n_sessions:
        failures.append(
            f"B: state holds {state_comps} components, batch answer has "
            f"{n_sessions} sessions"
        )
    if state_rows != dated_events:
        failures.append(
            f"B: state n's sum to {state_rows}, dated events {dated_events}"
        )
    per_user_mismatch = (
        state.join(
            truth.groupBy("user_id").agg(F.count("*").alias("n_sess")),
            "user_id",
            "full_outer",
        )
        .where(
            F.coalesce("n_comp", F.lit(0)) != F.coalesce("n_sess", F.lit(0))
        )
        .count()
    )
    if per_user_mismatch:
        failures.append(f"B: {per_user_mismatch} users' component counts differ")

    # ------------------------------------------------ C: retraction ran
    if n_tombstones == 0:
        failures.append(
            "C: zero tombstones — random arrival never moved a start; "
            "increase --batches or --reps"
        )

    out = {
        "reps": reps,
        "batches": args.batches,
        "provider": "rocksdb" if args.rocksdb else "hdfs",
        "n_events": n_events,
        "n_sessions": n_sessions,
        "n_users_in_state": state.count(),
        "n_emissions": n_emissions,
        "n_tombstones": n_tombstones,
        "wall_stream_sec": round(wall_stream, 1),
        "wall_total_sec": round(time.time() - t_all, 1),
        "failures": failures,
    }
    print(json.dumps(out))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

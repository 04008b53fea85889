"""The benchmark's workloads: what one pass runs and how each op is checked.

Every op has three parts:

- ``execute`` is the timed call into the program;
- ``verify`` checks its output against an independent DuckDB reference and
  returns a description of the mismatch, or None;
- ``layer_counts`` (traced passes only) measures what the op did in layers
  the tracer cannot see from Spark's status stores.
"""

from __future__ import annotations

import datetime
import os
import random

from oracle import digest

TPCH_KEYS = [
    "q1_pricing_summary", "q3_top_orders", "q5_local_supplier",
    "q6_revenue_delta", "events_tumbling_1h", "window_rank_orders",
    "distinct_users", "knn_cosine_topk",
]
LLM_KEYS = [
    "dedup_simhash", "knn_lsh_join", "knn_ivf_rebuild_probe",
    "knn_lsh_compact_probe", "dedup_embedding_components",
]
STREAM_KEYS = ["stream_dedup_near_docs", "stream_lsh_ingest"]


class Context:
    """What ops need: the session, the inputs and the tracer."""

    def __init__(self, spark, sf_dir: str, run_dir: str, tracer, digests) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.tracer = tracer
        self.digests = digests


# -- registry workloads ------------------------------------------------------

class QueryOp:
    kind = "read"

    def __init__(self, key: str) -> None:
        self.key = self.label = key

    def execute(self, ctx: Context):
        from dask_hivemetastore_spark import plans

        with ctx.tracer.span("plans.build"):
            df = plans.QUERIES[self.key](ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("plans.collect"):
            rows = df.collect()
        return df, rows

    def verify(self, ctx: Context, result) -> str | None:
        df, rows = result
        got, want = digest(df.columns, rows), ctx.digests.get(self.key)
        return None if got == want else f"{self.key}: digest {got} != oracle {want}"

    def layer_counts(self, ctx: Context, result) -> dict[str, float]:
        return {}


class RegistryWorkload:
    """A fixed list of registry keys; a pass runs each once in seeded order."""

    def __init__(self, keys: list[str], nominal_pass_s: float) -> None:
        self.keys = keys
        self.nominal_pass_s = nominal_pass_s

    def prepare(self, ctx: Context) -> None:
        for key in self.keys:
            ctx.digests.get(key)

    def register(self, ctx: Context) -> None:
        """Registry keys resolve their tables through ``catalog.load_table``
        on each call; there is nothing to register up front."""

    def pass_ops(self, rng: random.Random) -> list[QueryOp]:
        order = list(self.keys)
        rng.shuffle(order)
        return [QueryOp(k) for k in order]

    def close(self) -> None:
        pass


# -- hms_pruned_scan -----------------------------------------------------------

TABLE = "lineitem_hive"
PART_KEYS = ["ship_y", "ship_m", "ship_d"]
APPEND_ROWS = 240  # about one base day of lineitem at sf0.1
_HIVE_TYPES = {"int64": "bigint", "int32": "int", "double": "double",
               "string": "string", "large_string": "string"}
_AGG_SQL = (
    "SELECT ship_y, ship_m, count(*) AS n, sum(l_quantity) AS qty, "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents "
    "FROM ref WHERE {} GROUP BY ship_y, ship_m"
)


def day_filter(day: datetime.date) -> str:
    return f"ship_y={day.year} AND ship_m={day.month} AND ship_d={day.day}"


def month_filter(year: int, month: int) -> str:
    return f"ship_y={year} AND ship_m={month}"


class HmsRead:
    kind = "read"

    def __init__(self, wl: "HmsWorkload", label: str, expr: str) -> None:
        self.wl, self.label, self.expr = wl, label, expr

    def execute(self, ctx: Context):
        from pyspark.sql import functions as F

        with ctx.tracer.span("metastore.read_table", own_jobs=True):
            df = self.wl.catalog.read_table(ctx.spark, TABLE, partition_filter=self.expr)
        agg = df.groupBy("ship_y", "ship_m").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"),
        )
        return agg.columns, agg.collect()

    def verify(self, ctx: Context, result) -> str | None:
        cols, rows = result
        rel = self.wl.ref.sql(_AGG_SQL.format(self.expr))
        got, want = digest(cols, rows), digest(list(rel.columns), rel.fetchall())
        return None if got == want else f"{self.label} [{self.expr}]: {got} != {want}"

    def layer_counts(self, ctx: Context, result) -> dict[str, float]:
        import time

        cat = self.wl.catalog
        t0 = time.perf_counter()
        kept = cat.list_partitions(TABLE, self.expr)
        return {
            "metastore.list_partitions_s": time.perf_counter() - t0,
            "metastore.partitions_kept": len(kept),
            "metastore.partitions_walked": len(cat.list_partitions(TABLE)),
        }


class HmsAppend:
    kind = "append"
    label = "append_day"

    def __init__(self, wl: "HmsWorkload", day: datetime.date, rows: list[tuple]) -> None:
        self.wl, self.day, self.rows = wl, day, rows

    def execute(self, ctx: Context):
        from dask_hivemetastore_spark.sources.writers import write_parquet

        df = ctx.spark.createDataFrame(self.rows, self.wl.schema)
        with ctx.tracer.span("writers.write_parquet"):
            write_parquet(df, self.wl.table.location, mode="append",
                          partition_by=PART_KEYS)
        return None

    def verify(self, ctx: Context, result) -> str | None:
        ncols = len(self.rows[0])
        self.wl.ref.executemany(
            f"INSERT INTO ref VALUES ({', '.join(['?'] * ncols)})", self.rows)
        listed = self.wl.catalog.list_partitions(TABLE, day_filter(self.day))
        want = [{"ship_y": str(self.day.year), "ship_m": str(self.day.month),
                 "ship_d": str(self.day.day)}]
        return None if listed == want else f"append {self.day}: listed {listed}"

    def layer_counts(self, ctx: Context, result) -> dict[str, float]:
        d = self.day
        path = os.path.join(self.wl.table.location, f"ship_y={d.year}",
                            f"ship_m={d.month}", f"ship_d={d.day}")
        files = [e for e in os.scandir(path)
                 if e.is_file() and not e.name.startswith((".", "_"))]
        return {"writers.files_written": len(files),
                "writers.bytes_written": sum(e.stat().st_size for e in files)}


class HmsWorkload:
    """lineitem rewritten as a Hive-style ``ship_y=/ship_m=/ship_d=`` table in
    a :class:`ThinCatalog`, read with partition filters and appended to.

    A pass is ten ops in seeded order: 3 reads of a random base day, 2 of a
    random full base month, 2 of a year-spanning range (~365 partitions),
    one append of the next new day, and one read each of the newest day on
    disk and of its month. When those two reads follow the append they read
    the partition it just wrote, so a listing that misses fresh partitions
    fails the check. The mix is the same in every pass; the seed picks the
    order and the random targets."""

    nominal_pass_s = 7.0
    mix = {"day": 3, "month": 2, "range": 2, "append": 1, "new_day": 1, "new_month": 1}

    def prepare(self, ctx: Context) -> None:
        """Build the fixture from the read-only lineitem file (not timed)."""
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from dask_hivemetastore_spark.sources.metastore import TableDef
        from dask_hivemetastore_spark.types import hive_schema_to_struct

        src = os.path.join(ctx.sf_dir, "lineitem.parquet")
        t = pq.read_table(src)
        ship = t.column("l_shipdate")
        t = t.drop_columns(["l_shipdate"])
        columns = [(f.name, _HIVE_TYPES[str(f.type)]) for f in t.schema]
        for key, fn in zip(PART_KEYS, (pc.year, pc.month, pc.day)):
            t = t.append_column(key, fn(ship).cast(pa.int32()))
        location = os.path.join(ctx.run_dir, TABLE)
        # sorted input writes each partition's rows in one go (unsorted, the
        # writer cycles open files and takes 25x longer)
        t = t.sort_by([(k, "ascending") for k in PART_KEYS])
        ds.write_dataset(
            t, location, format="parquet", partitioning=PART_KEYS,
            partitioning_flavor="hive", max_partitions=1 << 16,
            basename_template="part-{i}.parquet",
        )
        self.table = TableDef(name=TABLE, location=location, columns=columns,
                              partition_keys=[(k, "int") for k in PART_KEYS])
        self.schema = hive_schema_to_struct(columns + self.table.partition_keys)
        self.ref = duckdb.connect()
        self.ref.register("fixture", t)
        self.ref.execute("CREATE TABLE ref AS SELECT * FROM fixture")
        self.ref.unregister("fixture")
        days = sorted({datetime.date(y, m, d) for y, m, d in zip(
            *(t.column(k).to_pylist() for k in PART_KEYS))})
        last = days[-1]
        self.days = days
        self.months = sorted({(d.year, d.month) for d in days} - {(last.year, last.month)})
        # 12-month windows starting in month 2..12, inside the base data
        self.range_starts = [(y, m) for y, m in self.months
                             if m >= 2 and (y + 1, m - 1) in self.months]
        self.newest = last
        self.next_day = last + datetime.timedelta(days=1)
        self.next_key = 1 + max(t.column("l_orderkey").to_pylist())

    def register(self, ctx: Context) -> None:
        from dask_hivemetastore_spark.sources.metastore import ThinCatalog

        self.catalog = ThinCatalog()
        self.catalog.register(self.table)

    def _append_rows(self, rng: random.Random, day: datetime.date) -> list[tuple]:
        rows = []
        for i in range(APPEND_ROWS):
            if i % 4 == 0:
                self.next_key += 1
            rows.append((
                self.next_key, rng.randrange(1, 20000), rng.randrange(1, 1000),
                i % 4 + 1, float(rng.randrange(1, 51)),
                round(rng.uniform(900.0, 105000.0), 2),
                rng.randrange(0, 11) / 100, rng.randrange(0, 9) / 100,
                rng.choice("ANR"), rng.choice("OF"),
                day.year, day.month, day.day,
            ))
        return rows

    def pass_ops(self, rng: random.Random) -> list:
        kinds = [k for k, n in self.mix.items() for _ in range(n)]
        rng.shuffle(kinds)
        new_day, newest = self.next_day, self.newest
        ops = []
        for kind in kinds:
            if kind == "append":
                ops.append(HmsAppend(self, new_day, self._append_rows(rng, new_day)))
                newest = new_day
                continue
            if kind == "range":
                y, m = rng.choice(self.range_starts)
                expr = (f"ship_y={y} AND ship_m>={m} OR "
                        f"ship_y={y + 1} AND ship_m<{m}")
            elif kind == "day":
                expr = day_filter(rng.choice(self.days))
            elif kind == "month":
                expr = month_filter(*rng.choice(self.months))
            elif kind == "new_day":
                expr = day_filter(newest)
            else:
                expr = month_filter(newest.year, newest.month)
            ops.append(HmsRead(self, f"read_{kind}", expr))
        self.newest = new_day
        self.next_day += datetime.timedelta(days=1)
        return ops

    def close(self) -> None:
        self.ref.close()


def make(name: str):
    if name == "hms_pruned_scan":
        return HmsWorkload()
    if name == "tpch_analytic":
        return RegistryWorkload(TPCH_KEYS, nominal_pass_s=5.0)
    if name == "llm_index_maintenance":
        return RegistryWorkload(LLM_KEYS, nominal_pass_s=30.0)
    if name == "stream_drain":
        return RegistryWorkload(STREAM_KEYS, nominal_pass_s=15.0)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ["hms_pruned_scan", "tpch_analytic", "llm_index_maintenance", "stream_drain"]


def registry_keys() -> list[str]:
    return TPCH_KEYS + LLM_KEYS + STREAM_KEYS

"""Sources layer: format dispatch, declared-schema text reads, thin-catalog
partition enumeration + pushdown, sinks, Hive integration (subprocess)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from .conftest import REPO_ROOT


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path)


def test_read_delimited_hive_schema(spark, tmp_table_dir):
    """A3: \\x01-delimited text + declared Hive types, no inference."""
    from dask_hivemetastore_spark.sources.readers import read_delimited

    path = os.path.join(tmp_table_dir, "t.txt")
    with open(path, "w") as f:
        f.write("1\x01alice\x013.5\n2\x01bob\x01\n")  # trailing empty -> NULL
    df = read_delimited(
        spark, path, [("id", "bigint"), ("name", "string"), ("score", "double")]
    )
    assert [f_.dataType.simpleString() for f_ in df.schema.fields] == [
        "bigint", "string", "double",
    ]
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("alice", 3.5), 2: ("bob", None)}


def test_partitioned_write_read_prune(spark, tmp_table_dir, sf_dir):
    """A4-A6: partitionBy write → partition discovery → predicate prunes the
    file listing (verified via inputFiles, not just results)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.sources.readers import read_partitioned_parquet
    from dask_hivemetastore_spark.sources.writers import write_parquet

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    base = os.path.join(tmp_table_dir, "orders_part")
    write_parquet(orders, base, partition_by=["status"])

    all_df = read_partitioned_parquet(spark, base)
    assert all_df.count() == orders.count()
    pruned = read_partitioned_parquet(spark, base, "status = 'F'")
    expected = orders.where("o_orderstatus = 'F'").count()
    assert pruned.count() == expected
    # the predicate must land in the scan's PartitionFilters (listing-level
    # pruning); inputFiles() reflects the pre-pushdown index, so check the plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters", 1)[1][:200]


def test_thin_catalog_flow(spark, tmp_table_dir, sf_dir):
    """The reference's 5-step resolution flow on the thin catalog, including
    metastore-style partition-filter pushdown and key-column attachment."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog
    from dask_hivemetastore_spark.sources.writers import write_parquet

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    base = os.path.join(tmp_table_dir, "events_by_type")
    write_parquet(events, base, partition_by=["event_type"])

    cat = ThinCatalog()
    cat.register(
        TableDef(
            name="events_by_type",
            location=base,
            columns=[("event_id", "bigint"), ("user_id", "bigint"), ("value", "double")],
            partition_keys=[("event_type", "string")],
        )
    )
    # partition enumeration + filter string pushdown
    parts = cat.list_partitions("events_by_type")
    assert {p["event_type"] for p in parts} == {"click", "view", "purchase", "signup", "error"}
    assert cat.list_partitions("events_by_type", "event_type = 'click'") == [
        {"event_type": "click"}
    ]
    assert cat.list_partitions(
        "events_by_type", "event_type = 'click' OR event_type = 'view'"
    ) == [{"event_type": "click"}, {"event_type": "view"}]

    # full read: constant partition columns + correct rows
    df = cat.read_table(spark, "events_by_type", partition_filter="event_type != 'error'")
    assert "event_type" in df.columns
    expected = events.where("event_type != 'error'").count()
    assert df.count() == expected

    # catalog persists and reloads
    p = os.path.join(tmp_table_dir, "catalog.json")
    cat.save(p)
    cat2 = ThinCatalog.load(p)
    assert cat2.get_table("events_by_type").partition_keys == [("event_type", "string")]


def test_partition_filter_eval():
    from dask_hivemetastore_spark.sources.metastore import _eval_filter

    assert _eval_filter("dt >= '2024-01-15'", {"dt": "2024-01-20"})
    assert not _eval_filter("dt >= '2024-01-15'", {"dt": "2024-01-01"})
    assert _eval_filter("a = 1 AND b = x", {"a": "1", "b": "x"})
    assert _eval_filter("a = 2 OR b = x", {"a": "1", "b": "x"})
    assert _eval_filter("n > 9", {"n": "10"})  # numeric, not lexicographic
    with pytest.raises(KeyError):
        _eval_filter("nope = 1", {"a": "1"})
    # 'nan' parses as float NaN, which never equals itself: such values
    # compare as strings, so a 'nan' partition can be selected
    assert _eval_filter("k = 'nan'", {"k": "nan"})
    assert not _eval_filter("k != 'nan'", {"k": "nan"})
    assert _eval_filter("k <> nan", {"k": "1"})
    assert not _eval_filter("k = 'nan'", {"k": "NaN"})
    assert _eval_filter("k = 1", {"k": "1.0"})  # non-NaN numbers stay numeric


def test_csv_sink_roundtrip(spark, tmp_table_dir):
    from dask_hivemetastore_spark.sources.readers import read_delimited
    from dask_hivemetastore_spark.sources.writers import write_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    path = os.path.join(tmp_table_dir, "csv_out")
    write_csv(df, path, sep="|", header=False)
    back = read_delimited(spark, path, [("id", "bigint"), ("v", "string")], sep="|")
    assert {(r.id, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}


@pytest.mark.slow
def test_hive_metastore_subprocess():
    """A1: real Hive catalog (embedded Derby) in a fresh JVM — saveAsTable a
    partitioned table, read back via spark.table, catalog-level pruning."""
    proc = subprocess.run(
        [sys.executable, "-m", "dask_hivemetastore_spark.sources.hive"],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT,
    )
    if proc.returncode != 0 and "ClassNotFoundException" in proc.stderr:
        pytest.skip("Hive classes unavailable in this pyspark build")
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["table_visible"]
    assert out["n_all"] == 1500
    assert 0 < out["n_f"] < out["n_all"]
    assert len(out["partitions"]) == 3
    assert out["prunes"]


def test_bucketed_join_no_exchange(spark, tmp_path):
    """C3 co-located join: two tables bucketed on the join key must
    sort-merge-join with no Exchange in the final plan (the write-time
    shuffle replaces the per-query shuffle)."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.sources.writers import save_bucketed

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    save_bucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                  "b_orders", ["o_custkey"], 4)
    save_bucketed(cust.select("c_custkey", "c_nationkey"),
                  "b_cust", ["c_custkey"], 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_cust"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        n = joined.count()
        assert n == 1500  # every order has a customer
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_partition_filter_quoted_connectives():
    """Quoted values containing AND/OR must not mis-split the filter
    (round-1 ADVICE finding)."""
    from dask_hivemetastore_spark.sources.metastore import _eval_filter

    assert _eval_filter("k = 'black and white'", {"k": "black and white"})
    assert not _eval_filter("k = 'black and white'", {"k": "black"})
    assert _eval_filter(
        "k = 'rock or jazz' OR k = 'pop'", {"k": "rock or jazz"}
    )
    assert _eval_filter(
        'k = "a and b" AND n = 1', {"k": "a and b", "n": "1"}
    )


def test_thin_catalog_scan_union_equivalence(spark, tmp_table_dir, sf_dir):
    """Both physical strategies must return identical rows and schema —
    the scan path is an optimization, not a semantic change."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog
    from dask_hivemetastore_spark.sources.writers import write_parquet

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    base = os.path.join(tmp_table_dir, "events_by_type_sc")
    write_parquet(events, base, partition_by=["event_type"])
    cat = ThinCatalog()
    cat.register(TableDef(
        name="e", location=base,
        columns=[("event_id", "bigint"), ("user_id", "bigint"), ("value", "double")],
        partition_keys=[("event_type", "string")],
    ))
    flt = "event_type = 'click' OR event_type = 'view'"
    a = cat.read_table(spark, "e", partition_filter=flt, strategy="scan")
    b = cat.read_table(spark, "e", partition_filter=flt, strategy="union")
    # nullability differs (literal vs path-derived partition column); the
    # user-visible contract is names + types
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ], (a.schema, b.schema)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.slow
def test_thin_catalog_scan_planning_scales(spark, tmp_path):
    """At ~300 partitions the single-scan strategy must plan much faster
    than the one-scan-node-per-partition union (the analysis-time blowup
    the fast path exists to avoid)."""
    import time

    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog

    nparts = 300
    base = str(tmp_path / "many_parts")
    spark.range(nparts).selectExpr("id", "id % " + str(nparts) + " AS pk").write.mode(
        "overwrite"
    ).partitionBy("pk").parquet(base)
    cat = ThinCatalog()
    cat.register(TableDef(
        name="many", location=base, columns=[("id", "bigint")],
        partition_keys=[("pk", "int")],
    ))

    t0 = time.time()
    a = cat.read_table(spark, "many", strategy="scan")
    n_scan = a.count()
    t_scan = time.time() - t0

    t0 = time.time()
    b = cat.read_table(spark, "many", strategy="union")
    n_union = b.count()
    t_union = time.time() - t0

    assert n_scan == n_union == nparts
    # generous margin to keep CI stable; measured gap is ~10x+
    assert t_scan < t_union / 2, (t_scan, t_union)


def test_write_parquet_observed_single_pass(spark, tmp_path):
    """The observed write's QC metrics equal a recompute over the written
    files — and they were produced without a second scan of the input."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.sources.writers import write_parquet_observed
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "observed")
    got = write_parquet_observed(
        docs,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_text": F.count_if(F.col("text").isNull()),
            "total_chars": F.sum(F.length("text")),
        },
    )
    back = spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("text").isNull()).alias("n_null_text"),
        F.sum(F.length("text")).alias("total_chars"),
    ).collect()[0]
    assert got["n_rows"] == back["n_rows"] > 0
    assert got["n_null_text"] == back["n_null_text"]
    assert got["total_chars"] == back["total_chars"]


def test_python_datasource_sink_roundtrip(spark, tmp_path):
    """The pyjsonl Python-DataSource sink commits per-task part files
    atomically (two-phase rename) and the written corpus reads back
    identically."""
    import json

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.sources.pyds import register_jsonl_sink
    from .conftest import SF_SMOKE

    register_jsonl_sink(spark)
    out = str(tmp_path / "jsonl_sink")
    nations = load_table(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    nations.write.format("pyjsonl").option("path", out).mode("append").save()

    manifest = json.load(open(f"{out}/_MANIFEST.json"))
    assert manifest["n_rows"] == 25
    back = spark.read.json(f"{out}/part-*.jsonl")
    assert back.count() == 25
    got = sorted((r.n_nationkey, r.n_name) for r in back.collect())
    want = sorted((r.n_nationkey, r.n_name) for r in nations.collect())
    assert got == want
    # no stray temp files survive the commit
    import os
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_compact_rewrite_file_count_and_content(spark, tmp_path):
    """Bin-packing contract: 64 undersized files compact to exactly
    ceil(total_bytes/target) files, output sizes are balanced (round-robin
    path), and the rewrite is content-preserving."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.layout import (
        compact_rewrite,
        list_data_files,
    )
    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem")
    small = str(tmp_path / "small")
    packed = str(tmp_path / "packed")
    li.repartition(64).write.mode("overwrite").parquet(small)
    assert len(list_data_files(spark, small)) == 64

    target = 256 * 1024
    stats = compact_rewrite(spark, small, packed, target_bytes=target)
    expect = -(-stats["bytes_in"] // target)
    assert stats["n_files_in"] == 64
    assert stats["n_files_out"] == expect < 64

    sizes = [sz for _, sz in list_data_files(spark, packed)]
    assert len(sizes) == expect
    assert max(sizes) <= 2 * min(sizes)  # round-robin keeps files balanced

    a = spark.read.parquet(packed)
    assert a.count() == li.count()
    key = F.sum(F.hash(*li.columns).cast("long"))
    assert a.agg(key).first()[0] == li.agg(key).first()[0]


def test_compact_rewrite_sorted_layout_prunable(spark, tmp_path):
    """With sort_cols the compaction restores a clustered layout: each
    output file covers a disjoint key range (footer min/max prunable)."""
    import pyarrow.parquet as pq

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.layout import (
        compact_rewrite,
        list_data_files,
    )
    from .conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    small = str(tmp_path / "small_o")
    packed = str(tmp_path / "packed_o")
    o.repartition(32).write.mode("overwrite").parquet(small)
    compact_rewrite(
        spark, small, packed, target_bytes=24 * 1024, sort_cols=["o_orderkey"]
    )
    boxes = []
    for path, _sz in list_data_files(spark, packed):
        md = pq.ParquetFile(path.replace("file:", "")).metadata
        idx = md.schema.to_arrow_schema().get_field_index("o_orderkey")
        stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
        boxes.append((min(s.min for s in stats), max(s.max for s in stats)))
    boxes.sort()
    assert len(boxes) > 1
    for (lo1, hi1), (lo2, hi2) in zip(boxes, boxes[1:]):
        assert hi1 <= lo2  # disjoint ranges -> any key predicate prunes


def test_compact_partitions_scoped_untouched_byte_identical(spark, tmp_path):
    """Partition-scoped compaction contract (VERDICT r5 #4): only the
    filtered partition is rewritten — every OTHER partition keeps a
    byte-identical (path, size) file list — the target partition reaches
    its bin-packed file count, and no rows are lost or duplicated
    anywhere (including the partition column restored from dir names)."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.layout import (
        compact_partitions,
        list_data_files,
    )
    from .conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    ptable = str(tmp_path / "ptable")
    (
        orders.repartition(8)
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(ptable)
    )

    def listing(exclude_sub=None):
        return sorted(
            (p, sz)
            for p, sz in list_data_files(spark, ptable)
            if exclude_sub is None or exclude_sub not in p
        )

    before_others = listing("/o_orderstatus=F/")
    n_f_before = len(list_data_files(spark, f"{ptable}/o_orderstatus=F"))
    assert n_f_before == 8

    target = 256 * 1024
    stats = compact_partitions(
        spark, ptable, {"o_orderstatus": "F"}, target_bytes=target
    )
    expect = max(1, -(-stats["bytes_in"] // target))
    assert stats["n_files_in"] == 8
    assert stats["n_files_out"] == expect
    assert len(list_data_files(spark, f"{ptable}/o_orderstatus=F")) == expect
    # staging directory fully cleaned up
    import os

    assert not [d for d in os.listdir(ptable) if d.startswith("__compact")]

    # untouched partitions: byte-identical file lists
    assert listing("/o_orderstatus=F/") == before_others
    assert stats["untouched_files"] == len(before_others)

    # content-preserving across the whole table, partition column included
    back = spark.read.parquet(ptable)
    assert back.count() == orders.count()
    cols = sorted(orders.columns)
    key = F.sum(F.hash(*cols).cast("long"))
    assert (
        back.select(*cols).agg(key).first()[0]
        == orders.select(*cols).agg(key).first()[0]
    )

    import pytest

    with pytest.raises(ValueError):
        compact_partitions(spark, ptable, {"o_orderstatus": "NOPE"})


def test_metastore_escaped_and_numericlike_partition_values(spark, tmp_path):
    """Two r7 review regressions: (1) percent-escaped partition dirs
    (Hive escaping, e.g. a colon in the value) must resolve to the real
    on-disk path — rebuilding from the unquoted value crashed the read;
    (2) a string-typed partition value that LOOKS numeric ('01') must
    survive both strategies verbatim — path type-inference used to
    normalize it to '1' under strategy='scan' only."""
    import os

    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog

    loc = str(tmp_path / "t")
    spark.createDataFrame([(1, 10.0)], "id long, v double").write.parquet(
        os.path.join(loc, "k=a%3Ab")  # value "a:b", Hive-escaped on disk
    )
    spark.createDataFrame([(2, 20.0)], "id long, v double").write.parquet(
        os.path.join(loc, "k=01")
    )
    cat = ThinCatalog()
    cat.register(TableDef(
        name="t", location=loc,
        columns=[("id", "bigint"), ("v", "double")],
        partition_keys=[("k", "string")],
    ))
    assert [p["k"] for p in cat.list_partitions("t")] == ["01", "a:b"]

    for strategy in ("scan", "union"):
        got = {
            (r.id, r.k)
            for r in cat.read_table(spark, "t", strategy=strategy).collect()
        }
        assert got == {(1, "a:b"), (2, "01")}, strategy


def test_jsonl_sink_overwrite_clears_stale_parts(spark, tmp_path):
    """Overwrite with FEWER partitions must not leave prior-run part
    files beside a manifest that doesn't count them (r7 review)."""
    import glob
    import json
    import os

    from dask_hivemetastore_spark.sources.pyds import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "sink")
    spark.range(8).repartition(8).write.format("pyjsonl").option(
        "path", out).mode("append").save()
    assert len(glob.glob(os.path.join(out, "*.jsonl"))) == 8
    spark.range(4).repartition(2).write.format("pyjsonl").option(
        "path", out).mode("overwrite").save()
    files = glob.glob(os.path.join(out, "*.jsonl"))
    assert len(files) == 2, files
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_files"] == 2 and manifest["n_rows"] == 4


def test_read_delimited_hive_serde_semantics(spark, tmp_path):
    """hive_serde=True must read LazySimpleSerDe conventions: no quote
    handling (a leading '\"' is data), backslash-N as NULL, and empty
    string as a VALUE (Spark-CSV defaults silently corrupt all three —
    r7 review)."""
    import os

    from dask_hivemetastore_spark.sources.readers import read_delimited

    loc = str(tmp_path / "hive_text")
    os.makedirs(loc)
    with open(os.path.join(loc, "part-0"), "w") as f:
        f.write('"quoted field\x01rest\n')   # quote char is data
        f.write('\\N\x01after_null\n')        # Hive NULL sentinel
        f.write('\x01after_empty\n')          # empty string is a value
    rows = read_delimited(
        spark, loc, [("a", "string"), ("b", "string")],
        sep="\x01", hive_serde=True,
    ).collect()
    got = {(r.a, r.b) for r in rows}
    assert got == {(None, "after_null"), ("", "after_empty"),
                   ('"quoted field', "rest")}, got


def test_read_delimited_hive_serde_ragged_and_dirty(spark, tmp_path):
    """LazySimpleSerDe NULL-pads short rows and NULLs unparsable
    primitives. Under Spark 4's default ANSI mode element_at/cast on such
    rows would THROW (INVALID_ARRAY_INDEX_IN_ELEMENT_AT / cast error), so
    the reader must use try_element_at/try_cast (r8 advice — this is the
    default metastore text-table path via metastore._read_leaf)."""
    import os

    from dask_hivemetastore_spark.sources.readers import read_delimited

    loc = str(tmp_path / "hive_text_dirty")
    os.makedirs(loc)
    with open(os.path.join(loc, "part-0"), "w") as f:
        f.write("1\x01x\x012.5\n")        # full row
        f.write("2\n")                    # short row: b, c NULL-padded
        f.write("oops\x01y\x01not_num\n")  # malformed ints/doubles -> NULL
    rows = read_delimited(
        spark, loc, [("a", "int"), ("b", "string"), ("c", "double")],
        sep="\x01", hive_serde=True,
    ).collect()
    got = {(r.a, r.b, r.c) for r in rows}
    assert got == {(1, "x", 2.5), (2, None, None), (None, "y", None)}, got


# -- partition walk vs a naive os.walk reference -----------------------------

_WALK_KEYS = ["y", "m", "d"]


def _naive_partition_dirs(location, keys, keep):
    """The plain ``os.walk`` enumeration: every directory exactly
    ``len(keys)`` levels down whose components all contain ``=``."""
    from urllib.parse import unquote

    parts = []
    for dirpath, dirnames, _files in os.walk(location):
        rel = os.path.relpath(dirpath, location)
        comps = [] if rel == "." else rel.split(os.sep)
        if len(comps) == len(keys) and all("=" in c for c in comps):
            vals = {c.split("=", 1)[0]: unquote(c.split("=", 1)[1]) for c in comps}
            parts.append((vals, rel))
            dirnames.clear()
    parts = [(p, rel) for p, rel in parts if keep(p)]
    return sorted(parts, key=lambda pr: [pr[0][k] for k in keys])


def _naive_compare(lhs, op, rhs):
    import math

    def num(s):
        try:
            x = float(s)
        except ValueError:
            return None
        return None if math.isnan(x) else x

    a, b = num(lhs), num(rhs)
    if a is None or b is None:
        a, b = lhs, rhs
    return {"=": a == b, "!=": a != b, "<>": a != b, "<": a < b,
            "<=": a <= b, ">": a > b, ">=": a >= b}[op]


def _random_filter(rng, values):
    """A random OR-of-ANDs filter as (text, structure): quoted and bare
    literals, mixed-case connectives and every comparison operator."""
    terms = []
    for _ in range(rng.randint(1, 3)):
        terms.append([
            (k, rng.choice(["=", "!=", "<>", "<", "<=", ">", ">="]),
             rng.choice(values[k] + ["0", "5", "zzz", "nan", "2023.0"]))
            for k in (rng.choice(_WALK_KEYS) for _ in range(rng.randint(1, 3)))
        ])

    def literal(v):
        quotes = ["'", '"'] if " " in v else ["'", '"', ""]
        q = rng.choice(quotes)
        return f"{q}{v}{q}"

    text = rng.choice([" OR ", " or ", "  OR "]).join(
        rng.choice([" AND ", " and ", "  AND "]).join(
            f"{k}{rng.choice(['', ' '])}{op} {literal(v)}" for k, op, v in term)
        for term in terms
    )
    return text, terms


def _build_walk_layout(root):
    """A 3-level ``y=/m=/d=`` table with every layout hazard the walk must
    skip or keep; returns the leaf directories that hold data, by
    relative path, mapped to the row id written there."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    leaves = [
        "y=2023/m=01/d=1", "y=2023/m=01/d=02", "y=2023/m=01/d=nan",
        "y=2023/m=01/d=x y", "y=2023/m=1/d=1", "y=2023/m=1/d=a:b",
        "y=2023/m=1/d=a%3Ab", "y=2023/m=1/d=rock or jazz",
        "y=2023/m=12/d=31", "y=2023/m=12/d=1", "y=2024/m=02/d=1",
        "y=2024/m=02/d=%25", "y=2024/m=02/d=-3.5", "y=2024/m=02/d=1e3",
        "y=2024/m=2/d=10",
    ]
    ignored = [
        "_temporary/0/y=2023/m=1/d=9",       # Spark's commit dir
        ".spark-staging-7/y=2023/m=1/d=9",   # dynamic-overwrite staging
        "stray/y=2023/m=1/d=9",              # top-level dir without '='
        "y=2023/stray/m=1/d=9",              # stray at an intermediate level
        "y=2024/.spark-staging-7/m=1/d=9",
        "y=2023/m=7",                        # partition dir too shallow
    ]
    ids = {}
    for i, rel in enumerate(leaves + ignored):
        os.makedirs(os.path.join(root, rel))
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}),
                       os.path.join(root, rel, "part-0.parquet"))
        if rel in leaves:
            ids[rel] = i
    # too deep: an empty key=value dir below a real leaf
    os.makedirs(os.path.join(root, "y=2023/m=12/d=31/e=deep"))
    # data files at intermediate levels, one named like a partition dir
    pq.write_table(pa.table({"id": pa.array([99], pa.int64())}),
                   os.path.join(root, "y=2023/part-0.parquet"))
    open(os.path.join(root, "y=2023/m=01/d=3"), "w").close()
    open(os.path.join(root, "_SUCCESS"), "w").close()
    # symlinked partition dirs, leaf and intermediate: os.walk skips both
    os.symlink(os.path.join(root, "y=2023/m=1/d=1"),
               os.path.join(root, "y=2024/m=02/d=lnk"))
    os.symlink(os.path.join(root, "y=2023/m=1"), os.path.join(root, "y=2024/m=5"))
    os.symlink(os.path.join(root, "y=2024"), os.path.join(root, "y=2025"))
    return ids


def test_partition_walk_matches_naive_os_walk(spark, tmp_path):
    """The leaf-free partition walk and the parse-once filter must return
    what a plain ``os.walk`` over the table returns — same partitions, same
    order, same raw directories handed to the reader — over seeded random
    filters on a layout full of directories the walk must skip."""
    import random
    from urllib.parse import unquote, urlparse

    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog

    loc = str(tmp_path / "walk")
    ids = _build_walk_layout(loc)
    cat = ThinCatalog()
    cat.register(TableDef(name="w", location=loc, columns=[("id", "bigint")],
                          partition_keys=[(k, "string") for k in _WALK_KEYS]))

    everything = _naive_partition_dirs(loc, _WALK_KEYS, lambda p: True)
    assert sorted(rel for _v, rel in everything) == sorted(ids)
    assert cat.list_partitions("w") == [v for v, _rel in everything]
    values = {k: sorted({v[k] for v, _rel in everything}) for k in _WALK_KEYS}

    def read_dirs(expr):
        df = cat.read_table(spark, "w", partition_filter=expr)
        return sorted(os.path.relpath(os.path.dirname(unquote(urlparse(f).path)), loc)
                      for f in df.inputFiles())

    rng = random.Random(20240)
    for i in range(150):
        expr, terms = _random_filter(rng, values)
        ref = _naive_partition_dirs(
            loc, _WALK_KEYS,
            lambda p: any(all(_naive_compare(p[k], op, v) for k, op, v in t)
                          for t in terms))
        assert cat.list_partitions("w", expr) == [v for v, _rel in ref], expr
        if i % 5 == 0:
            assert read_dirs(expr) == sorted(rel for _v, rel in ref), expr

    # the rows read back are the rows written to the kept leaves
    want = sorted((ids[rel], v["y"], v["m"], v["d"]) for v, rel in everything)
    for strategy in ("scan", "union"):
        got = sorted(map(tuple, cat.read_table(spark, "w", strategy=strategy).collect()))
        assert got == want, strategy


def test_thin_catalog_scan_planning_launches_no_jobs(spark, tmp_path):
    """Planning a multi-path read above Spark's default parallel-listing
    threshold (32 paths) must list on the driver: no Spark job may start
    inside ``read_table``. Pins the session conf that keeps
    InMemoryFileIndex from launching one listing task per partition."""
    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog

    nparts = 40
    base = str(tmp_path / "forty")
    spark.range(nparts).selectExpr("id", "id AS pk").write.partitionBy("pk").parquet(base)
    cat = ThinCatalog()
    cat.register(TableDef(name="forty", location=base, columns=[("id", "bigint")],
                          partition_keys=[("pk", "int")]))
    flt = "pk >= 2"
    assert len(cat.list_partitions("forty", flt)) > 32

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(tracker.getJobIdsForGroup(group))
    scan = cat.read_table(spark, "forty", partition_filter=flt, strategy="scan")
    after = set(tracker.getJobIdsForGroup(group))
    assert after == before, sorted(after - before)

    union = cat.read_table(spark, "forty", partition_filter=flt, strategy="union")
    rows = sorted(map(tuple, scan.collect()))
    assert rows == sorted(map(tuple, union.collect()))
    assert rows == [(i, i) for i in range(2, nparts)]


def test_thin_catalog_empty_read_applies_columns(spark, tmp_path):
    """A read that keeps no partition returns the same projected schema as
    one that keeps some."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_hivemetastore_spark.sources.metastore import TableDef, ThinCatalog

    loc = str(tmp_path / "t")
    os.makedirs(os.path.join(loc, "k=a"))
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "v": [1.5]}),
                   os.path.join(loc, "k=a", "part-0.parquet"))
    cat = ThinCatalog()
    cat.register(TableDef(name="t", location=loc,
                          columns=[("id", "bigint"), ("v", "double")],
                          partition_keys=[("k", "string")]))
    cols = ["k", "id"]
    for strategy in ("scan", "union"):
        some = cat.read_table(spark, "t", columns=cols, partition_filter="k = 'a'",
                              strategy=strategy)
        none = cat.read_table(spark, "t", columns=cols, partition_filter="k = 'b'",
                              strategy=strategy)
        assert [(f.name, f.dataType) for f in none.schema.fields] == [
            (f.name, f.dataType) for f in some.schema.fields
        ], strategy
        assert none.collect() == [] and [tuple(r) for r in some.collect()] == [("a", 1)]

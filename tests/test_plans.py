"""Physical-plan shape regression tests.

Correctness is gated by the oracle harness; these lock in the *performance*
properties that matter at 100 TB (SURVEY.md §4): predicate pushdown, column
pruning, broadcast joins, map-side partial aggregation, top-k lowering, and
whole-stage codegen. A regression here is a silent 10-100× slowdown at
scale that sf0.01 correctness checks would never catch.
"""

from __future__ import annotations

import pytest

from dask_hivemetastore_spark import plans

from .conftest import SF_SMOKE


def _explain(df, mode: str = "formatted") -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_scan_pushdown_and_pruning(spark):
    """Filters reach the parquet scan; ReadSchema carries only the four
    projected columns (no full-row scan for a 4-column projection)."""
    plan = _explain(plans.QUERIES["scan_project_filter"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan or "l_quantity" in plan.split("PushedFilters")[1].split("]")[0]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema  # unprojected column pruned


def test_q5_broadcasts_dimensions(spark):
    """The 6-way join keeps every dimension side on the broadcast path —
    zero shuffle joins at dim scale (AQE would switch if a side outgrew
    the threshold)."""
    plan = _explain(plans.QUERIES["q5_local_supplier"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q3_topk_lowering(spark):
    """ORDER BY + LIMIT lowers to TakeOrderedAndProject (per-partition
    top-k + k-row driver merge), never a global sort."""
    plan = _explain(plans.QUERIES["q3_top_orders"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark):
    """Aggregation is partial+final (map-side combine): two HashAggregate
    nodes around the key exchange."""
    plan = _explain(plans.QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan  # partial aggregate functions in the map stage


def test_q1_whole_stage_codegen(spark):
    """The scan→filter→project→partial-agg pipeline fuses into one
    WholeStageCodegen span (expressions stay JVM-side, no Python in the
    hot path)."""
    df = plans.QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
    df.collect()  # AQE finalizes subplans lazily; codegen info exists only after execution
    plan = _explain(df, "codegen")
    assert "Found 0" not in plan.splitlines()[0], plan.splitlines()[0]


def test_q18_preaggregates_before_join(spark):
    """The Q18 plan must aggregate lineitem BEFORE joining orders (the
    survivor-set join): the first HashAggregate appears below the join in
    the plan tree."""
    plan = _explain(plans.QUERIES["q18_large_orders"](spark, SF_SMOKE), "simple")
    # in the simple-mode tree, the aggregate on l_orderkey must be nested
    # deeper than (printed after) the last join operator
    last_join = max(plan.rfind("BroadcastHashJoin"), plan.rfind("SortMergeJoin"))
    agg_on_lineitem = plan.find("HashAggregate", last_join)
    assert agg_on_lineitem > last_join > 0, plan


def test_cache_persist_reuse(spark):
    """Dask ``persist`` analog: a cached DataFrame's second action reads
    InMemoryTableScan (columnar cache), not the parquet source."""
    from dask_hivemetastore_spark.catalog import load_table

    df = load_table(spark, SF_SMOKE, "customer").groupBy("c_mktsegment").count().cache()
    try:
        df.count()  # materialize the cache
        plan = _explain(df, "simple")
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
    finally:
        df.unpersist()


def test_audit_persist_fifo_holds_distinct_plans(spark, monkeypatch):
    """audit_persist keeps the ``cap`` most recently persisted DISTINCT
    plans. A repeat of a plan (built anew but semantically equal — what
    the load_table memo makes of a repeated audited query) shares the
    first one's CacheManager entry, so it must move to the newest slot
    rather than take a second one: evicting the older duplicate would
    unpersist the cache the repeat relies on. With cap 2, persisting A,
    B, A' (same plan as A) and C leaves A' and C cached and B evicted."""
    from pyspark import StorageLevel

    from dask_hivemetastore_spark.plans import registry

    monkeypatch.setattr(registry, "_AUDIT_PERSIST_CAP", 2)
    monkeypatch.setattr(registry, "_AUDIT_PERSISTED", [])

    def plan(n):
        return spark.range(n).selectExpr("id * 2 AS x")

    a, b, a2, c = [registry.audit_persist(plan(n)) for n in (5, 6, 5, 7)]
    try:
        assert a2.storageLevel != StorageLevel.NONE
        assert c.storageLevel != StorageLevel.NONE
        assert b.storageLevel == StorageLevel.NONE
        assert len(registry._AUDIT_PERSISTED) == 2
    finally:
        for df in (a, b, a2, c):
            df.unpersist()


def test_sql_join_hints_respected(spark):
    """SQL hints steer the join strategy: BROADCAST forces a broadcast join
    even with broadcasting disabled; MERGE forces sort-merge even for a
    broadcastable side — the per-query override knob when the optimizer's
    size estimates are wrong at scale."""
    from dask_hivemetastore_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        q = "SELECT /*+ {hint}(c) */ * FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        bcast = _explain(spark.sql(q.format(hint="BROADCAST")), "simple")
        assert "BroadcastHashJoin" in bcast, bcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(512 * 1024 * 1024))
        merge = _explain(spark.sql(q.format(hint="MERGE")), "simple")
        assert "SortMergeJoin" in merge, merge
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized IVF layout must make probes partition-prunable:
    a cell IN (...) probe over an ivf_build_index parquet shows the
    predicate as PartitionFilters (directory pruning before any file
    opens) — the property that makes IVF candidate selection O(probed
    cells), not O(corpus), at 100 TB."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf_index")
    C = ivf_build_index(emb, path, n_cells=8, cache_key=path)
    qv = emb.where("vec_id = 0").select("embedding").first()[0]
    top = ivf_probe_indexed(
        spark, path, C, qv, k=5, nprobe=3, exclude_id=0
    )
    plan = _explain(top)
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters, plan
    assert len(top.collect()) == 5


def test_ivf_centroid_cache_reused(spark):
    """Same cache_key → the exact same centroid ndarray (no retraining job
    per query); different n_cells → distinct entry."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import ivf_train_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = ivf_train_centroids(emb, n_cells=8, cache_key="k1")
    b = ivf_train_centroids(emb, n_cells=8, cache_key="k1")
    assert a is b
    c = ivf_train_centroids(emb, n_cells=4, cache_key="k1")
    assert c.shape[0] == 4


def test_q21_semi_anti_lowering(spark):
    """The EXISTS/NOT-EXISTS pair must lower to one semi and one anti join
    over lineitem — never an inner join that materializes match
    multiplicity."""
    plan = _explain(plans.QUERIES["q21_suppliers_waiting"](spark, SF_SMOKE), "simple")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q9_broadcasts_all_dimensions(spark):
    """Four dimension sides broadcast; the only shuffle is the final
    (nation, year) aggregate — no SortMergeJoin anywhere."""
    plan = _explain(plans.QUERIES["q9_product_profit"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_q2_decorrelates_to_window(spark):
    """The correlated scalar MIN decorrelates to a window function over the
    part key (one shuffle), not a re-aggregate + self-join."""
    plan = _explain(plans.QUERIES["q2_min_cost_supplier"](spark, SF_SMOKE), "simple")
    assert "Window" in plan, plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """A selective dim filter must inject a dynamicpruningexpression into
    the partitioned fact scan's PartitionFilters — at 100 TB this is what
    keeps a fact⋈filtered-dim join from scanning every partition."""
    path = str(tmp_path / "dpp_fact")
    spark.range(1000).selectExpr("id", "id % 20 AS pk").write.partitionBy(
        "pk"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.range(20).selectExpr("id AS pk", "id % 7 AS attr").where("attr = 0")
    plan = _explain(fact.join(dim, "pk"))
    assert "dynamicpruning" in plan.lower(), plan


def test_registry_orders_consistent():
    """QUERIES and ORACLES must share a prefix-consistent iteration order —
    the certification window depends on it — and every priority key must
    exist (a typo in _CERTIFICATION_PRIORITY would silently shrink the
    window)."""
    from dask_hivemetastore_spark.plans import (
        _CERTIFICATION_PRIORITY,
        ORACLES,
        QUERIES,
    )

    qkeys = list(QUERIES)
    missing = [k for k in _CERTIFICATION_PRIORITY if k not in QUERIES]
    assert not missing, f"priority keys not registered: {missing}"
    assert qkeys[: len(_CERTIFICATION_PRIORITY)] == _CERTIFICATION_PRIORITY
    okeys = [k for k in qkeys if k in ORACLES]
    assert okeys == list(ORACLES), "oracle order diverges from query order"


def test_null_safe_join_stays_hash_join(spark):
    """eqNullSafe is an equi-key to Spark — the plan must be a hash join,
    never a BroadcastNestedLoopJoin downgrade."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["null_safe_join"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan


def test_fuzzy_match_blocks_before_verify(spark):
    """The blocking predicate must be the join key (hash/broadcast join);
    levenshtein runs only inside blocks, never as a nested-loop over
    all pairs."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["fuzzy_match_nations"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pii_and_split_are_shuffle_free(spark):
    """PII redaction and hash-split are per-row projections — the executed
    plan must contain no Exchange at all (they stream at scan speed)."""
    for key in ("pii_redact_docs", "train_test_split_docs"):
        df = plans.QUERIES[key](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{key} shuffles:\n{plan}"


def test_rebalance_broadcasts_thresholds(spark):
    """Mixture rebalancing joins the corpus to per-group keep-thresholds;
    the thresholds side is group-cardinality-sized and must broadcast —
    the corpus itself is never shuffled for the join."""
    df = plans.QUERIES["corpus_rebalance_sources"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injection(spark):
    """AQE's runtime bloom filter: a selective filter on the build side of a
    shuffle join injects `bloom_filter_agg` over the build keys and a
    `might_contain` probe into the big side's scan — rows that cannot join
    are dropped BEFORE the shuffle. At 100 TB this is the difference between
    shuffling the full fact table and shuffling only the ~selectivity
    fraction that survives; the knob is
    `spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold`
    (default 10 GB — local testdata never reaches it, hence 0 here; on a
    real cluster the default triggers exactly when the shuffle saving
    matters)."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = _explain(j)
        assert "bloom_filter_agg" in plan.lower() or "bloomfilter" in plan.lower()
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_zorder_skips_files_on_second_dim(spark, tmp_path):
    """Quantified multi-dim skipping: z-ordering (o_custkey, day) leaves
    each file a small bounding box on BOTH keys, so a date-only predicate
    can skip files; a custkey-sorted layout gives every file the full
    date range (zero date pruning). Asserts on the actual parquet footer
    stats of both layouts — the property the zorder_layout_roundtrip
    oracle cannot see."""
    import glob

    import pyarrow.parquet as pq

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.layout import zorder_rewrite

    import pyspark.sql.functions as F

    o = load_table(spark, SF_SMOKE, "orders").withColumn(
        "__day",
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp_ntz")),
    )
    z_dir, lin_dir = str(tmp_path / "z"), str(tmp_path / "lin")
    zorder_rewrite(o, ["o_custkey", "__day"], z_dir, bits=10, n_files=16)
    (
        o.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(lin_dir)
    )

    def files_hit(d: str, lo: int, hi: int) -> tuple[int, int]:
        """(#files whose [min,max] __day box intersects [lo, hi], #files)."""
        hits = total = 0
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index("__day")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            total += 1
            if min(mins) <= hi and max(maxs) >= lo:
                hits += 1
        return hits, total

    # date-only box: days 365..730 (~1996) = ~15% of the day range
    z_hits, z_total = files_hit(z_dir, 365, 730)
    lin_hits, lin_total = files_hit(lin_dir, 365, 730)
    assert lin_hits == lin_total  # custkey sort: every file spans all dates
    assert z_hits < lin_hits  # z-order: footer stats skip files
    assert z_total == lin_total


def test_span_dedup_stays_jvm_side(spark):
    """Repeated-span removal is split/transform/agg built-ins end to end —
    no Python evaluation node may appear, and the frequency count must key
    on the fixed-width md5, not raw span text."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["span_dedup_docs"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert marker not in plan, f"Python node in plan: {marker}"
    assert "md5" in plan


def test_shuffle_shards_distributed_rank_shape(spark):
    """The shard shuffle's rank is scale-adaptive (ADVICE r4): with
    order_buckets > 1 it is a distributed rank — the corpus-carrying
    exchange partitions on (shard, __b) so sort parallelism is
    n_shards × order_buckets, offsets are a tiny broadcast, exchange
    count bounded (2 tiny + 1 corpus hash + 1 broadcast). The auto
    default degenerates to the cheap single-exchange window plan when the
    session's shuffle sizing says per-shard sorts are small (this test
    session: 8 shuffle partitions vs 16 shards). No Python nodes either
    way."""
    import re

    from dask_hivemetastore_spark import plans
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import curation

    # auto path in the small test session → single-window degenerate plan
    df = plans.QUERIES["corpus_shuffle_shards"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan

    # explicit bucketing → distributed-rank plan
    docs = load_table(spark, SF_SMOKE, "documents")
    df2 = curation.shuffle_shards(docs, "doc_id", n_shards=16, order_buckets=64)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(shard#\d+L?, __b#", plan2), plan2
    assert plan2.count("BroadcastExchange") == 1, plan2
    assert len(re.findall(r"Exchange hashpartitioning", plan2)) == 3, plan2
    for p in (plan, plan2):
        for marker in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p


def test_domain_cap_prefilter_plan_shape(spark):
    """The hot-group path adds exactly one approximate pre-aggregate
    (count + percentile_approx) whose one-row-per-group result broadcasts
    back onto the scan — the windowed sort then sees the filtered set."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["domain_cap_prefiltered"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile_approx" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan
    for marker in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_interval_span_no_shuffle_beyond_agg(spark):
    """Interval arithmetic lowers to JVM expressions: one aggregate
    exchange on user_id, nothing else, no Python."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["interval_user_span"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "PythonUDF" not in plan


def test_interval_ym_span_no_shuffle_beyond_agg(spark):
    """YearMonthInterval twin: same shape guarantee as the day-time query —
    make_ym_interval folds into JVM timestamp arithmetic, one aggregate
    exchange on the group key, no Python."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["interval_order_span_ym"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "PythonUDF" not in plan


def test_banded_range_join_never_nested_loop(spark):
    """The no-equi-key interval join must plan as a HASH join on the band
    bucket — a naive inequality join degrades to BroadcastNestedLoopJoin
    (O(n·m) + whole-side broadcast), which may never appear."""
    from dask_hivemetastore_spark import plans

    for key in ("range_join_banded", "interval_overlap_pairs"):
        df = plans.QUERIES[key](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, (key, plan)
        assert "CartesianProduct" not in plan, (key, plan)
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        ), (key, plan)


def test_decontaminate_digest_prefilter_shape(spark):
    """The digest scale path must show TWO LeftSemi joins — the broadcast
    8-byte-digest prefilter and the exact string join that removes
    collisions — and produce exactly the broadcast path's answer."""
    a = plans.QUERIES["decontaminate_docs"](spark, SF_SMOKE)
    b = plans.QUERIES["decontaminate_digest_docs"](spark, SF_SMOKE)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == 2, plan
    assert "xxhash64" in plan, plan


@pytest.mark.slow
def test_registry_plan_audit():
    """Registry-wide scale-killer audit (scripts/plan_audit.py): every
    batch query's executed plan is grepped for BroadcastNestedLoopJoin /
    CartesianProduct; any hit must carry an explicit bounded-build-side
    exemption, and stale exemptions fail the audit too (unused entries)."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "plan_audit.py")],
        capture_output=True, text=True, timeout=540,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    report = json.loads(proc.stdout)
    assert report["flagged"] == {}
    assert report["unused_allow_entries"] == []
    assert report["checked"] > 180


def test_bucketed_join_no_exchange(spark):
    """Persisted co-bucketed tables (bucketBy 8 + sortBy on the join key)
    sort-merge-join with ZERO Exchange on either side — the bucket layout
    satisfies SMJ's partitioning requirement — while the identical
    unbucketed join pays two shuffles. This is C3's persisted-divisions
    half: the one-time bucketed write amortizes every future join on the
    key at 100 TB. (A per-bucket in-partition Sort remains: since Spark
    3.1 the scan only exposes sortBy ordering under the legacy flag
    ``spark.sql.legacy.bucketedTableScanOutputOrdering``; that sort is
    linear, shuffle-free, and cheap over already-clustered data — the
    Exchange is the cost that matters at scale.)"""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.layout import write_bucketed
    import tempfile

    base = tempfile.mkdtemp(prefix="bkt_plan_")
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    bo = write_bucketed(o, "bkt_plan_orders", "o_orderkey", base + "/o")
    bl = write_bucketed(li, "bkt_plan_lineitem", "l_orderkey", base + "/l")

    bucketed = bo.hint("merge").join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    plan = _explain(bucketed, "simple")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan

    unbucketed = o.hint("merge").join(li, o["o_orderkey"] == li["l_orderkey"])
    control = _explain(unbucketed, "simple")
    assert control.count("Exchange") >= 2, control

def test_lsh_postings_probe_pushes_filters_and_prunes_columns(spark, tmp_path):
    """The materialized LSH postings probe's scale evidence, pinned at the
    plan level (r12): the postings FileScan must carry (a)
    PartitionFilters on the `table` partition key (each disjunct of the
    probe condition constrains it, so a caller probing fewer tables
    lists fewer directories), (b) PushedFilters with the bucket IN-lists
    (parquet min/max on the bucket-sorted files skips non-probed
    buckets), and (c) a ReadSchema pruned to (vec_id, bucket) — the
    probe never reads payload columns from the postings."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "postings")
    lsh_build_index(emb, idx, dim=64, bits=8, n_tables=4)
    # the postings-scan pins ride the float-rescore plan: the candidate
    # subquery (and therefore the postings FileScan shape) is IDENTICAL
    # in both rescore paths, but the r13 int8 path collects its
    # shortlist eagerly, so the postings scan no longer appears in the
    # RETURNED plan there (it runs inside the probe call instead)
    df = lsh_probe_indexed(emb, idx, query_id=0, dim=64, bits=8,
                           n_tables=4, k=10, rescore="float")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.split("\n")
                if "FileScan" in line and "bucket" in line)
    assert "PartitionFilters: [" in scan and "table#" in scan.split(
        "PartitionFilters:")[1].split("]")[0]
    assert "In(bucket" in scan.split("PushedFilters:")[1]
    read_schema = scan.split("ReadSchema:")[1]
    assert "vec_id" in read_schema and "bucket" in read_schema
    assert "embedding" not in read_schema and "table" not in read_schema

    # r13 INT8-rescore pin: the exact-rescore corpus scan must carry the
    # PUSHED literal In(vec_id, ...) shortlist filter — the plan-level
    # evidence that only shortlist rows pay the float decode (a
    # semi-join would scan the full float column with no pushdown)
    df8 = lsh_probe_indexed(emb, idx, query_id=0, dim=64, bits=8,
                            n_tables=4, k=10, rescore="int8")
    plan8 = df8._jdf.queryExecution().executedPlan().toString()
    corpus_scan = next(line for line in plan8.split("\n")
                       if "FileScan" in line and "embedding" in line)
    assert "In(vec_id" in corpus_scan.split("PushedFilters:")[1]


def test_quality_calibrate_prefilter_plan_shape(spark):
    """r14 skew path for per-source calibration: one approximate
    pre-aggregate (count + percentile_approx) broadcasts back onto the
    scan ahead of the exact per-source window — the domain_cap_prefiltered
    recipe verbatim, and still zero Python in the plan."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES["quality_calibrate_prefiltered"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile_approx" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan
    for marker in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan

"""SparkSession factory.

Centralizes every config this engine depends on so that tests, the bench and
the driver-facing entry points all run with identical semantics.

Scale notes (100 TB design, SURVEY.md §7.5): AQE is left on so skewed joins
are split and post-shuffle partitions coalesced at runtime; the shuffle
partition count here is only the *initial* number — on a real cluster you
would size it ≈ 2-3× total cores and let AQE coalesce. Locally the testdata
is small, so a large count only adds empty-task overhead (measured ~0.5 s per
query at 200 partitions, BASELINE.md).
"""

from __future__ import annotations

import os
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

# Configs that MUST hold for correctness on this testdata (SURVEY.md §7.6):
#  - nanosAsLong: kept for the legacy TIMESTAMP(NANOS) events.parquet layout,
#    where the scan fails with PARQUET_TYPE_ILLEGAL on Spark 4 without it.
#    The current driver testdata stores TIMESTAMP(MICROS), for which the flag
#    is a no-op — but the catalog supports both layouts (catalog.py), so the
#    flag stays.
#  - session timeZone UTC: `timestamp_micros()` → NTZ casts must not shift
#    wall-clock values relative to the DuckDB oracle (which is tz-naive).
#  - excludedRules InferFiltersFromGenerate: that rule infers
#    `size(arr) > 0 AND isnotnull(arr)` from every explode and pushes it
#    below any exchange toward the scan; alias substitution re-expands the
#    array expression inside the pushed filter, so an n-gram
#    `transform(..., i -> concat_ws(split(text)[i..]))` is re-evaluated with
#    `split(text)` inlined PER ARRAY ELEMENT — the O(words²) projection-
#    collapse pathology (PERF.md) resurrected via predicate pushdown, and an
#    exchange barrier cannot stop it (filters push through exchanges).
#    Measured: decontaminate_docs 9.0 s → 3.1 s at sf0.1. The rule's upside
#    (skipping rows whose array is empty before the Generate) is ~0 on this
#    engine's corpora, where the empty-gram case is already filtered
#    explicitly (`size(__ws) >= n`). Runtime-settable, so driver-built
#    sessions get it via ensure_runtime_confs too.
REQUIRED_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}

DEFAULT_CONFS = {
    **REQUIRED_RUNTIME_CONFS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # List the paths of a multi-path read on the driver, never in a
    # parallel-listing job. Above the default threshold (32 paths)
    # InMemoryFileIndex launches one task per path; on local[n] that costs
    # ~6 ms per path (the range row below), while a driver listStatus costs
    # well under 1 ms. Spark reads this only from the session SQLConf (no per-read
    # option), and the session is shared, so it is set here once rather
    # than toggled around reads. ThinCatalog.read_table + a small
    # aggregate on the sf0.1 lineitem table laid out as 2,499
    # ship_y=/ship_m=/ship_d= partitions (4 vCPU VM, load1 ~3.6,
    # interleaved, 18 samples per cell, 3 unfiltered; medians, identical
    # rows; "new" also has the leaf-free walk of sources/metastore.py):
    #   read                         threshold 32    this value
    #   day (1 partition)              0.33 s          0.22 s
    #   month (~30 partitions)         0.44 s          0.33 s
    #   range (~365 partitions)        3.17 s          0.77 s
    #   unfiltered (2,499)             17.6 s          4.7 s
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "dask-hivemetastore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine."""
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local testdata is small; match core count rather than the 200 default
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_runtime_confs(spark)
    return spark


_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the correctness-critical runtime confs to an EXISTING session.

    The driver constructs its own SparkSession and passes it to
    ``__spark_entry__.entry/queries``; all of the required confs are
    runtime-settable SQL confs, so we set them defensively on entry-point
    calls rather than assuming the session was built by :func:`get_spark`.
    Memoized per SESSION OBJECT (a WeakSet, identity-keyed): the required
    confs are session-scoped SQL confs, so memoizing by applicationId would
    silently skip a second ``spark.newSession()`` in the same application —
    whose nanos-layout events scan would then fail with
    PARQUET_TYPE_ILLEGAL, or whose timestamps would shift vs the UTC oracle.
    ``load_table`` calls this on every table load (6 tables in a 6-way
    join), and each conf.set is a py4j round-trip — cheap once, needless
    overhead per-query. A session is only marked applied when every set
    succeeded, so a transiently-locked conf is retried on the next call.
    """
    if spark in _CONFS_APPLIED:
        return spark
    all_ok = True
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked; keep going
            all_ok = False
    ensure_package_on_executors(spark)
    if all_ok:
        _CONFS_APPLIED.add(spark)
    return spark


_PYFILES_ADDED: set[str] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    UDF closures reference module-level helpers, which cloudpickle pickles
    *by reference* — workers then ``import dask_hivemetastore_spark``. When
    the driver process was not started from the repo root (the external
    driver's case), workers cannot resolve the package from cwd; a py-files
    zip makes the import work regardless of launch directory, exactly as it
    would on a real cluster.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PYFILES_ADDED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"dask_hivemetastore_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    _PYFILES_ADDED.add(key)

"""Thin metastore-style catalog — the reference connector's resolution flow
(SURVEY.md §3 entry point 1), re-implemented standalone.

dask-hivemetastore's job: ``get_table(db, tbl)`` over Thrift → schema +
location + input format + serde + partition keys → enumerate partitions
(optionally server-side filtered via ``get_partitions_by_filter``) → build a
lazy frame per partition location with the partition-key values attached as
constant columns → concat. This module keeps the same five-step shape with a
local table registry instead of a Thrift service, so the flow works with no
Hive installation; ``hive.py`` holds the real-HMS path
(``enableHiveSupport``).

Partition-predicate pushdown happens HERE — partitions that fail the filter
are never listed into the read (step 3 of the reference flow), independent
of (and before) Spark's own file-level pruning.

Listing a read is one driver-side walk plus one driver-side Spark listing:
the walk descends only through ``key=value`` directories and stops at
partition depth, so it lists the non-leaf directories and never opens a
leaf; the filter string is parsed once per call. Spark then lists the files
of the kept directories on the driver (``session.DEFAULT_CONFS`` raises
``parallelPartitionDiscovery.threshold``), so planning a ``"scan"`` read
launches no Spark job however many partitions it keeps.
"""

from __future__ import annotations

import json
import operator
import os
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..types import hive_schema_to_struct, parse_hive_type
from .readers import HIVE_DEFAULT_DELIM, read_delimited


@dataclass
class TableDef:
    """The subset of the HMS ``Table``/``StorageDescriptor`` the connector
    consumes: columns, location, format, serde params, partition keys."""

    name: str
    location: str
    columns: list[tuple[str, str]]          # (name, hive type string)
    input_format: str = "parquet"            # 'parquet' | 'text'
    partition_keys: list[tuple[str, str]] = field(default_factory=list)
    serde_params: dict[str, str] = field(default_factory=dict)


def _walk_partition_dirs(location: str, depth: int) -> Iterator[tuple[str, ...]]:
    """Directory-name paths exactly ``depth`` levels below ``location`` whose
    every component is a ``key=value`` directory, in ``os.walk`` top-down
    order. Only the non-leaf ``key=value`` directories are listed: a leaf
    partition directory is never opened, and anything without ``=`` (a
    ``_temporary`` or ``.spark-staging`` dir, a stray dir, a data file) is
    never descended into. Symlinked directories are skipped, as ``os.walk``
    does not descend into them."""

    def is_partition_dir(entry: os.DirEntry) -> bool:
        try:
            return "=" in entry.name and entry.is_dir(follow_symlinks=False)
        except OSError:
            return False

    def walk(path: str, comps: tuple[str, ...]) -> Iterator[tuple[str, ...]]:
        try:
            with os.scandir(path) as it:
                names = [e.name for e in it if is_partition_dir(e)]
        except OSError:
            return
        for n in names:
            if len(comps) + 1 == depth:
                yield comps + (n,)
            else:
                yield from walk(os.path.join(path, n), comps + (n,))

    if depth == 0:
        return iter([()] if os.path.isdir(location) else [])
    return walk(location, ())


class ThinCatalog:
    """In-process table registry with the metastore resolution flow."""

    def __init__(self) -> None:
        self._tables: dict[str, TableDef] = {}

    # -- registration ------------------------------------------------------
    def register(self, table: TableDef) -> None:
        self._tables[table.name] = table

    def get_table(self, name: str) -> TableDef:
        if name not in self._tables:
            raise KeyError(f"table {name!r} not registered")
        return self._tables[name]

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({n: vars(t) for n, t in self._tables.items()}, f, indent=2, default=list)

    @classmethod
    def load(cls, path: str) -> "ThinCatalog":
        cat = cls()
        with open(path) as f:
            for _, t in json.load(f).items():
                cat.register(TableDef(
                    name=t["name"], location=t["location"],
                    columns=[tuple(c) for c in t["columns"]],
                    input_format=t.get("input_format", "parquet"),
                    partition_keys=[tuple(c) for c in t.get("partition_keys", [])],
                    serde_params=t.get("serde_params", {}),
                ))
        return cat

    # -- partition enumeration (reference step 3) --------------------------
    def list_partitions(self, name: str, filter_expr: str | None = None) -> list[dict[str, str]]:
        """Enumerate Hive-style ``key=value`` partition directories, applying
        the filter string BEFORE any data is touched (the connector's one
        real optimization, SURVEY.md §4.1)."""
        return [vals for vals, _rel in self._partition_dirs(name, filter_expr)]

    def _partition_dirs(
        self, name: str, filter_expr: str | None = None
    ) -> list[tuple[dict[str, str], str]]:
        """(values, raw relative dir path) pairs — the RAW path rides along
        because partition values are percent-escaped on disk (Hive
        escaping): rebuilding the path from the unquoted values would
        point at a directory that does not exist (r7 review)."""
        t = self.get_table(name)
        keys = [k for k, _ in t.partition_keys]
        keep = _compile_filter(filter_expr) if filter_expr else None
        parts: list[tuple[dict[str, str], str]] = []
        for comps in _walk_partition_dirs(t.location, len(keys)):
            vals = {k: unquote(v) for k, v in (c.split("=", 1) for c in comps)}
            if keep is None or keep(vals):
                parts.append((vals, os.sep.join(comps) or "."))
        return sorted(parts, key=lambda pr: [pr[0][k] for k in keys])

    # -- read (reference steps 1-5) ----------------------------------------
    def read_table(
        self,
        spark: SparkSession,
        name: str,
        columns: list[str] | None = None,
        partition_filter: str | None = None,
        strategy: str = "auto",
    ) -> DataFrame:
        """Resolve → (filtered) partitions → read → partition-key columns
        attached. One call = the whole reference flow.

        Two physical strategies behind identical semantics (same
        ``_compile_filter`` pruning, same output schema):

        - ``"scan"`` (default for parquet): ONE multi-path scan of the
          surviving partition directories with ``basePath`` set, so Spark
          derives the partition-key columns from the paths. Planning cost
          is O(paths) inside a single relation — at 10⁴–10⁵ partitions
          this is the difference between a usable plan and an
          analysis-time blowup (the union form builds one scan node per
          partition).
        - ``"union"``: the reference connector's literal
          frame-per-partition → concat shape, kept as the semantic model
          and for text tables.

        Pruned-before-read either way: directories failing the filter are
        never passed to the reader. Listing is one driver-side walk of the
        non-leaf ``key=value`` directories plus one driver-side Spark
        listing of the kept directories, so planning a ``"scan"`` read
        launches no Spark job. When no partition passes the filter the
        result is empty with the same schema, ``columns`` applied.
        """
        t = self.get_table(name)
        if not t.partition_keys:
            df = self._read_location(spark, t, t.location)
            return df.select(*columns) if columns else df
        if strategy == "auto":
            strategy = "scan" if t.input_format == "parquet" else "union"

        part_dirs = self._partition_dirs(name, partition_filter)
        parts = [p for p, _rel in part_dirs]
        locs = [os.path.join(t.location, rel) for _p, rel in part_dirs]
        if not parts:
            out = spark.createDataFrame(
                [], hive_schema_to_struct(t.columns + t.partition_keys))
        elif strategy == "scan":
            if t.input_format != "parquet":
                raise ValueError("strategy='scan' requires a parquet table")
            # the DECLARED schema (data + partition columns) is passed to
            # the reader, so partition values are parsed AS their hive
            # types rather than type-inferred from the path and cast back
            # — inference would normalize string-typed values that look
            # numeric ('01' → bigint 1 → '1'), silently diverging from
            # the union strategy's raw directory value (r7 review)
            full_schema = hive_schema_to_struct(t.columns + t.partition_keys)
            out = (
                spark.read.schema(full_schema)
                .option("basePath", t.location)
                .parquet(*locs)
            )
        elif strategy == "union":
            frames: list[DataFrame] = []
            for pvals, loc in zip(parts, locs):
                df = self._read_location(spark, t, loc)
                for k, hive_type in t.partition_keys:
                    df = df.withColumn(
                        k, F.lit(pvals[k]).cast(parse_hive_type(hive_type))
                    )
                frames.append(df)
            out = frames[0]
            for f_ in frames[1:]:
                out = out.unionByName(f_)
        else:
            raise ValueError(f"unknown strategy {strategy!r}")
        return out.select(*columns) if columns else out

    def _read_location(self, spark: SparkSession, t: TableDef, loc: str) -> DataFrame:
        if t.input_format == "parquet":
            return spark.read.parquet(loc)
        if t.input_format == "text":
            sep = t.serde_params.get("field.delim", HIVE_DEFAULT_DELIM)
            # metastore text tables carry LazySimpleSerDe semantics
            return read_delimited(spark, loc, t.columns, sep=sep,
                                  hive_serde=True)
        raise ValueError(f"unsupported input_format {t.input_format!r}")


# -- partition filter strings (reference: metastore filter language) --------

_CMP = re.compile(
    r"""^\s*(\w+)\s*(<=|>=|!=|<>|=|<|>)\s*(?:'([^']*)'|"([^"]*)"|(\S+))\s*$"""
)


def _protect_quoted(expr: str) -> tuple[str, list[str]]:
    """Replace quoted literals with ``\\x00<i>\\x00`` placeholders so the
    connective split can't fire inside them (``k='black and white'``)."""
    literals: list[str] = []

    def stash(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    return re.sub(r"'[^']*'|\"[^\"]*\"", stash, expr), literals


def _restore_quoted(s: str, literals: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: literals[int(m.group(1))], s)


_OPS: dict[str, Callable[[object, object], bool]] = {
    "=": operator.eq, "!=": operator.ne, "<>": operator.ne,
    "<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge,
}


def _as_number(s: str) -> float | None:
    """``s`` as a float, or None when it is not a number or is NaN (NaN
    never equals itself, so a ``'nan'`` value could never be selected)."""
    try:
        x = float(s)
    except ValueError:
        return None
    return None if x != x else x


def _compile_clause(clause: str) -> Callable[[dict[str, str]], bool]:
    m = _CMP.match(clause)
    if not m:
        def unparseable(_pvals: dict[str, str]) -> bool:
            raise ValueError(f"cannot parse partition filter clause {clause!r}")
        return unparseable
    key, op, *vals = m.groups()
    rhs = next(v for v in vals if v is not None)
    rhs_num, cmp = _as_number(rhs), _OPS[op]

    def test(pvals: dict[str, str]) -> bool:
        if key not in pvals:
            raise KeyError(f"{key!r} is not a partition key")
        lhs = pvals[key]
        lhs_num = _as_number(lhs) if rhs_num is not None else None
        if lhs_num is None:
            return cmp(lhs, rhs)
        return cmp(lhs_num, rhs_num)

    return test


def _compile_filter(expr: str) -> Callable[[dict[str, str]], bool]:
    """Parse a simple metastore-style filter string (``k='v' AND ...``, OR
    supported, AND binds tighter) once into a predicate over one
    partition's key values. Comparisons are numeric when both sides parse
    as non-NaN numbers, else string. Quoted literals are tokenized first,
    so AND/OR inside a quoted value never mis-splits. A clause is checked
    only when evaluation reaches it, so an unknown key or a malformed
    clause raises exactly when the per-partition evaluation touches it."""
    protected, literals = _protect_quoted(expr)
    terms = [
        [_compile_clause(_restore_quoted(c, literals))
         for c in re.split(r"\s+AND\s+", or_term, flags=re.I)]
        for or_term in re.split(r"\s+OR\s+", protected, flags=re.I)
    ]
    return lambda pvals: any(all(c(pvals) for c in term) for term in terms)


def _eval_filter(expr: str, pvals: dict[str, str]) -> bool:
    """Evaluate a filter string against one partition's key values (see
    :func:`_compile_filter`)."""
    return _compile_filter(expr)(pvals)

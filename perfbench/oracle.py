"""Order-insensitive result digests and the DuckDB reference for each op.

A registry key's result is correct when its digest equals the digest of the
key's ``plans.ORACLES`` SQL run in DuckDB over the same parquet files. The
reference digest depends only on the oracle text and the input files, so it
is computed once per checkout and cached in the work directory, keyed by a
hash of the oracle SQL and a fingerprint of the input files.

One oracle, the exact word-3-gram Jaccard self-join shared by the
near-duplicate keys, compares all document pairs and runs for hours in
DuckDB at sf0.1. When a key's registered oracle is exactly that text, the
reference runs :data:`JACCARD_EQUIVALENT` instead: the same pairs and
values computed through a join on shared 3-grams (pairs sharing none have
Jaccard 0 and fail the filter either way). The smoke test checks that both
give the same digest at sf0.001.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import tempfile

JACCARD_ORACLE = " ".join("""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws)-1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
      FROM w WHERE len(ws) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9
""".split())

JACCARD_EQUIVALENT = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws)-1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
      FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
s AS (SELECT c.*, len(ga.gs) AS na, len(gb.gs) AS nb FROM c
      JOIN g ga ON ga.doc_id = c.doc_a JOIN g gb ON gb.doc_id = c.doc_b)
SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM s WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.9
"""


def canon_cell(v) -> str:
    """One value as text that Spark's and DuckDB's Python results share.

    Floats keep 10 significant digits, so sums accumulated in another order
    still compare equal; decimals compare as floats."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NULL" if math.isnan(f) else format(f, ".10g")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon_cell(k)}:{canon_cell(x)}"
                              for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(columns: list[str], rows) -> str:
    """sha256 over the column names and the sorted canonical rows.

    Columns are put in name order first, so the digest ignores both row and
    column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


def data_fingerprint(sf_dir: str) -> str:
    """Names and sizes of the parquet inputs: enough to tell the generated
    scale factors apart without hashing their bytes."""
    parts = sorted(
        f"{name}:{os.path.getsize(os.path.join(sf_dir, name))}"
        for name in os.listdir(sf_dir) if name.endswith(".parquet")
    )
    return hashlib.sha256(";".join(parts).encode()).hexdigest()[:16]


def reference_key(key: str, sql: str, fingerprint: str) -> str:
    return f"{key}|{hashlib.sha256(sql.encode()).hexdigest()[:16]}|{fingerprint}"


def duck_connect(sf_dir: str, table_names):
    """In-memory DuckDB with one view per input table, as the oracles expect."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for t in table_names:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_oracle(con, sql: str) -> str:
    rel = con.sql(sql)
    return digest(list(rel.columns), rel.fetchall())


class OracleDigests:
    """Reference digests for registry keys, from the cache or from DuckDB."""

    def __init__(self, sf_dir: str, cache_path: str, oracles: dict[str, str],
                 table_names) -> None:
        self.sf_dir = sf_dir
        self.cache_path = cache_path
        self.oracles = oracles
        self.table_names = table_names
        self.fingerprint = data_fingerprint(sf_dir)
        self._known = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self._known = json.load(f)
        self._con = None

    def get(self, key: str) -> str:
        sql = self.oracles[key]
        ref = reference_key(key, sql, self.fingerprint)
        if ref not in self._known:
            if self._con is None:
                self._con = duck_connect(self.sf_dir, self.table_names)
            if sql == JACCARD_ORACLE:
                sql = JACCARD_EQUIVALENT
            self._known[ref] = run_oracle(self._con, sql)
            self._save_cache()
        return self._known[ref]

    def _save_cache(self) -> None:
        tmp = self.cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._known, f, indent=1, sort_keys=True)
        os.replace(tmp, self.cache_path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None

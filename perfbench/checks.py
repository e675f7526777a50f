"""Correctness checks, run outside the timed region.

DuckDB computes, independently of the program, what each operation
should have produced:

* ``etl``: for each step, row count, column order and an order-independent
  checksum per column (the sum of per-value hashes over a type-normalized
  value), so a permuted input must give identical checksums;
* ``query_mix``: the query's DuckDB oracle twin (``queries.ORACLES``),
  compared row for row after the same normalization as
  ``tests/test_oracle.py``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sqlite3
from decimal import Decimal

import duckdb
import pyarrow as pa

from inputs import BASE_VERSION

_INT = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
_FLOAT = ("FLOAT", "DOUBLE", "REAL")


def _norm_expr(col: str, dtype: str) -> str:
    c = f'"{col}"'
    if dtype in _INT or dtype == "BOOLEAN":
        return f"CAST({c} AS BIGINT)"
    if dtype in _FLOAT or dtype.startswith("DECIMAL"):
        return f"CAST({c} AS DOUBLE)"
    if dtype.startswith("TIMESTAMP WITH"):
        return f"epoch_us({c})"
    if dtype.startswith("TIMESTAMP") or dtype == "DATE":
        return f"epoch_us(CAST({c} AS TIMESTAMP))"
    return f"CAST({c} AS VARCHAR)"


def table_digest(con: duckdb.DuckDBPyConnection, relation: str) -> dict:
    """Row count, column order and per-column (non-null count, hash sum)
    of ``relation``; independent of row order."""
    cols = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {relation}").fetchall()]
    parts = ["count(*)"]
    for name, dtype in cols:
        e = _norm_expr(name, dtype)
        parts += [f"count({e})", f"CAST(sum(hash({e})) AS VARCHAR)"]
    row = con.execute(f"SELECT {', '.join(parts)} FROM {relation}").fetchone()
    return {
        "rows": row[0],
        "columns": [n for n, _ in cols],
        "checksums": {
            n: [row[1 + 2 * i], row[2 + 2 * i]] for i, (n, _) in enumerate(cols)
        },
    }


def expected_csv_parquet(csv_path: str) -> dict:
    """What the ``etl`` workload's ``csv_parquet`` step must write: the
    declared schema's columns, then the four transform outputs in order."""
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE VIEW want AS
            SELECT *,
                   l_extendedprice * (1 - l_discount) AS disc_price,
                   l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
                   CASE WHEN l_quantity >= 40 THEN 'heavy'
                        WHEN l_quantity >= 20 THEN 'mid'
                        ELSE 'light' END AS qty_class,
                   l_returnflag || '-' || l_linestatus AS flag_status
            FROM read_csv('{csv_path}', header = true, columns = {{
                'l_orderkey': 'BIGINT', 'l_partkey': 'BIGINT',
                'l_suppkey': 'BIGINT', 'l_linenumber': 'BIGINT',
                'l_quantity': 'DOUBLE', 'l_extendedprice': 'DOUBLE',
                'l_discount': 'DOUBLE', 'l_tax': 'DOUBLE',
                'l_returnflag': 'VARCHAR', 'l_linestatus': 'VARCHAR',
                'l_shipdate': 'TIMESTAMP'}})
        """)
        return table_digest(con, "want")
    finally:
        con.close()


def expected_parquet_sqlite(parquet_path: str) -> dict:
    """What the ``etl`` workload's ``parquet_sqlite`` step must leave in
    SQLite: datetimes as RFC 3339 text in UTC, booleans as 0/1."""
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE VIEW want AS
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+00:00' AS o_orderdate,
                   o_orderpriority,
                   CAST(o_totalprice > 250000 AS BIGINT) AS is_big,
                   substr(o_orderpriority, 1, 1) AS prio
            FROM read_parquet('{parquet_path}')
        """)
        return table_digest(con, "want")
    finally:
        con.close()


def parquet_digest(path: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{path}')")
        return table_digest(con, "got")
    finally:
        con.close()


def sqlite_digest(db_path: str, table: str) -> dict:
    src = sqlite3.connect(db_path)
    try:
        cur = src.execute(f'SELECT * FROM "{table}"')
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        src.close()
    cols = zip(*rows) if rows else [()] * len(names)
    got = pa.table({n: pa.array(c) for n, c in zip(names, cols)})
    con = duckdb.connect()
    try:
        con.register("got", got)
        return table_digest(con, "got")
    finally:
        con.close()


def compare_digest(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    bad = [c for c in want["columns"] if got["checksums"][c] != want["checksums"][c]]
    return f"checksum mismatch in {bad}" if bad else None


# ------------------------------------------------------------- query mix

def _normalize_cell(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("l", tuple(_normalize_cell(x) for x in v))
    return v


def result_digest(df_pandas) -> dict:
    """Row count and a digest of the normalized result: columns sorted
    by name, rows sorted by their repr (as in tests/test_oracle.py)."""
    cols = sorted(df_pandas.columns)
    rows = sorted(
        (tuple(_normalize_cell(v) for v in row)
         for row in df_pandas[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "columns": cols, "digest": h}


def oracle_digest(name: str, sql: str, base: str, cache_dir: str) -> dict:
    """Digest of the query's DuckDB oracle over the base tables, cached
    per (base data version, oracle SQL) because the base tables never
    depend on the run seed."""
    key = hashlib.sha256(f"{BASE_VERSION}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{name}-{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(base)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(base, f)}'"
                )
        out = result_digest(con.execute(sql).df())
    finally:
        con.close()
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def compare_result(got: dict, want: dict) -> str | None:
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    return None if got["digest"] == want["digest"] else "values differ from oracle"

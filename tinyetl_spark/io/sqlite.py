"""Embedded SQLite source/sink.

There is no sqlite JDBC driver jar in this environment, and SQLite is a
single-writer embedded database anyway — parallel executor writes would
serialize on the file lock. So this connector is deliberately
DRIVER-SIDE (SURVEY.md §7.4): reads stream in bounded chunks into Arrow
→ Spark; writes stream Arrow record batches one partition at a time
(:mod:`tinyetl_spark.io.arrow_stream`), already projected to bindable
values on the executors, into ``executemany`` over each batch's column
lists. Rows cross the driver in bounded batches, never all at once. For
a server-grade parallel path use the JDBC connectors.

Parity with the reference (src/connectors/sqlite.rs):
* schema from ``PRAGMA table_info`` (sqlite.rs:76-101)
* auto-DDL ``CREATE TABLE IF NOT EXISTS`` with the same type map
  (sqlite.rs:256-267): string→TEXT, integer→INTEGER, decimal→REAL,
  boolean→INTEGER, date/datetime→TEXT, json→TEXT
* datetimes stored as RFC 3339 text in UTC, booleans as 0/1
* truncate = ``DELETE FROM`` (sqlite.rs:427-434); append supported
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tinyetl_spark.io import arrow_stream

_SPARK_TO_SQLITE = [
    (T.StringType, "TEXT"),
    (T.LongType, "INTEGER"),
    (T.IntegerType, "INTEGER"),
    (T.ShortType, "INTEGER"),
    (T.ByteType, "INTEGER"),
    (T.BooleanType, "INTEGER"),
    (T.DoubleType, "REAL"),
    (T.FloatType, "REAL"),
    (T.DecimalType, "REAL"),
    (T.TimestampType, "TEXT"),
    (T.TimestampNTZType, "TEXT"),
    (T.DateType, "TEXT"),
    (T.BinaryType, "BLOB"),
]

_SQLITE_TO_SPARK = {
    "INTEGER": T.LongType(),
    "INT": T.LongType(),
    "BIGINT": T.LongType(),
    "REAL": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "DOUBLE": T.DoubleType(),
    "NUMERIC": T.DoubleType(),
    "BLOB": T.BinaryType(),
}


def _sqlite_type(dt: T.DataType) -> str:
    for cls, name in _SPARK_TO_SQLITE:
        if isinstance(dt, cls):
            return name
    return "TEXT"


def table_exists(db_path: str, table: str) -> bool:
    if not os.path.exists(db_path):
        return False
    with sqlite3.connect(db_path) as con:
        row = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name=?", (table,)
        ).fetchone()
    return row is not None


def read_table(
    spark: SparkSession, db_path: str, table: str, batch_rows: int = 50_000
) -> DataFrame:
    """PRAGMA-typed read, streamed in bounded chunks."""
    if not os.path.exists(db_path):
        raise FileNotFoundError(f"SQLite file not found: {db_path}")
    with sqlite3.connect(db_path) as con:
        info = con.execute(f'PRAGMA table_info("{table}")').fetchall()
        if not info:
            raise ValueError(f"Table {table!r} not found in {db_path}")
        names = [r[1] for r in info]
        types = [
            _SQLITE_TO_SPARK.get((r[2] or "").upper().split("(")[0], T.StringType())
            for r in info
        ]
        schema = T.StructType(
            [T.StructField(n, t, True) for n, t in zip(names, types)]
        )
        rows: list[tuple] = []
        cur = con.execute(f'SELECT * FROM "{table}"')
        frames = []
        while True:
            chunk = cur.fetchmany(batch_rows)
            if not chunk:
                break
            frames.append(spark.createDataFrame(chunk, schema))
        if not frames:
            return spark.createDataFrame(rows, schema)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def write_table(
    df: DataFrame,
    db_path: str,
    table: str,
    truncate: bool = False,
) -> int:
    """Append-first write with auto-DDL; returns rows written."""
    os.makedirs(os.path.dirname(os.path.abspath(db_path)) or ".", exist_ok=True)
    ddl_cols = ", ".join(
        f'"{f.name}" {_sqlite_type(f.dataType)}' for f in df.schema.fields
    )
    names = ", ".join(f'"{c}"' for c in df.columns)
    insert = f'INSERT INTO "{table}" ({names}) VALUES ({", ".join("?" for _ in df.columns)})'
    written = 0
    con = sqlite3.connect(db_path)
    try:
        con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({ddl_cols})')
        if truncate:
            con.execute(f'DELETE FROM "{table}"')
        for batch in arrow_stream.batches(arrow_stream.bindable(df)):
            con.executemany(insert, zip(*(c.to_pylist() for c in batch.columns)))
            written += batch.num_rows
        con.commit()
    finally:
        con.close()
    return written

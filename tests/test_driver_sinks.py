"""Driver-side sinks (SQLite, DuckDB) and the Arrow stream they read:
exact stored values per type, row order across partitions, the empty
case, and the bounded partition-at-a-time stream. No reference files."""

from __future__ import annotations

import sqlite3

from tinyetl_spark.io import arrow_stream
from tinyetl_spark.io import duckdb_io
from tinyetl_spark.io import sqlite as sio

# one row with every type set (timestamp with microseconds), one with
# a whole-second timestamp, one NULL in every column; literals are
# read in the session time zone, UTC
_TYPED_SQL = """
SELECT * FROM VALUES
  (1, CAST(9007199254740993 AS BIGINT), 1.5D, 'x', true,
   TIMESTAMP'2024-01-02 03:04:05.123456', DATE'2024-01-02', CAST(12.34 AS DECIMAL(10,2))),
  (2, CAST(-7 AS BIGINT), -0.25D, '', false,
   TIMESTAMP'1999-12-31 23:59:59', DATE'1999-12-31', CAST(-0.5 AS DECIMAL(10,2))),
  (3, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS STRING),
   CAST(NULL AS BOOLEAN), CAST(NULL AS TIMESTAMP), CAST(NULL AS DATE),
   CAST(NULL AS DECIMAL(10,2)))
AS t(k, i, d, s, b, ts, dt, m)
"""


def _typed(spark):
    return spark.sql(_TYPED_SQL).repartition(3, "k")


def test_sqlite_sink_exact_values_per_type(spark, tmp_path):
    db = str(tmp_path / "typed.db")
    assert sio.write_table(_typed(spark), db, "t") == 3
    con = sqlite3.connect(db)
    try:
        got = con.execute(
            "SELECT k, i, d, s, b, ts, dt, m, typeof(m) FROM t ORDER BY k"
        ).fetchall()
        ddl = dict(con.execute("SELECT name, type FROM pragma_table_info('t')").fetchall())
    finally:
        con.close()
    assert got == [
        (1, 9007199254740993, 1.5, "x", 1,
         "2024-01-02T03:04:05.123456+00:00", "2024-01-02", 12.34, "real"),
        (2, -7, -0.25, "", 0, "1999-12-31T23:59:59+00:00", "1999-12-31", -0.5, "real"),
        (3, None, None, None, None, None, None, None, "null"),
    ]
    assert ddl == {
        "k": "INTEGER", "i": "INTEGER", "d": "REAL", "s": "TEXT", "b": "INTEGER",
        "ts": "TEXT", "dt": "TEXT", "m": "REAL",
    }


def test_sqlite_sink_timestamps_are_utc_in_any_session_zone(spark, tmp_path):
    db = str(tmp_path / "tz.db")
    df = spark.range(1).selectExpr("timestamp_seconds(1704164645) AS ts")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sio.write_table(df, db, "t")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT ts FROM t").fetchall() == [("2024-01-02T03:04:05+00:00",)]
    finally:
        con.close()


def test_sqlite_sink_keeps_partition_order(spark, tmp_path):
    db = str(tmp_path / "order.db")
    df = spark.range(0, 3000, numPartitions=4).selectExpr("id", "id * 2 AS twice")
    assert sio.write_table(df, db, "o") == 3000
    con = sqlite3.connect(db)
    try:
        ids = [r[0] for r in con.execute("SELECT id FROM o ORDER BY rowid")]
    finally:
        con.close()
    assert ids == list(range(3000))


def test_sqlite_sink_empty_dataframe_creates_table(spark, tmp_path):
    db = str(tmp_path / "empty.db")
    df = spark.createDataFrame([], "a long, b string, c timestamp")
    assert sio.write_table(df, db, "e") == 0
    assert sio.table_exists(db, "e")
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT count(*) FROM e").fetchone()[0] == 0
    finally:
        con.close()


def test_duckdb_sink_exact_values_per_type(spark, tmp_path):
    import datetime as dt

    import duckdb

    db = str(tmp_path / "typed.duckdb")
    assert duckdb_io.write_table(_typed(spark), db, "t") == 3
    con = duckdb.connect(db, read_only=True)
    try:
        got = con.execute("SELECT * FROM t ORDER BY k").fetchall()
    finally:
        con.close()
    assert got == [
        (1, 9007199254740993, 1.5, "x", True,
         dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.date(2024, 1, 2), 12.34),
        (2, -7, -0.25, "", False,
         dt.datetime(1999, 12, 31, 23, 59, 59), dt.date(1999, 12, 31), -0.5),
        (3, None, None, None, None, None, None, None),
    ]


def test_arrow_stream_holds_at_most_two_partitions(spark):
    """Partitions are fetched as the stream advances: after the first
    batch only the current and the prefetched partition have run."""
    sc = spark.sparkContext
    df = spark.range(0, 40, numPartitions=8)
    sc.setJobGroup("arrow-stream-bound", "arrow stream bound")
    try:
        stream = arrow_stream.batches(df)
        first = next(stream)
        started = len(sc.statusTracker().getJobIdsForGroup("arrow-stream-bound"))
        rest = [v for b in stream for v in b.column(0).to_pylist()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= started <= 2
    assert first.column(0).to_pylist() + rest == list(range(40))

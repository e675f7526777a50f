"""Generic ODBC source/sink via ``pyodbc`` (driver-side, bounded
batches — the same deliberate shape as the SQLite/DuckDB embedded
connectors: writes stream Arrow record batches one partition at a time
through :mod:`tinyetl_spark.io.arrow_stream`, projected to bindable
values — ISO-8601 text for date/datetime columns, 0/1 for BIT).

Parity with the reference (src/connectors/odbc.rs):

* URI form ``odbc://<raw ODBC connection string>#table``
  (odbc.rs:23-37 — everything between ``odbc://`` and ``#`` goes to
  the driver manager verbatim)
* schema probe ``SELECT * FROM [t] WHERE 1=0`` + column descriptions
  (odbc.rs:89-117)
* target auto-DDL with the reference's type map (odbc.rs:409-420):
  string→VARCHAR(255), integer→BIGINT, decimal→DECIMAL(18,4),
  boolean→BIT, date→DATE, datetime→DATETIME2, json→NVARCHAR(MAX)
* chunked multi-row ``INSERT INTO [t] (...) VALUES (?,...),(?,...)``
  (odbc.rs:560-595), one commit at the end (odbc.rs:430)
* ``[bracket]`` identifier quoting throughout, like the reference
  (SQL-Server-first ODBC)

``pyodbc`` is not installed in this environment; the module imports it
lazily and raises a clear error naming the missing dependency. The
query/DDL/marshalling logic is pure Python and unit-tested against a
fake pyodbc (tests/test_connectors.py), so a user who installs pyodbc
plus a driver manager gets a working path, not a stub.

Scale note: driver-side by design — ODBC is a single-connection C API.
For parallel cluster IO use the JDBC connectors with partitionColumn;
this path exists for reference parity (DSNs, Windows-auth setups, and
drivers that have no JDBC equivalent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tinyetl_spark.io import arrow_stream

MAX_ROWS_PER_INSERT = 100  # SQL Server caps at 1000 value sets; stay modest


def _pyodbc():
    try:
        import pyodbc  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - exercised via fake
        raise RuntimeError(
            "ODBC execution needs the 'pyodbc' package (pip install pyodbc) "
            "and a driver manager (unixODBC); only URL parsing works without it"
        ) from exc
    return pyodbc


def parse_odbc_uri(uri: str) -> tuple[str, str]:
    """``odbc://Driver={...};Server=...;#table`` → (conn_str, table).
    The connection string passes through VERBATIM (odbc.rs:23-37)."""
    if not uri.startswith("odbc://"):
        raise ValueError(f"not an odbc:// URI: {uri}")
    rest = uri[len("odbc://"):]
    if "#" not in rest:
        raise ValueError(
            "ODBC source requires table specification: odbc://connection_string#table"
        )
    conn, table = rest.rsplit("#", 1)
    if not table:
        raise ValueError("empty table name after '#'")
    return conn, table


_ODBC_TO_SPARK = {
    int: T.LongType(),
    float: T.DoubleType(),
    bool: T.BooleanType(),
    bytes: T.BinaryType(),
    bytearray: T.BinaryType(),
}


def _spark_type_for(py_type) -> T.DataType:
    import datetime as dt
    import decimal

    if py_type in _ODBC_TO_SPARK:
        return _ODBC_TO_SPARK[py_type]
    if py_type is dt.datetime:
        return T.TimestampType()
    if py_type is dt.date:
        return T.DateType()
    if py_type is decimal.Decimal:
        return T.DoubleType()
    return T.StringType()


def read_table(
    spark: SparkSession, uri: str, batch_rows: int = 50_000
) -> DataFrame:
    """Schema from the zero-row probe's cursor description, rows
    streamed in bounded fetchmany chunks."""
    conn_str, table = parse_odbc_uri(uri)
    pyodbc = _pyodbc()
    con = pyodbc.connect(conn_str)
    try:
        cur = con.cursor()
        cur.execute(f"SELECT * FROM [{table}] WHERE 1=0")
        desc = cur.description  # (name, type_code, ...): odbc.rs:89-117
        schema = T.StructType(
            [T.StructField(d[0], _spark_type_for(d[1]), True) for d in desc]
        )
        cur.execute(f"SELECT * FROM [{table}]")
        frames = []
        while True:
            chunk = cur.fetchmany(batch_rows)
            if not chunk:
                break
            frames.append(spark.createDataFrame([tuple(r) for r in chunk], schema))
        if not frames:
            return spark.createDataFrame([], schema)
    finally:
        con.close()
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_SPARK_TO_ODBC = [
    (T.BooleanType, "BIT"),
    (T.LongType, "BIGINT"),
    (T.IntegerType, "BIGINT"),
    (T.ShortType, "BIGINT"),
    (T.ByteType, "BIGINT"),
    (T.DoubleType, "DECIMAL(18,4)"),
    (T.FloatType, "DECIMAL(18,4)"),
    (T.DecimalType, "DECIMAL(18,4)"),
    (T.TimestampType, "DATETIME2"),
    (T.TimestampNTZType, "DATETIME2"),
    (T.DateType, "DATE"),
]


def _odbc_type(dt_: T.DataType) -> str:
    for cls, name in _SPARK_TO_ODBC:
        if isinstance(dt_, cls):
            return name
    return "VARCHAR(255)"  # string / fallback (odbc.rs:411,418)


def _create_table_sql(table: str, schema: T.StructType) -> str:
    cols = ", ".join(f"[{f.name}] {_odbc_type(f.dataType)}" for f in schema.fields)
    return f"CREATE TABLE [{table}] ({cols})"


def _insert_sql(table: str, cols: list[str], n_rows: int) -> str:
    one = "(" + ", ".join("?" for _ in cols) + ")"
    names = ", ".join(f"[{c}]" for c in cols)
    values = ", ".join(one for _ in range(n_rows))
    return f"INSERT INTO [{table}] ({names}) VALUES {values}"


def write_table(df: DataFrame, uri: str, truncate: bool = False) -> int:
    """Append-first with auto-DDL; one commit at the end (the
    reference's no-per-batch-transaction optimization, odbc.rs:430)."""
    conn_str, table = parse_odbc_uri(uri)
    pyodbc = _pyodbc()
    con = pyodbc.connect(conn_str, autocommit=False)
    n = 0
    try:
        cur = con.cursor()
        try:
            cur.execute(f"SELECT 1 FROM [{table}] WHERE 1=0")
            exists = True
        except pyodbc.Error:
            exists = False
        if not exists:
            cur.execute(_create_table_sql(table, df.schema))
        elif truncate:
            cur.execute(f"DELETE FROM [{table}]")
        cols = df.columns
        for batch in arrow_stream.batches(arrow_stream.bindable(df)):
            rows = list(zip(*(c.to_pylist() for c in batch.columns)))
            for lo in range(0, len(rows), MAX_ROWS_PER_INSERT):
                chunk = rows[lo : lo + MAX_ROWS_PER_INSERT]
                cur.execute(
                    _insert_sql(table, cols, len(chunk)), [v for row in chunk for v in row]
                )
            n += len(rows)
        con.commit()
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()
    return n

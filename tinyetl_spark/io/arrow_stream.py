"""Stream a DataFrame to the driver as Arrow record batches.

The driver-side sinks (SQLite, DuckDB, ODBC and the pure-Python Avro
writer) read their input through :func:`batches`: the DataFrame's
partitions cross to the driver as Arrow IPC record batches, ONE
partition at a time with the next one prefetched, in partition order —
the same rows in the same order as ``collect()``, but never all of them
at once and without unpickling a ``Row`` object per row.

:func:`bindable` is the Spark-side projection that makes every value
bindable as-is by a DB-API driver (``sqlite3``, ``pyodbc``) and
castable by DuckDB's INSERT:

* timestamps → ``yyyy-MM-dd'T'HH:mm:ss[.ffffff]+00:00`` text in UTC
  (fraction only when non-zero, like ``datetime.isoformat``)
* dates → ``yyyy-MM-dd``
* booleans → 0/1
* decimals → double (SQLite and DuckDB store decimal as REAL/DOUBLE;
  ODBC's DECIMAL(18,4) column takes the bound float)
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.serializers import NoOpSerializer
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import _local_iterator_from_socket


def _iso_utc(c: Column, session_tz: str) -> Column:
    if session_tz != "UTC":
        # date_format renders in the session zone; shift so it prints UTC
        c = F.to_utc_timestamp(c, session_tz)
    frac = F.date_format(c, "SSSSSS")
    return F.concat(
        F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(frac == "000000", F.lit("")).otherwise(F.concat(F.lit("."), frac)),
        F.lit("+00:00"),
    )


def bindable(df: DataFrame) -> DataFrame:
    """Project ``df`` so each column holds driver-bindable values (see
    the module docstring); other columns pass through untouched."""
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    cols = []
    for f in df.schema.fields:
        c, dt = F.col(f.name), f.dataType
        if isinstance(dt, T.TimestampType):
            c = _iso_utc(c, session_tz)
        elif isinstance(dt, T.TimestampNTZType):
            c = _iso_utc(c, "UTC")  # wall clock as stored, labelled UTC
        elif isinstance(dt, T.DateType):
            c = F.date_format(c, "yyyy-MM-dd")
        elif isinstance(dt, T.BooleanType):
            c = c.cast("int")
        elif isinstance(dt, T.DecimalType):
            c = c.cast("double")
        else:
            cols.append(c)
            continue
        cols.append(c.alias(f.name))
    return df.select(*cols)


def batches(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """Arrow record batches of ``df`` in partition order. Each partition
    runs as its own job when the stream reaches it (the next one is
    prefetched), so at most two partitions are held on the driver."""
    spark = df.sparkSession
    schema = to_arrow_schema(
        df.schema, prefers_large_types=spark._jconf.arrowUseLargeVarTypes()
    )
    sock_info = spark.sparkContext._jvm.PythonRDD.toLocalIteratorAndServe(
        df._jdf.toArrowBatchRdd(), True
    )
    for payload in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        yield pa.ipc.read_record_batch(pa.py_buffer(payload), schema)

"""Source/sink implementations behind the URI factory.

Layout mirrors the reference's connector/protocol split
(reference src/connectors/*, src/protocols/*):

* :mod:`tinyetl_spark.io.files`   — csv / json / parquet / avro
* :mod:`tinyetl_spark.io.sqlite`  — embedded SQLite (driver-side writer)
* :mod:`tinyetl_spark.io.arrow_stream` — partition-at-a-time Arrow batches
  for the driver-side writers (SQLite, DuckDB, ODBC, Avro fallback)
* :mod:`tinyetl_spark.io.jdbc`    — postgres / mysql / mssql / odbc via JDBC
* :mod:`tinyetl_spark.io.staging` — http(s) / ssh fetch to a staging file
"""

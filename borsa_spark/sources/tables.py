"""Loaders for the driver's parquet test tables.

Some driver generations write the `events` table with nanosecond-precision
parquet timestamps (TIMESTAMP(NANOS)), which Spark's vectorized parquet
reader rejects outright ([PARQUET_TYPE_ILLEGAL]). When the file carries
nanos we read them as LongType via ``spark.sql.legacy.parquet.nanosAsLong``
and truncate to microseconds — exactly what DuckDB (the correctness oracle)
does when it loads the same file, so both engines see identical timestamp
values. When the file already carries micros (later generations) the scan
needs no rewrite; we sniff the footer with pyarrow before choosing.

All other tables load as plain parquet scans: columnar, predicate-pushdown
and column-pruning friendly. Loaders never infer schemas — parquet files are
self-describing, and validation against the expected schema happens in tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _has_nano_ts(path: str) -> bool:
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        field = schema.field("ts") if "ts" in schema.names else None
        return field is not None and str(field.type) == "timestamp[ns]"
    except Exception:
        return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _has_nano_ts(path):
        prev = spark.conf.get(NANOS_CONF, "false")
        spark.conf.set(NANOS_CONF, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            spark.conf.set(NANOS_CONF, prev)
        # ts arrives as int64 nanoseconds; truncate (not round) to micros to
        # match DuckDB's TIMESTAMP semantics on the same file.
        return df.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
        )
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        # Micro-precision files surface as TIMESTAMP_NTZ; downstream code
        # (unix_micros, window frames) expects session-local TIMESTAMP. The
        # session timezone is pinned to UTC, so the cast is value-preserving
        # and matches DuckDB's naive-timestamp view of the same file.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

"""Additional source formats: candle tables as CSV and JSON lines, and a
synthetic quote stream.

The reference's schema posture is fixed/static — every capability has a
concrete response type and nothing is inferred (SURVEY §1.2). These loaders
apply the explicit StructTypes from schemas.py; ``inferSchema`` is never
used (on a 100 TB lake, inference means an extra full scan AND
nondeterministic types).

CSV/JSON scans don't push predicates the way parquet does — treat them as
ingestion formats: load once, normalize, write parquet for the query path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from borsa_spark import schemas


def load_candles_csv(
    spark: SparkSession, path: str, header: bool = True
) -> DataFrame:
    """Candle CSV with the canonical column order (schemas.CANDLES)."""
    return (
        spark.read.schema(schemas.CANDLES)
        .option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )


def load_candles_json(spark: SparkSession, path: str) -> DataFrame:
    """Candle JSON-lines; unknown fields dropped, missing fields null."""
    return spark.read.schema(schemas.CANDLES).json(path)


def rate_quote_stream(
    spark: SparkSession,
    symbols: list[str],
    rows_per_second: int = 100,
    base_price: float = 100.0,
) -> DataFrame:
    """Synthetic live tick stream from Spark's rate source: deterministic
    round-robin symbols, drifting price, monotonic per-symbol timestamps.

    The no-infrastructure stand-in for a websocket/Kafka feed — wire it into
    a Source's ``stream_quotes`` entry to demo/stress the streaming stack
    (`router/stream.py`) without files or brokers.
    """
    from pyspark.sql import functions as F

    n = len(symbols)
    sym = F.element_at(
        F.array(*[F.lit(s) for s in symbols]),
        (F.col("value") % n + 1).cast("int"),
    )
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            sym.alias("symbol"),
            F.col("timestamp").alias("ts"),
            (F.lit(base_price)
             + F.pmod(F.col("value") * 7, F.lit(1000)) / 100.0).alias("price"),
            F.col("value").alias("seq"),
        )
    )

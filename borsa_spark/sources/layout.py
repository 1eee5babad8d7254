"""Storage layout helpers: bucketed/sorted candle tables for shuffle-free
merges.

At 100 TB the dominant cost of the history pipeline is the shuffle that
co-locates each symbol's rows for the first-wins merge window. Writing the
candle store bucketed by ``symbol`` removes it: a bucketed scan already
satisfies the window's clustering requirement (hash(symbol) covers
ClusteredDistribution(symbol, ts) because partitioning on a subset of the
cluster keys co-locates every (symbol, ts) group), so the merge runs
shuffle-free straight off the scan — verified in
tests/test_layout.py by asserting the physical plan has no Exchange.

Bucketing requires the session catalog (`saveAsTable`); partition by a date
column on top (`partition_cols`) for range pruning on ``ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_candles(
    df: DataFrame,
    table: str,
    buckets: int = 256,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist candles bucketed by symbol, sorted by (symbol, ts, seq).

    ``buckets`` sizes the fixed bucket count — pick ~2-4x the planned
    executor count so every core has work without tiny files (256 suits a
    ~100-executor tier; 2048 for a 1000-executor cluster).
    """
    w = df.write.mode(mode).bucketBy(buckets, "symbol").sortBy(
        "symbol", "ts", "seq"
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.format("parquet").saveAsTable(table)


def read_candles_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed candle table (bucket metadata comes from the
    catalog — a plain path read would lose it)."""
    return spark.table(table)

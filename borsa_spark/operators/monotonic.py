"""Per-symbol monotonic timestamp gate — batch analog (SURVEY §2.2 P7).

Semantics match `MonotonicGate::allow`
(borsa/src/router/streaming/filters.rs:41-63): processing updates in arrival
order (``seq``), drop an update whose ts is strictly older than the
running maximum ts seen so far for that symbol; equal timestamps are allowed.
The first update for a symbol always passes.

This is the reference's entire late-data policy. The streaming variant (with
per-session state reset and TTL reaping) lives in streaming.gate; this batch
version replays the same rule over a static table and is the oracle-checkable
form: keep row iff ts >= max(ts) over all prior rows (by seq) of the symbol.

One window over (symbol ordered by seq) — a single shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def monotonic_gate(
    df: DataFrame,
    key: str = "symbol",
    order_col: str = "seq",
) -> DataFrame:
    """Rows that pass the drop-older-keep-equal gate, in original order."""
    w = (
        Window.partitionBy(key)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("__hwm", F.max("ts").over(w))
        .filter(F.col("__hwm").isNull() | (F.col("ts") >= F.col("__hwm")))
        .drop("__hwm")
    )

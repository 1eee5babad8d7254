"""Stream fan-in (T1) + allowed-symbol filter (P6) + candle windowing (T12).

Reference: per-provider sessions push into one mpsc(1024) channel
(borsa/src/router/stream.rs:56); each session drops symbols outside its
allow-set (session.rs:64-69). CandleUpdate bars carry `is_final` set by the
provider on bar close (connector.rs:270-288).

Spark mapping:
- fan-in = `union` of per-source streaming DataFrames (backpressure is
  native to micro-batching — the reference's bounded-channel blocking, T9,
  has no analog to implement);
- allow filter = `filter(symbol isin allowed)` per source BEFORE the union
  so it prunes at the source;
- candle bars = watermark + tumbling window aggregation. In append mode the
  bar emits once, when the watermark passes the window end — that IS
  `is_final=true`. In update mode partial bars stream out with
  `is_final=false` until closed. This is the Spark-native upgrade over the
  reference's provider-computed bars (SURVEY §2.8 note).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from borsa_spark import jvm


def fan_in(
    sources: list[DataFrame], allowed: dict[int, list[str]] | None = None
) -> DataFrame:
    """Union per-provider streams; optional per-source allow-sets (P6).

    ``allowed[i]`` restricts source i to those symbols; omitted indexes pass
    everything (session.rs:64-69 drop-branch).
    """
    pruned = []
    for i, src in enumerate(sources):
        if allowed and i in allowed:
            src = src.filter(F.col("symbol").isin(allowed[i]))
        pruned.append(src)
    return reduce(lambda a, b: a.unionByName(b), pruned)


def option_stream(
    sources: list[DataFrame],
    allowed: dict[int, list[str]] | None = None,
    gate: bool = True,
) -> DataFrame:
    """S11: multiplexed option-update stream (stream.rs:480-521).

    The reference streams OptionUpdate through the SAME generic machinery
    as quotes — fan-in of per-provider sessions, per-session allow-sets,
    and the monotonic gate keyed on the update's ``stream_symbol()``, which
    for options is the UNDERLYING security symbol
    (streaming/mod.rs:44-56). Contract identity (``contract_symbol``)
    rides along as payload; gating is per-underlying event time, exactly
    the reference semantics.

    Input frames must be OPTION_UPDATES-shaped (schemas.py).
    """
    merged = fan_in(sources, allowed)
    if gate:
        from borsa_spark.streaming.gate import streaming_monotonic_gate

        merged = streaming_monotonic_gate(merged, key="symbol")
    return merged


def streaming_exact_dedup(
    updates: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop replays of the same key within the
    watermark horizon (`dropDuplicatesWithinWatermark`).

    This is the compatibility-mode alternative to the monotonic gate for
    sources that re-deliver identical updates (at-least-once feeds). State
    is bounded by the watermark (the gate's state never expires without
    TTL).
    """
    jvm.use_checkpoint_manager(updates.sparkSession)
    return updates.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def candle_stream(
    updates: DataFrame,
    interval_seconds: int,
    watermark: str = "30 seconds",
    final_mode: bool = True,
) -> DataFrame:
    """T12: tick stream -> OHLCV bars at a tumbling interval.

    Emits one row per (symbol, window) with open/high/low/close from
    event-time ordering. ``final_mode=True`` is for outputMode('append'):
    every emitted bar is watermark-closed, so ``is_final`` is true.
    Pass ``final_mode=False`` when running in 'update' mode — partial bars
    re-emit as ticks arrive and Spark does not expose per-row closedness,
    so ``is_final`` is false for every row (a bar's final form is the last
    re-emission; downstream keyed upserts make that the surviving value).

    DOCUMENTED DIVERGENCE from the reference contract
    (borsa-core connector.rs: "is_final reflects when the upstream
    provider has closed the interval"): there, the closing update of a
    watermark-closed bar WOULD carry is_final=true even in update mode.
    Spark's update-mode agg output has no per-row "this emission closed
    the group" signal, so here even the last re-emission of a closed bar
    is is_final=false. Consumers needing the reference semantics should
    run append mode (every row final) or join update-mode bars against
    an append-mode stream of the same aggregation, treating presence in
    the append stream as the closed marker.
    """
    jvm.use_checkpoint_manager(updates.sparkSession)
    ts = F.col("ts")
    win = F.window(ts, f"{interval_seconds} seconds")
    ord_key: Column = (
        F.struct(ts, F.col("seq")) if "seq" in updates.columns else ts
    )
    volume = ["volume"] if "volume" in updates.columns else []
    aggs = [
        F.min_by("price", ord_key).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", ord_key).alias("close"),
        F.count("*").alias("n_ticks"),
        *[F.sum(c).alias(c) for c in volume],
    ]
    return (
        updates.withWatermark("ts", watermark)
        .groupBy(F.col("symbol"), win.alias("window"))
        .agg(*aggs)
        .select(
            "symbol",
            F.col("window.start").alias("ts"),
            F.col("window.end").alias("window_end"),
            "open", "high", "low", "close", "n_ticks",
            *volume,
            # CANDLE_UPDATES parity (connector.rs:270-288): the requested
            # interval travels with each bar; is_final truthfulness depends
            # on the output mode (see final_mode in the docstring).
            F.lit(f"{interval_seconds}s").alias("interval"),
            F.lit(bool(final_mode)).alias("is_final"),
        )
    )


"""Correctness-gate query registry: every implemented operator from
SURVEY.md §2 declared as a (Spark DataFrame fn, DuckDB oracle SQL) pair over
the driver's test tables.

Conventions (driver compares row-count + schema + order-insensitive
value-hash with columns sorted by name):
- every computed column is aliased identically in Spark and SQL;
- timestamps are emitted as BIGINT epoch seconds/micros (cross-engine
  timestamp hashing is repr-sensitive; integers are not);
- double aggregates are rounded (2 decimals for sums of 2-decimal inputs,
  4 for ratios) — per-element values are bit-identical across engines, only
  accumulated rounding differs, which sits ~1e-12 from the rounded value;
- first/last picks use unique ordering keys (events.ts is globally unique;
  composite tie-breaks on event_id are applied wherever ties are possible).

The events table doubles as the market-data stream for domain operators:
symbol := event_type, provider := 'prov' || (user_id % 3) with priority =
user_id % 3, price := value, arrival order := event_id.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from borsa_spark.operators import (
    build_attribution,
    estimate_step_seconds,
    fill_gaps,
    monotonic_gate,
    resample_to_daily,
    resample_to_minutes,
)
from borsa_spark.operators.merge import merge_candles
from borsa_spark.sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Domain operators over the events stream table
# ---------------------------------------------------------------------------

def _event_candles(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        F.col("event_type").alias("symbol"),
        F.concat(F.lit("prov"), (F.col("user_id") % 3).cast("string")).alias(
            "provider"
        ),
        (F.col("user_id") % 3).cast("long").alias("priority"),
        F.col("ts"),
        F.col("value"),
        F.col("event_id").alias("seq"),
    )


_OHLC_ORACLE = """
    WITH e AS (
      SELECT event_type AS symbol, {bucket} AS bucket, ts, value,
             row_number() OVER (PARTITION BY event_type, {bucket} ORDER BY ts ASC)  AS rn_a,
             row_number() OVER (PARTITION BY event_type, {bucket} ORDER BY ts DESC) AS rn_z
      FROM events
    )
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           round(max(value), 2)  AS high,
           round(min(value), 2)  AS low,
           max(CASE WHEN rn_z = 1 THEN value END) AS close,
           count(*)::BIGINT      AS n_bars,
           round(sum(value), 2)  AS sum_value
    FROM e GROUP BY symbol, bucket
"""


def _ohlc(spark: SparkSession, sf: str, trunc: str) -> DataFrame:
    ev = _event_candles(spark, sf)
    ord_key = F.struct(F.col("ts"), F.col("seq"))
    return (
        ev.groupBy("symbol", F.date_trunc(trunc, "ts").alias("bucket"))
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count("*").alias("n_bars"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "symbol",
            F.unix_timestamp("bucket").alias("bucket_ts"),
            "open", "high", "low", "close", "n_bars", "sum_value",
        )
    )


@query("a2_ohlc_daily", _OHLC_ORACLE.format(bucket="date_trunc('day', ts)"))
def a2_ohlc_daily(spark, sf):
    """A1/A2: daily OHLCV bucket aggregation over the events feed."""
    return _ohlc(spark, sf, "day")


@query("a4_ohlc_hourly", _OHLC_ORACLE.format(bucket="date_trunc('hour', ts)"))
def a4_ohlc_hourly(spark, sf):
    """A1/A4: minute-family (60m) bucket aggregation."""
    return _ohlc(spark, sf, "hour")


@query("a3_ohlc_weekly", _OHLC_ORACLE.format(bucket="date_trunc('week', ts)"))
def a3_ohlc_weekly(spark, sf):
    """A1/A3: Monday-start weekly buckets (both engines truncate to Monday)."""
    return _ohlc(spark, sf, "week")


@query(
    "t12_candles_vs_batch",
    """
    WITH wm AS (
      SELECT max(ts) - INTERVAL 60 SECOND AS w FROM events),
    e AS (
      SELECT event_type AS symbol, date_trunc('hour', ts) AS bucket,
             ts, value, event_id
      FROM events),
    r AS (
      SELECT symbol, bucket, value,
             row_number() OVER (PARTITION BY symbol, bucket
                                ORDER BY ts ASC, event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY symbol, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM e)
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rn_z = 1 THEN value END), 2) AS close,
           count(*)::BIGINT AS n_ticks
    FROM r
    WHERE bucket + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    GROUP BY symbol, bucket
    """,
)
def t12_candles_vs_batch(spark, sf):
    """T12: is_final <=> watermark-closed. Drains `candle_stream` (hourly
    bars, 60 s watermark) over the events file-stream with an availableNow
    trigger in append mode, so every emitted bar is final; the oracle is
    the equivalent batch aggregation restricted to buckets whose window end
    the final watermark (max event time - 60 s) passed. Closes the loop on
    the reference's provider-final bars (connector.rs:270-288) against
    Spark's watermark semantics."""
    import shutil
    import tempfile
    import uuid

    ev = load_table(spark, sf, "events").select(
        F.col("event_type").alias("symbol"),
        "ts",
        F.col("value").alias("price"),
        F.col("event_id").alias("seq"),
    )
    work = tempfile.mkdtemp(prefix="sp_t12_")
    name = f"t12_bars_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{work}/src"
        ev.write.parquet(src)  # micros-normalized copy for the file stream
        schema = spark.read.parquet(src).schema
        from borsa_spark.streaming import candle_stream

        stream = spark.readStream.schema(schema).parquet(src)
        bars = candle_stream(stream, interval_seconds=3600,
                             watermark="60 seconds")
        q = (
            bars.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drained = q.awaitTermination(300)
        if not drained:
            # Fail LOUDLY: tearing down the source/checkpoint under a
            # still-running query would surface as a bogus value mismatch
            # (partial memory table) instead of the real timeout.
            q.stop()
            raise TimeoutError(
                "t12 availableNow drain did not finish within 300 s"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name).select(
        "symbol",
        F.unix_timestamp("ts").alias("bucket_ts"),
        F.round("open", 2).alias("open"),
        F.round("high", 2).alias("high"),
        F.round("low", 2).alias("low"),
        F.round("close", 2).alias("close"),
        F.col("n_ticks").cast("long").alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# A5: timezone / fixed-offset aware resampling (resample.rs:183-320)
# ---------------------------------------------------------------------------

#: Events span 2024-01-01..01-30 (no DST). Shifting ts by +307 days lands the
#: data on 2024-11-03..12-02, which crosses the Nov-3 US/Cuba fall-back.
#: America/Havana's transition is 01:00 -> 00:00, so its local MIDNIGHT is
#: ambiguous on that date — exercising the reference's Ambiguous -> dt1
#: (earlier instant) rule (resample.rs:216-226). Spark's to_utc_timestamp
#: (java.time) picks the earlier offset natively; DuckDB/ICU picks the LATER,
#: so the oracle encodes the rule explicitly: if (chosen - 1h) maps to the
#: same local midnight, the earlier instant wins.
_A5_SHIFT_DAYS = 307

_A5_TZ_CASE = (
    "CASE WHEN event_type IN ('click','error') THEN 'America/Havana' "
    "ELSE 'America/New_York' END"
)

_A5_TZ_ORACLE = f"""
    WITH e AS (
      SELECT event_type AS symbol,
             ts + INTERVAL {_A5_SHIFT_DAYS} DAY AS ts,
             value, user_id, event_id,
             {_A5_TZ_CASE} AS tz
      FROM events),
    b AS (
      SELECT *,
             date_trunc('day', timezone(tz, timezone('UTC', ts))) AS local_mid,
             timezone('UTC', timezone(tz,
               date_trunc('day', timezone(tz, timezone('UTC', ts))))) AS d
      FROM e),
    amb AS (
      SELECT *, CASE WHEN timezone(tz, timezone('UTC', d - INTERVAL 1 HOUR))
                          = local_mid
                     THEN d - INTERVAL 1 HOUR ELSE d END AS bucket
      FROM b),
    r AS (
      SELECT symbol, bucket, value, user_id,
             row_number() OVER (PARTITION BY symbol, bucket
                                ORDER BY ts ASC, event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY symbol, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM amb)
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rn_z = 1 THEN value END), 2) AS close,
           sum(user_id)::BIGINT AS volume
    FROM r GROUP BY symbol, bucket
"""


def _a5_candles(spark: SparkSession, sf: str, tz_expr, offset_expr) -> DataFrame:
    """Candle-shaped frame from events with series-level tz/offset metadata
    (constant per symbol, as HistoryMeta is constant per series)."""
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    return ev.select(
        F.lit("prov").alias("provider"),
        F.col("event_type").alias("symbol"),
        F.lit("equity").alias("kind"),
        (F.col("ts") + F.expr(f"INTERVAL {_A5_SHIFT_DAYS} DAYS")).alias("ts"),
        v.alias("open"), v.alias("high"), v.alias("low"), v.alias("close"),
        F.lit(None).cast("decimal(38,9)").alias("close_unadj"),
        F.col("user_id").cast("long").alias("volume"),
        F.lit("USD").alias("currency"),
        F.lit(True).alias("adjusted"),
        tz_expr.alias("timezone"),
        offset_expr.alias("utc_offset_seconds"),
        F.col("event_id").alias("seq"),
    )


def _a5_project(out: DataFrame) -> DataFrame:
    return out.select(
        "symbol",
        F.unix_timestamp("ts").alias("bucket_ts"),
        F.round(F.col("open").cast("double"), 2).alias("open"),
        F.round(F.col("high").cast("double"), 2).alias("high"),
        F.round(F.col("low").cast("double"), 2).alias("low"),
        F.round(F.col("close").cast("double"), 2).alias("close"),
        "volume",
    )


@query(
    "a7_volume_saturation",
    """
    WITH c AS (
      SELECT event_type AS symbol, date_trunc('day', ts) AS bucket,
             4611686018427387904 + user_id AS volume
      FROM events)
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           least(sum(volume::HUGEINT),
                 9223372036854775807::HUGEINT)::BIGINT AS volume
    FROM c GROUP BY symbol, bucket
    """,
)
def a7_volume_saturation(spark, sf):
    """A7: saturating volume sums through the REAL resampler — every
    symbol-day sums multiple ~2^62 volumes, so the u128-style accumulator
    (DECIMAL(38,0)) overflows int64 and must clamp at LongType max
    (resample.rs:176-179). DuckDB's HUGEINT sum provides the independent
    clamp check."""
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    base = ev.select(
        F.lit("prov").alias("provider"),
        F.col("event_type").alias("symbol"),
        F.lit("equity").alias("kind"),
        "ts",
        v.alias("open"), v.alias("high"), v.alias("low"), v.alias("close"),
        F.lit(None).cast("decimal(38,9)").alias("close_unadj"),
        (F.lit(4611686018427387904) + F.col("user_id")).alias("volume"),
        F.lit("USD").alias("currency"),
        F.lit(True).alias("adjusted"),
        F.lit(None).cast("string").alias("timezone"),
        F.lit(None).cast("long").alias("utc_offset_seconds"),
        F.col("event_id").alias("seq"),
    )
    out = resample_to_daily(base)
    return out.select(
        "symbol",
        F.unix_timestamp("ts").alias("bucket_ts"),
        "volume",
    )


@query(
    "a10_rollup_cascade",
    """
    WITH e AS (
      SELECT event_type AS symbol, date_trunc('day', ts) AS bucket, ts, value,
             user_id, event_id,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts ASC, event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events)
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rn_z = 1 THEN value END), 2) AS close,
           sum(user_id)::BIGINT AS volume
    FROM e GROUP BY symbol, bucket
    """,
)
def a10_rollup_cascade(spark, sf):
    """Tiered rollup correctness: hourly bars CASCADED to daily
    (resample applied to the previous tier's bars, not raw rows) must
    equal the direct daily aggregation — the algebraic property that lets
    a continuous-aggregate store serve coarse intervals from fine tiers.
    The oracle computes daily DIRECTLY from raw events; any
    non-composability in open/close ordering, volume summing, or bucket
    math breaks the hash."""
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    base = ev.select(
        F.lit("prov").alias("provider"),
        F.col("event_type").alias("symbol"),
        F.lit("equity").alias("kind"),
        "ts",
        v.alias("open"), v.alias("high"), v.alias("low"), v.alias("close"),
        F.lit(None).cast("decimal(38,9)").alias("close_unadj"),
        F.col("user_id").cast("long").alias("volume"),
        F.lit("USD").alias("currency"),
        F.lit(True).alias("adjusted"),
        F.lit(None).cast("string").alias("timezone"),
        F.lit(None).cast("long").alias("utc_offset_seconds"),
        F.col("event_id").alias("seq"),
    )
    hourly = resample_to_minutes(base, 60)
    daily = resample_to_daily(hourly)
    return daily.select(
        "symbol",
        F.unix_timestamp("ts").alias("bucket_ts"),
        F.round(F.col("open").cast("double"), 2).alias("open"),
        F.round(F.col("high").cast("double"), 2).alias("high"),
        F.round(F.col("low").cast("double"), 2).alias("low"),
        F.round(F.col("close").cast("double"), 2).alias("close"),
        "volume",
    )


@query(
    "a11_gap_fill",
    """
    WITH b AS (
      SELECT event_type AS symbol, date_trunc('hour', ts) AS bucket, ts,
             value, event_id,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events),
    bars AS (
      SELECT symbol, bucket,
             round(max(CASE WHEN rn_z = 1 THEN value END), 2) AS close,
             count(*)::BIGINT AS volume
      FROM b GROUP BY 1, 2),
    spine AS (
      SELECT symbol, unnest(generate_series(min(bucket), max(bucket),
                                            INTERVAL 1 HOUR)) AS bucket
      FROM bars GROUP BY symbol),
    filled AS (
      SELECT s.symbol, s.bucket, r.close, r.volume,
             r.close IS NULL AS is_synthetic
      FROM spine s LEFT JOIN bars r USING (symbol, bucket))
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           coalesce(close, last_value(close IGNORE NULLS) OVER w) AS close,
           coalesce(volume, 0)::BIGINT AS volume,
           is_synthetic
    FROM filled
    WINDOW w AS (PARTITION BY symbol ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def a11_gap_fill(spark, sf):
    """Gap-fill: hourly bars expanded to a continuous per-symbol spine
    (sequence + explode, no driver calendar), missing buckets carry the
    last close forward with volume 0 and is_synthetic=true — the
    continuous-series transform sequence models require. One shuffle
    family: spine build, left join, and forward-fill all key on symbol."""
    ev = load_table(spark, sf, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        ev.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("hour", "ts").alias("ts"),
        )
        .agg(
            F.round(F.max_by("value", ord_key), 2).alias("close"),
            F.count("*").alias("volume"),
        )
        .select(
            F.lit("prov").alias("provider"), "symbol", "ts",
            F.col("close").alias("open"), F.col("close").alias("high"),
            F.col("close").alias("low"), "close", "volume",
        )
    )
    out = fill_gaps(bars, 3600, keys=["provider", "symbol"])
    return out.select(
        "symbol",
        F.unix_timestamp("ts").alias("bucket_ts"),
        F.round(F.col("close").cast("double"), 2).alias("close"),
        "volume",
        "is_synthetic",
    )


@query("a5_tz_daily", _A5_TZ_ORACLE)
def a5_tz_daily(spark, sf):
    """A5: IANA-timezone daily buckets across a DST fall-back, including the
    ambiguous-local-midnight -> earlier-offset rule (resample.rs:212-243;
    Havana's 01:00->00:00 transition makes Nov 3's midnight ambiguous)."""
    tz = F.expr(_A5_TZ_CASE)
    base = _a5_candles(spark, sf, tz, F.lit(None).cast("long"))
    return _a5_project(resample_to_daily(base))


#: Per-symbol fixed offsets; 19800 (+05:30) exercises a half-hour offset.
_A5_OFFSET_CASE = (
    "CASE event_type WHEN 'click' THEN -18000 WHEN 'error' THEN 19800 "
    "WHEN 'purchase' THEN 0 WHEN 'signup' THEN 32400 ELSE -14400 END"
)

_A5_OFFSET_ORACLE = f"""
    WITH e AS (
      SELECT event_type AS symbol,
             ts + INTERVAL {_A5_SHIFT_DAYS} DAY AS ts,
             value, user_id, event_id,
             ({_A5_OFFSET_CASE})::BIGINT AS off
      FROM events),
    b AS (
      SELECT *,
             floor((floor(epoch(ts))::BIGINT + off) / 86400)::BIGINT * 86400
               - off AS bucket_ts
      FROM e),
    r AS (
      SELECT symbol, bucket_ts, value, user_id,
             row_number() OVER (PARTITION BY symbol, bucket_ts
                                ORDER BY ts ASC, event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY symbol, bucket_ts
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM b)
    SELECT symbol, bucket_ts,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rn_z = 1 THEN value END), 2) AS close,
           sum(user_id)::BIGINT AS volume
    FROM r GROUP BY symbol, bucket_ts
"""


@query("a5_offset_daily", _A5_OFFSET_ORACLE)
def a5_offset_daily(spark, sf):
    """A5: fixed-utc-offset daily buckets — shift, floor, shift back
    (resample.rs:183-188), incl. a +05:30 half-hour offset series."""
    base = _a5_candles(
        spark, sf, F.lit(None).cast("string"), F.expr(_A5_OFFSET_CASE).cast("long")
    )
    return _a5_project(resample_to_daily(base))


_MERGE_ORACLE_BODY = """
      SELECT event_type AS symbol,
             date_trunc('minute', ts) AS bucket,
             (user_id % 3)::BIGINT AS provider_rank,
             value, event_id,
             row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts)
                                ORDER BY (user_id % 3) ASC, event_id ASC) AS rn
      FROM events
"""

_MERGE_ORACLE = f"""
    WITH ranked AS ({_MERGE_ORACLE_BODY})
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts, provider_rank,
           value, event_id
    FROM ranked WHERE rn = 1
"""


def _minute_merged(spark: SparkSession, sf: str) -> DataFrame:
    """Minute-bucketed first-wins merge via the real merge operator."""
    ev = _event_candles(spark, sf)
    candles = ev.select(
        "symbol",
        "provider",
        "priority",
        F.date_trunc("minute", "ts").alias("ts"),
        "value",
        F.col("seq"),
    )
    return merge_candles(
        candles.withColumn("close_unadj", F.lit(None).cast("decimal(38,9)"))
    )


@query("j1_merge_first_wins", _MERGE_ORACLE)
def j1_merge_first_wins(spark, sf):
    """J1/W2: priority-keyed union-merge — first (highest-priority) provider
    wins per (symbol, minute); within a provider, first by arrival (seq).
    Implemented with the engine's merge_candles operator (explicit
    row_number over (priority, seq) — deterministic under parallelism)."""
    m = _minute_merged(spark, sf)
    return m.select(
        "symbol",
        F.unix_timestamp("ts").alias("bucket_ts"),
        F.col("priority").alias("provider_rank"),
        "value",
        F.col("seq").alias("event_id"),
    )


@query(
    "a9_attribution_spans",
    f"""
    WITH ranked AS ({_MERGE_ORACLE_BODY}),
    merged AS (SELECT symbol, bucket, provider_rank FROM ranked WHERE rn = 1),
    chg AS (
      SELECT symbol, bucket, provider_rank,
             CASE WHEN lag(provider_rank) OVER (PARTITION BY symbol ORDER BY bucket)
                       IS DISTINCT FROM provider_rank THEN 1 ELSE 0 END AS c
      FROM merged),
    runs AS (
      SELECT symbol, bucket, provider_rank,
             sum(c) OVER (PARTITION BY symbol ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS run_idx
      FROM chg)
    SELECT symbol, run_idx::BIGINT AS run_idx, provider_rank,
           epoch(min(bucket))::BIGINT AS span_start,
           epoch(max(bucket))::BIGINT AS span_end,
           count(*)::BIGINT AS n_candles
    FROM runs GROUP BY symbol, run_idx, provider_rank
    """,
)
def a9_attribution_spans(spark, sf):
    """A9/W4: provider span RLE over the merged series, via the engine's
    build_attribution operator (lag -> change-flag -> run-id -> groupBy)."""
    m = _minute_merged(spark, sf).withColumn(
        "provider_rank", F.col("priority")
    )
    attr = build_attribution(
        m.select("symbol", "ts", F.col("provider_rank").alias("provider"))
    )
    return attr.select(
        "symbol",
        F.col("run_idx").cast("long").alias("run_idx"),
        F.col("provider").alias("provider_rank"),
        F.unix_timestamp("span_start").alias("span_start"),
        F.unix_timestamp("span_end").alias("span_end"),
        "n_candles",
    )


@query(
    "p7_monotonic_gate",
    """
    WITH arr AS (
      SELECT event_id, user_id, ts,
             (event_id * 2654435761) % 4294967296 AS arrival
      FROM events),
    g AS (
      SELECT event_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY arrival
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM arr)
    SELECT event_id FROM g WHERE hwm IS NULL OR ts >= hwm
    """,
)
def p7_monotonic_gate(spark, sf):
    """P7/T8: drop-older-keep-equal monotonic gate (batch analog). Arrival
    order is a deterministic Knuth-hash permutation of event_id so the feed
    is genuinely out-of-order (the raw table is ts-sorted)."""
    ev = load_table(spark, sf, "events").withColumn(
        "arrival", (F.col("event_id") * 2654435761) % 4294967296
    )
    return monotonic_gate(ev, key="user_id", order_col="arrival").select(
        "event_id"
    )


@query(
    "o6_interval_infer",
    """
    WITH td AS (SELECT DISTINCT event_type, ts FROM events),
    d0 AS (
      SELECT event_type,
             floor(epoch(ts))::BIGINT
               - lag(floor(epoch(ts))::BIGINT)
                 OVER (PARTITION BY event_type ORDER BY ts) AS delta
      FROM td),
    pos AS (SELECT event_type, delta FROM d0 WHERE delta > 0),
    counts AS (SELECT event_type, delta, count(*) AS n FROM pos GROUP BY 1, 2),
    best AS (SELECT event_type, max(n) AS maxn FROM counts GROUP BY 1),
    cands AS (
      SELECT c.event_type, count(*) AS n_cands, min(c.delta) AS mode_delta
      FROM counts c JOIN best b ON c.event_type = b.event_type AND c.n = b.maxn
      GROUP BY 1),
    med AS (
      SELECT event_type, delta AS median_delta FROM (
        SELECT event_type, delta,
               row_number() OVER (PARTITION BY event_type ORDER BY delta) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM pos) t
      WHERE rn = cast(floor((n + 1) / 2.0) AS BIGINT))
    SELECT c.event_type AS symbol,
           (CASE WHEN c.n_cands = 1 THEN c.mode_delta
                 ELSE m.median_delta END)::BIGINT AS step_seconds
    FROM cands c JOIN med m ON c.event_type = m.event_type
    """,
)
def o6_interval_infer(spark, sf):
    """O6: modal / lower-median step inference via estimate_step_seconds."""
    ev = _event_candles(spark, sf)
    return estimate_step_seconds(ev, key="symbol")


@query(
    "s3_latest_quote",
    """
    SELECT user_id, event_id, value AS price
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def s3_latest_quote(spark, sf):
    """S3: point-in-time quote lookup = latest row per key (window rank)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.col("value").alias("price"))
    )


@query(
    "s11_option_latest",
    """
    WITH o AS (
      SELECT event_type AS symbol,
             CASE WHEN user_id % 2 = 0 THEN 'CALL' ELSE 'PUT' END AS right_,
             ((user_id % 5) * 10 + 100)::BIGINT AS strike,
             event_type || '-' || ((user_id % 5) * 10 + 100)::VARCHAR || '-' ||
               CASE WHEN user_id % 2 = 0 THEN 'C' ELSE 'P' END
               AS contract_symbol,
             ts, value, event_id
      FROM events),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY symbol, contract_symbol
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM o)
    SELECT symbol, contract_symbol, right_, strike,
           epoch(date_trunc('second', ts))::BIGINT AS ts_epoch,
           round(value, 2)        AS price,
           round(value * 0.99, 2) AS bid,
           round(value * 1.01, 2) AS ask
    FROM r WHERE rn = 1
    """,
)
def s11_option_latest(spark, sf):
    """S11 batch analog: latest option update per (underlying, contract) —
    the option-chain snapshot a drained OptionUpdate stream converges to
    (connector.rs:235-249; contract synthesis mirrors the fixture
    convention)."""
    ev = load_table(spark, sf, "events")
    strike = (F.col("user_id") % 5) * 10 + 100
    right = F.when(F.col("user_id") % 2 == 0, "CALL").otherwise("PUT")
    o = ev.select(
        F.col("event_type").alias("symbol"),
        right.alias("right_"),
        strike.cast("long").alias("strike"),
        F.concat_ws(
            "-",
            F.col("event_type"),
            strike.cast("string"),
            F.when(F.col("user_id") % 2 == 0, "C").otherwise("P"),
        ).alias("contract_symbol"),
        "ts", "value", "event_id",
    )
    w = Window.partitionBy("symbol", "contract_symbol").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "symbol", "contract_symbol", "right_", "strike",
            F.unix_timestamp("ts").alias("ts_epoch"),
            F.round("value", 2).alias("price"),
            F.round(F.col("value") * 0.99, 2).alias("bid"),
            F.round(F.col("value") * 1.01, 2).alias("ask"),
        )
    )


@query(
    "s14_json_props_extract",
    """
    SELECT event_type,
           sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           round(avg(json_extract(props, '$.k')::BIGINT), 4) AS avg_k,
           count(*) FILTER (WHERE json_extract(props, '$.k')::BIGINT >= 50)
             ::BIGINT AS n_high
    FROM events GROUP BY event_type
    """,
)
def s14_json_props_extract(spark, sf):
    """Semi-structured payload extraction: parse the events `props` JSON
    column JVM-side (`get_json_object`, no Python) and aggregate the
    extracted field — the schema-on-read path a provider's raw payloads
    take before they become typed tables."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count(F.when(k >= 50, 1)).alias("n_high"),
    )


@query(
    "p5_adjusted_preference",
    """
    WITH f AS (
      SELECT event_id, event_type,
             (user_id % 2 = 0) AS adjusted,
             max(user_id % 2 = 0) OVER (PARTITION BY event_type) AS any_adj
      FROM events)
    SELECT event_id FROM f WHERE adjusted = any_adj
    """,
)
def p5_adjusted_preference(spark, sf):
    """P5: prefer-adjusted filter — if any contributing source is adjusted,
    keep only adjusted rows (history.rs:188-203 semantics on a synthetic
    adjusted flag user_id%2=0)."""
    ev = load_table(spark, sf, "events").withColumn(
        "adjusted", F.col("user_id") % 2 == 0
    )
    w = Window.partitionBy("event_type")
    return (
        ev.withColumn("any_adj", F.max("adjusted").over(w))
        .filter(F.col("adjusted") == F.col("any_adj"))
        .select("event_id")
    )


@query(
    "s12_download_summary",
    """
    SELECT event_type AS symbol,
           count(*)::BIGINT AS n_bars,
           floor(epoch(min(ts)))::BIGINT AS first_ts,
           floor(epoch(max(ts)))::BIGINT AS last_ts,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def s12_download_summary(spark, sf):
    """S12: bulk multi-symbol download -> per-symbol aggregate report."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count("*").alias("n_bars"),
        F.unix_timestamp(F.min("ts")).alias("first_ts"),
        F.unix_timestamp(F.max("ts")).alias("last_ts"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "a6_actions_dedup",
    """
    SELECT DISTINCT event_type AS symbol,
           date_trunc('minute', ts) AS action_min,
           CASE user_id % 3 WHEN 0 THEN 'dividend' WHEN 1 THEN 'split'
                            ELSE 'capital_gain' END AS kind,
           CASE WHEN user_id % 3 = 1 THEN NULL
                ELSE round(value, 2) END AS amount,
           CASE WHEN user_id % 3 = 1 THEN NULL ELSE 'USD' END AS currency,
           CASE WHEN user_id % 3 = 1 THEN (user_id % 5 + 1)::INT
                ELSE NULL END AS numerator,
           CASE WHEN user_id % 3 = 1 THEN 1 ELSE NULL END AS denominator
    FROM events
    """,
)
def a6_actions_dedup(spark, sf):
    """A6: corporate-action dedup by full identity through the real
    dedup_actions operator (merge.rs:264-279); duplicate (ts, kind, payload)
    rows from different providers collapse to one."""
    from borsa_spark.operators import dedup_actions

    ev = load_table(spark, sf, "events")
    is_split = F.col("user_id") % 3 == 1
    actions = ev.select(
        F.concat(F.lit("prov"), (F.col("user_id") % 2).cast("string")).alias(
            "provider"
        ),
        F.col("event_type").alias("symbol"),
        F.date_trunc("minute", "ts").alias("ts"),
        F.when(F.col("user_id") % 3 == 0, "dividend")
        .when(is_split, "split")
        .otherwise("capital_gain")
        .alias("kind"),
        F.when(is_split, None).otherwise(F.round("value", 2)).alias("amount"),
        F.when(is_split, None).otherwise(F.lit("USD")).alias("currency"),
        F.when(is_split, (F.col("user_id") % 5 + 1).cast("int")).alias(
            "numerator"
        ),
        F.when(is_split, F.lit(1)).alias("denominator"),
    )
    out = dedup_actions(actions)
    # provider is an arbitrary survivor under identity dedup — project the
    # identity columns so the comparison is deterministic
    return out.select(
        "symbol", F.col("ts").alias("action_min"), "kind", "amount",
        "currency", "numerator", "denominator",
    ).distinct()


@query(
    "a8_quotes_batch_failures",
    """
    WITH requested AS (
      SELECT unnest(['click','view','purchase','signup','error',
                     'GHOST1','GHOST2']) AS symbol),
    best AS (
      SELECT event_type AS symbol, round(value, 2) AS price FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY (user_id % 3) ASC, ts DESC,
                                           event_id DESC) AS rn
        FROM events) t WHERE rn = 1)
    SELECT r.symbol,
           b.price,
           (b.symbol IS NULL) AS failed
    FROM requested r LEFT JOIN best b ON r.symbol = b.symbol
    """,
)
def a8_quotes_batch_failures(spark, sf):
    """A8 via the real quotes() router: batch lookup over a 3-provider
    catalog; unknown symbols surface in the failures list, found
    symbols carry the min-priority provider's latest price."""
    from pyspark.sql import Window as W

    from borsa_spark.router import quotes as quotes_router
    from borsa_spark.sources.provider import Catalog, fixture_source

    ev = load_table(spark, sf, "events")
    cat = Catalog()
    for p in range(3):
        w = W.partitionBy("event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        tbl = (
            ev.filter(F.col("user_id") % 3 == p)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                F.lit(f"prov{p}").alias("provider"),
                F.col("event_type").alias("symbol"),
                F.lit("EQUITY").alias("kind"),
                F.lit(None).cast("string").alias("shortname"),
                F.col("value").cast("decimal(38,9)").alias("price"),
                F.lit(None).cast("decimal(38,9)").alias("previous_close"),
                F.lit("USD").alias("currency"),
                F.lit(None).cast("string").alias("exchange"),
                F.lit(None).cast("string").alias("market_state"),
                F.lit(None).cast("long").alias("day_volume"),
            )
        )
        cat.register(fixture_source(f"prov{p}", quote=tbl))
    requested = ["click", "view", "purchase", "signup", "error",
                 "GHOST1", "GHOST2"]
    best, failures = quotes_router(spark, cat, requested)
    ok = best.select(
        "symbol",
        F.round(F.col("price").cast("double"), 2).alias("price"),
        F.lit(False).alias("failed"),
    )
    bad = failures.select(
        "symbol",
        F.lit(None).cast("double").alias("price"),
        F.lit(True).alias("failed"),
    )
    return ok.unionByName(bad)


@query(
    "p4_exchange_enforcement",
    """
    WITH q AS (
      SELECT event_type AS symbol, 'prov' || (user_id % 3) AS provider,
             (user_id % 3)::BIGINT AS priority,
             CASE WHEN user_id % 4 = 3 THEN NULL
                  ELSE 'EX' || (user_id % 4) END AS exchange,
             round(value, 2) AS price, event_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type, user_id % 3
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t WHERE rn = 1),
    surviving AS (
      SELECT * FROM q WHERE exchange IS NULL OR exchange = 'EX1'),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY symbol
                                   ORDER BY priority ASC, event_id DESC) AS rn
      FROM surviving)
    SELECT symbol, provider, exchange, price FROM best WHERE rn = 1
    """,
)
def p4_exchange_enforcement(spark, sf):
    """P4 (core.rs:276-296): requesting exchange EX1 — providers whose quote
    reports a different exchange are treated as NotFound (drop), quotes with
    no exchange pass through; the best surviving provider wins."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf, "events")
    w = W.partitionBy("event_type", F.col("user_id") % 3).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    q = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("event_type").alias("symbol"),
            F.concat(F.lit("prov"), (F.col("user_id") % 3).cast("string"))
            .alias("provider"),
            (F.col("user_id") % 3).cast("long").alias("priority"),
            F.when(
                F.col("user_id") % 4 == 3, F.lit(None)
            ).otherwise(
                F.concat(F.lit("EX"), (F.col("user_id") % 4).cast("string"))
            ).alias("exchange"),
            F.round("value", 2).alias("price"),
            F.col("event_id"),
        )
    )
    surviving = q.filter(
        F.col("exchange").isNull() | (F.col("exchange") == "EX1")
    )
    wbest = W.partitionBy("symbol").orderBy(
        F.col("priority").asc(), F.col("event_id").desc()
    )
    return (
        surviving.withColumn("__rn", F.row_number().over(wbest))
        .filter(F.col("__rn") == 1)
        .select("symbol", "provider", "exchange", "price")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis (functions.text)
# ---------------------------------------------------------------------------

from borsa_spark.functions import dedup as _dd  # noqa: E402
from borsa_spark.functions import packing as _pk  # noqa: E402
from borsa_spark.functions import text as _tx  # noqa: E402


@query(
    "f1_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS canonical_id,
           count(*)::BIGINT AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def f1_exact_dedup(spark, sf):
    """Exact dedup: hash-groupBy on md5(text), canonical = min id."""
    return _dd.exact_dedup_map(load_table(spark, sf, "documents"))


@query(
    "f2_text_stats",
    f"""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           len(regexp_extract_all(lower(text), '{_tx.TOKEN_REGEX}'))::BIGINT
             AS n_regex_tokens,
           len(regexp_extract_all(text, '{_tx.PUNCT_CLASS}'))::BIGINT AS n_punct,
           round(len(list_distinct(string_split(text, ' ')))
                 * 1.0 / len(string_split(text, ' ')), 4) AS distinct_ratio,
           round(least(1.0, len(string_split(text, ' ')) / 50.0)
                 * (len(list_distinct(string_split(text, ' ')))
                    * 1.0 / len(string_split(text, ' '))), 4) AS quality_score
    FROM documents
    """,
)
def f2_text_stats(spark, sf):
    """Token counting (whitespace + BPE-ish regex), punctuation ratio,
    lexical diversity, quality score — all JVM-side expressions."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        _tx.token_count(t).cast("long").alias("n_tokens"),
        _tx.regex_token_count(t).cast("long").alias("n_regex_tokens"),
        _tx.punct_count(t).cast("long").alias("n_punct"),
        F.round(_tx.distinct_token_ratio(t), 4).alias("distinct_ratio"),
        _tx.quality_score(t).alias("quality_score"),
    )


@query(
    "f3_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
    FROM documents
    """,
)
def f3_fingerprint(spark, sf):
    """Document fingerprinting: md5 of normalized text."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", _tx.fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "f4_lang_guess",
    f"""
    SELECT doc_id, {_tx.sql_lang_guess('text')} AS lang_guess FROM documents
    """,
)
def f4_lang_guess(spark, sf):
    """Language-ID heuristic: argmax of per-language stopword hits."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", _tx.lang_guess(F.col("text")).alias("lang_guess"))


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup (functions.dedup)
# ---------------------------------------------------------------------------

_SH_CTE = _dd.sql_shingles(3)


def _lsh_verified_pairs(docs):
    """Near-dup pairs the PRODUCTION way: banded MinHash candidates +
    exact-Jaccard verification at threshold 0.5 (f7's full pipeline,
    in-row signatures and persisted intermediates included) — never the
    full shingle self-join. Used by every clustering consumer (f17, f24,
    f33, f36); the oracles still compute the exact full-join pairs, which
    this matches because at these thresholds and this corpus every true
    pair is an LSH candidate (f7's own oracle pins that equivalence each
    round). Cache lifetime is harness-owned (clearCache per query).
    max_bucket_size=None is EXPLICIT (round-10 default flip): these are
    the exhaustive-baseline queries whose oracles replay uncapped
    full-join pairs — the crawl-safe capped default lives in the
    library, not here."""
    return _dd.minhash_dedup_pairs(docs, n=3, threshold=0.5,
                                   max_bucket_size=None)


_JACCARD_SQL = f"""
    WITH sh AS ({_SH_CTE}),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


@query(
    "f51_dup_provenance",
    f"""
    WITH pairs AS ({_JACCARD_SQL}),
    tagged AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b)
    SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
    FROM tagged GROUP BY source_a, source_b
    """,
)
def f51_dup_provenance(spark, sf):
    """Duplication provenance: which SOURCE PAIRS the near-dup mass sits
    between — the diagnostic that turns a pair list into an actionable
    crawl decision (two mirrors of the same site, a scraper re-ingesting
    another source's output). Pair generation is the LSH-bounded f7 path;
    the source tag join broadcasts the (doc_id, source) projection; the
    pair key is canonically ordered (least/greatest) so direction never
    splits a count."""
    docs = load_table(spark, sf, "documents")
    pairs = _lsh_verified_pairs(docs)
    src = F.broadcast(docs.select("doc_id", "source"))
    tagged = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


@query("f5_ngram_jaccard_pairs", _JACCARD_SQL)
def f5_ngram_jaccard_pairs(spark, sf):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5). This is the
    deliberate quadratic baseline that verifies the LSH paths, hence the
    explicit full-self-join opt-in; corpus-scale callers get f7."""
    sh = _dd.shingles(load_table(spark, sf, "documents"), 3)
    return _dd.jaccard_pairs(sh, 0.5, allow_full_self_join=True)


_DUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE sh AS ({_SH_CTE}),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src)
    SELECT id AS doc_id, min(comp)::BIGINT AS component
    FROM cc GROUP BY id
"""


@query("f17_dup_clusters", _DUP_CLUSTERS_SQL)
def f17_dup_clusters(spark, sf):
    """Near-dup clustering: connected components over the exact-Jaccard
    pair graph (component = min doc_id). The Spark side is hash-min label
    propagation to a fixpoint (`dedup.dup_clusters`); the oracle is a
    DuckDB recursive CTE computing min-reachable-id per node — two utterly
    different algorithms, same fixpoint, hash-compared. Pairs come from the
    LSH-bounded path and components from star contraction, so both stages
    are the 100 TB shapes, verified against the exact-SQL oracle."""
    docs = load_table(spark, sf, "documents")
    pairs = _lsh_verified_pairs(docs)
    nodes = docs.select(F.col("doc_id").alias("id"))
    out = _dd.dup_clusters(pairs, nodes)
    return out.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


@query(
    "f18_corpus_split",
    """
    WITH b AS (
      SELECT doc_id,
             ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::BIGINT
               % 10000 AS bucket
      FROM documents)
    SELECT doc_id,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def f18_corpus_split(spark, sf):
    """Deterministic train/valid/test split (90/5/5): portable md5-bucket
    assignment — stable across runs, partitionings, and engines; no rand(),
    no row-order dependence. The split a 100 TB pipeline can re-derive
    from doc_id alone without a membership table."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id", _tx.split_assign(F.col("doc_id")).alias("split")
    )


@query(
    "f19_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, lower(t.token) AS token
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE len(t.token) >= 2),
    tf AS (
      SELECT doc_id, token, count(*)::BIGINT AS tf
      FROM toks GROUP BY 1, 2),
    df AS (
      SELECT token, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ((SELECT n_docs FROM n) * 1.0 / df.df), 4)
               AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ((SELECT n_docs FROM n) * 1.0
                                                  / df.df) DESC,
                                         tf.token ASC) AS rnk
      FROM tf JOIN df USING (token))
    SELECT doc_id, token, score, rnk
    FROM scored WHERE rnk <= 3
    """,
)
def f19_tfidf_top_terms(spark, sf):
    """TF-IDF top-3 terms per document, linear-IDF variant (tf * N/df):
    no transcendentals, so the score is a correctly-rounded IEEE division
    in both engines and hash-matches exactly. Shape: token explode -> tf
    groupBy -> df groupBy -> broadcast-joinable df table -> per-doc top-k
    window. At corpus scale df is vocabulary-sized (broadcast), tf is the
    big table, and the window partitions by doc_id — no skew."""
    d = load_table(spark, sf, "documents")
    n_docs = d.count()  # one tiny job; the corpus row count is a scalar
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", F.lower(F.col("tok")).alias("token")).filter(
        F.length("token") >= 2
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = tf.join(F.broadcast(dfreq), "token").withColumn(
        "raw", F.col("tf") * (F.lit(float(n_docs)) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("raw").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id", "token", F.round("raw", 4).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query(
    "f21_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    s AS (
      SELECT user_id, ts, event_id, value,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS session_no
      FROM o)
    SELECT user_id, session_no::BIGINT AS session_no,
           epoch(date_trunc('second', min(ts)))::BIGINT AS session_start,
           epoch(date_trunc('second', max(ts)))::BIGINT AS session_end,
           count(*)::BIGINT AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_no
    """,
)
def f21_sessionize(spark, sf):
    """Gap-based sessionization (30 min inactivity closes a session): the
    lag-flag + running-sum pattern, then per-session aggregates. One
    shuffle on user_id serves both windows and the final groupBy — the
    partitioning reuse that matters when userspace is 10^9 keys."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # Full-microsecond gap rule on BOTH engines (oracle uses epoch_us):
    # second-truncation here could flip a boundary pair on a reseeded
    # dataset even though none straddle it today.
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap <= 30 * 60 * 1_000_000, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "session_no",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "session_no").agg(
        F.unix_timestamp(F.min("ts")).alias("session_start"),
        F.unix_timestamp(F.max("ts")).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "f26_session_window_native",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    s AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS session_no
      FROM o)
    SELECT user_id,
           epoch(date_trunc('second', min(ts)))::BIGINT AS session_start,
           count(*)::BIGINT AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_no
    """,
)
def f26_session_window_native(spark, sf):
    """Spark's NATIVE session_window (gap-close 30 min) validated against
    the first-principles lag/cumsum sessionization in SQL — two different
    mechanisms, one fixpoint. Note Spark's session window closes when the
    next event is >= gap away (strict merge when < gap), hence the
    oracle's strict ``< INTERVAL 30 MINUTE`` continuation rule."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.unix_timestamp(F.min("ts")).alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


@query(
    "f27_snapshot_diff",
    """
    WITH old AS (
      SELECT user_id, count(*)::BIGINT AS n, round(sum(value), 2) AS s
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id),
    new AS (
      SELECT user_id, count(*)::BIGINT AS n, round(sum(value), 2) AS s
      FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id)
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.n = n.n AND o.s = n.s THEN 'unchanged'
                ELSE 'changed' END AS status,
           coalesce(n.n, 0) - coalesce(o.n, 0) AS delta_n
    FROM old o FULL OUTER JOIN new n USING (user_id)
    """,
)
def f27_snapshot_diff(spark, sf):
    """Snapshot diff — the incremental-processing primitive: classify every
    key across two corpus snapshots as added / removed / changed /
    unchanged with deltas (what an incremental dedup or training-set
    refresh consumes instead of reprocessing the world). One full outer
    join on the key; both sides are pre-aggregated so the join moves one
    row per key per side."""
    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("timestamp")

    def snap(pred):
        return ev.filter(pred).groupBy("user_id").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s")
        )

    old = snap(F.col("ts") < cut)
    new = snap(F.col("ts") >= cut)
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.user_id") == F.col("n.user_id"), "full_outer")
    status = (
        F.when(F.col("o.user_id").isNull(), "added")
        .when(F.col("n.user_id").isNull(), "removed")
        .when(
            (F.col("o.n") == F.col("n.n")) & (F.col("o.s") == F.col("n.s")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return joined.select(
        F.coalesce(F.col("o.user_id"), F.col("n.user_id")).alias("user_id"),
        status.alias("status"),
        (
            F.coalesce(F.col("n.n"), F.lit(0))
            - F.coalesce(F.col("o.n"), F.lit(0))
        ).alias("delta_n"),
    )


@query(
    "o9_pivot_daily_mix",
    """
    SELECT date_trunc('day', ts) AS day,
           count(*) FILTER (WHERE event_type = 'click')::BIGINT    AS click,
           count(*) FILTER (WHERE event_type = 'error')::BIGINT    AS error,
           count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')::BIGINT   AS signup,
           count(*) FILTER (WHERE event_type = 'view')::BIGINT     AS view
    FROM events GROUP BY 1
    """,
)
def o9_pivot_daily_mix(spark, sf):
    """PIVOT: daily event-mix matrix via Spark's native pivot operator
    (explicit value list, so no extra distinct-values job) — the
    wide-format report shape; the oracle is conditional aggregation."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


@query(
    "f22_normalized_dedup",
    f"""
    SELECT md5({_NORM_SQL}) AS norm_hash,
           min(doc_id) AS canonical_id,
           count(*)::BIGINT AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def f22_normalized_dedup(spark, sf):
    """Canonicalizing dedup: texts that differ only in case, punctuation,
    or whitespace collapse to one group (lower -> strip non-alnum ->
    collapse spaces -> trim -> md5 -> keep-min-id). The normalization is
    pure JVM expressions; the grouping is the same balanced hash-groupBy
    as exact dedup, keyed on a 32-byte digest."""
    d = load_table(spark, sf, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +", " ",
        )
    )
    return d.groupBy(F.md5(norm).alias("norm_hash")).agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "f23_quality_median_gate",
    """
    WITH m AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_chars, round(m.med, 1) AS lang_median
    FROM documents d JOIN m USING (lang)
    WHERE d.n_chars > m.med
    """,
)
def f23_quality_median_gate(spark, sf):
    """Adaptive quality gate: keep documents longer than their LANGUAGE's
    median length — thresholds derived from the corpus itself, not
    hardcoded. Exact linear-interpolation percentile (verified convention-
    identical between Spark `percentile` and DuckDB `quantile_cont`);
    medians are a per-lang scalar table, broadcast into the filter join."""
    d = load_table(spark, sf, "documents")
    med = d.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    return (
        d.join(F.broadcast(med), "lang")
        .filter(F.col("n_chars") > F.col("med"))
        .select(
            "doc_id", "lang", "n_chars",
            F.round("med", 1).alias("lang_median"),
        )
    )


_PIPE_SQL = f"""
    WITH RECURSIVE sh AS ({_SH_CTE}),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src),
    canon AS (
      SELECT id AS doc_id, min(comp) AS component FROM cc GROUP BY id),
    med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY lang)
    SELECT d.doc_id, c.component,
           CASE WHEN b.bucket < 9000 THEN 'train'
                WHEN b.bucket < 9500 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents d
    JOIN canon c USING (doc_id)
    JOIN med m USING (lang)
    JOIN (SELECT doc_id,
                 ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % 10000 AS bucket
          FROM documents) b USING (doc_id)
    WHERE d.doc_id = c.component AND d.n_chars > m.med
"""


@query("f24_corpus_prep_e2e", _PIPE_SQL)
def f24_corpus_prep_e2e(spark, sf):
    """The end-to-end training-data prep pipeline in ONE DAG: near-dup
    clustering (keep the min-id canonical per component) -> per-language
    median quality gate -> deterministic split assignment. Composes the
    individually-verified f17/f23/f18 operators; the oracle recomposes the
    same stages in SQL, so any interaction bug between stages (join
    granularity, filter ordering) breaks the hash. At 100 TB each stage
    keys on doc_id or lang — the cluster step dominates and everything
    after it is broadcast-or-semi-join over survivors."""
    docs = load_table(spark, sf, "documents")
    pairs = _lsh_verified_pairs(docs)
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = _dd.dup_clusters(pairs, nodes).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    return (
        docs.join(comp, "doc_id")
        .filter(F.col("doc_id") == F.col("component"))
        .join(F.broadcast(med), "lang")
        .filter(F.col("n_chars") > F.col("med"))
        .select(
            "doc_id", "component",
            _tx.split_assign(F.col("doc_id")).alias("split"),
        )
    )


@query(
    "u3_set_difference",
    """
    SELECT user_id, floor(value)::BIGINT AS value_bin FROM events
    WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
    EXCEPT
    SELECT user_id, floor(value)::BIGINT FROM events
    WHERE ts >= TIMESTAMP '2024-01-04 00:00:00'
    """,
)
def u3_set_difference(spark, sf):
    """U3 set difference as a first-class oracle entry: (user, value-bin)
    combinations seen in the first three days but never again — EXCEPT in
    the oracle, distinct + left-anti join (the scalable phrasing) on the
    Spark side. floor() bins avoid cross-engine half-rounding conventions.
    """
    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-04").cast("timestamp")
    vb = F.floor("value").cast("long").alias("value_bin")
    first = ev.filter(F.col("ts") < cut).select("user_id", vb).distinct()
    second = ev.filter(F.col("ts") >= cut).select("user_id", vb)
    return first.join(second, ["user_id", "value_bin"], "left_anti")


_SIG_SQL = _dd.sql_minhash_signature("sh")


def _sql_band_selects() -> str:
    parts = []
    for b in range(_dd.LSH_BANDS):
        key = " || '_' || ".join(
            f"h{b * _dd.LSH_ROWS + r}::VARCHAR" for r in range(_dd.LSH_ROWS)
        )
        parts.append(f"SELECT id, {b} AS band, {key} AS band_key FROM sig")
    return " UNION ALL ".join(parts)


@query(
    "f6_minhash_signature",
    f"""
    WITH sh AS ({_SH_CTE})
    {_SIG_SQL}
    """,
)
def f6_minhash_signature(spark, sf):
    """MinHash signatures (12 portable affine-permutation hashes)."""
    sh = _dd.shingles(load_table(spark, sf, "documents"), 3)
    return _dd.minhash_signature(sh)


@query(
    "f7_minhash_dedup_pairs",
    f"""
    WITH sh AS ({_SH_CTE}),
    sig AS ({_SIG_SQL}),
    bands AS ({_sql_band_selects()}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    verified AS (
      SELECT id_a, id_b,
             round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5)
    SELECT c.id_a, c.id_b, v.jaccard
    FROM cand c JOIN verified v ON c.id_a = v.id_a AND c.id_b = v.id_b
    """,
)
def f7_minhash_dedup_pairs(spark, sf):
    """MinHash+LSH near-dup pipeline: banded candidates verified by exact
    Jaccard — candidate generation is equi-joins only (scale path).
    Explicit max_bucket_size=None: the oracle replays uncapped full-join
    pairs (round-10 flipped the library default to the capped form)."""
    return _dd.minhash_dedup_pairs(load_table(spark, sf, "documents"), 3, 0.5,
                                   max_bucket_size=None)


@query(
    "f8_simhash",
    f"""
    WITH sh AS ({_SH_CTE})
    {_dd.sql_simhash('sh')}
    """,
)
def f8_simhash(spark, sf):
    """32-bit SimHash per document, computed entirely in-row
    (`dedup.simhash_inrow`): the signature is a pure function of the
    document, so no explode/distinct/groupBy shuffle exists — scan-speed
    at any corpus size. The oracle keeps the grouped formulation; both
    implement the same majority-bit rule over distinct shingle hashes."""
    return _dd.simhash_inrow(load_table(spark, sf, "documents"), 3)


@query(
    "f13_corpus_filter",
    f"""
    WITH stats AS (
      SELECT doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             round(least(1.0, len(string_split(text, ' ')) / 50.0)
                   * (len(list_distinct(string_split(text, ' ')))
                      * 1.0 / len(string_split(text, ' '))), 4) AS quality_score,
             {_tx.sql_lang_guess('text')} AS lang_guess
      FROM documents)
    SELECT doc_id, n_tokens, quality_score, lang_guess
    FROM stats
    WHERE quality_score >= 0.5 AND n_tokens BETWEEN 10 AND 10000
      AND lang_guess = 'en'
    """,
)
def f13_corpus_filter(spark, sf):
    """Training-corpus admission filter: quality score + token-count band +
    language gate composed into one predicate — the standard pre-training
    data cleaning pass, entirely JVM-side."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    stats = d.select(
        "doc_id",
        _tx.token_count(t).cast("long").alias("n_tokens"),
        _tx.quality_score(t).alias("quality_score"),
        _tx.lang_guess(t).alias("lang_guess"),
    )
    return stats.filter(
        (F.col("quality_score") >= 0.5)
        & F.col("n_tokens").between(10, 10_000)
        & (F.col("lang_guess") == "en")
    )


@query(
    "f14_top_tokens",
    """
    SELECT token, n FROM (
      SELECT lower(t.token) AS token, count(*)::BIGINT AS n,
             row_number() OVER (ORDER BY count(*) DESC, lower(t.token) ASC)
               AS rnk
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE len(t.token) >= 2
      GROUP BY lower(t.token)) x
    WHERE rnk <= 20
    """,
)
def f14_top_tokens(spark, sf):
    """Corpus-level token frequency top-20 (vocabulary head): explode ->
    count -> deterministic top-k (count desc, token asc)."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.length("token") >= 2)
    counts = toks.groupBy(F.lower(F.col("token")).alias("token")).agg(
        F.count("*").alias("n")
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
        .select("token", "n")
    )


@query(
    "f16_media_features",
    """
    SELECT doc_id AS asset_id,
           (4 + doc_id % 13)::BIGINT AS width,
           (4 + doc_id % 7)::BIGINT  AS height,
           3::BIGINT                 AS n_channels,
           round(((doc_id % 256) + (doc_id * 7 % 256) + (doc_id * 13 % 256))
                 / 3.0 / 255.0, 4)   AS mean_luma,
           CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                WHEN 2 THEN 'png' ELSE 'gif' END AS decoder
    FROM documents
    """,
)
def f16_media_features(spark, sf):
    """Multimodal: REAL image decode end-to-end. Synthesizes one
    solid-color image per document (doc_id % 4: 24-bit BMP with row
    padding / binary PPM with a header comment / zlib-compressed 8-bit
    PNG with Paeth-filtered scanlines / LZW-compressed palettized GIF),
    runs the pure-Python codecs inside `image_features`'s mapInPandas
    stage, and checks the decoded (dims, channels, mean-luma, decoder)
    against an ANALYTIC oracle computed from doc_id alone — the encoder
    parameters, never the bytes. A decoder that misparses padding, BGR
    order, the PPM header, the PNG filter recurrences, or the GIF LZW
    width schedule fails the hash-match."""
    import pandas as pd

    from borsa_spark.functions import multimodal as mm

    # widen the id scan before the Arrow gen: single-row-group local
    # input => one Python worker otherwise (round 13; no-op multi-file)
    docs = _dd.widen_if_narrow(
        load_table(spark, sf, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 13, 4 + did % 7
                rgb = (did % 256, (did * 7) % 256, (did * 13) % 256)
                mode = did % 4
                if mode < 2:
                    data = (mm.encode_bmp, mm.encode_ppm)[mode](w, h, rgb)
                elif mode == 2:
                    # Paeth on every scanline: the hardest unfilter branch
                    data = mm.encode_png(w, h, rgb, filter_type=4)
                else:
                    import numpy as np

                    from borsa_spark.functions.gif import encode_gif

                    data = encode_gif(
                        np.full((h, w, 3), rgb, dtype=np.uint8)
                    )
                out.append((did, data))
            yield pd.DataFrame(out, columns=["asset_id", "payload"])

    assets = docs.mapInPandas(gen, "asset_id long, payload binary")
    feats = mm.image_features(assets)
    return feats.select(
        "asset_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.round("mean_luma", 4).alias("mean_luma"),
        "decoder",
    )


_SIMHASH_SQL = f"""
    WITH sh AS ({_SH_CTE}),
    sim AS ({_dd.sql_simhash('sh')})
"""


@query(
    "f9_simhash_near_pairs",
    f"""
    {_SIMHASH_SQL},
    bands AS (
      SELECT id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS band_key
      FROM sim, (SELECT unnest([0,1,2,3]) AS band) b),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)
    SELECT id_a, id_b, hamming::BIGINT AS hamming FROM cand WHERE hamming <= 6
    """,
)
def f9_simhash_near_pairs(spark, sf):
    """SimHash near-dup pairs: byte-band candidates + exact hamming <= 6.
    Signatures come from the shuffle-free in-row path; the only shuffle
    left in the pipeline is the band-key candidate join itself."""
    # Persist the signature: the band self-join compiles to a broadcast
    # hash join whose build and stream sides are SEPARATE plan instances —
    # plan-shape probing (round 4) shows no ReusedExchange, so without the
    # persist the in-row hashing runs twice. Cache lifetime is owned by
    # the harness: tools/check_oracle.py clearCache()s after each query
    # and tests/test_cache_discipline.py sweeps with release_all_cached,
    # so per-query persists no longer accumulate across a session.
    sim = _dd.simhash_inrow(load_table(spark, sf, "documents"), 3).persist()
    out = _dd.simhash_near_pairs(sim, max_hamming=6)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


# ---------------------------------------------------------------------------
# Router end-to-end queries (exercise the real planner + router code)
# ---------------------------------------------------------------------------


def _event_catalog(spark: SparkSession, sf: str):
    """Three fixture providers carved from events (user_id % 3), native 1m."""
    from borsa_spark.sources.provider import Catalog, fixture_source

    ev = load_table(spark, sf, "events")
    cat = Catalog()
    for p in range(3):
        candles = ev.filter(F.col("user_id") % 3 == p).select(
            F.lit(f"prov{p}").alias("provider"),
            F.col("event_type").alias("symbol"),
            F.lit("EQUITY").alias("kind"),
            F.col("ts"),
            F.col("value").cast("decimal(38,9)").alias("open"),
            F.col("value").cast("decimal(38,9)").alias("high"),
            F.col("value").cast("decimal(38,9)").alias("low"),
            F.col("value").cast("decimal(38,9)").alias("close"),
            F.lit(None).cast("decimal(38,9)").alias("close_unadj"),
            F.lit(1).cast("long").alias("volume"),
            F.lit("USD").alias("currency"),
            F.lit(True).alias("adjusted"),
            F.lit(None).cast("string").alias("timezone"),
            F.lit(None).cast("long").alias("utc_offset_seconds"),
            F.col("event_id").alias("seq"),
            F.lit("1m").alias("interval"),
        )
        cat.register(
            fixture_source(f"prov{p}", history_intervals=("1m",), history=candles)
        )
    return cat


@query(
    "hist_e2e_daily_merge",
    """
    WITH c AS (
      SELECT event_type AS symbol, 'prov' || (user_id % 3) AS provider,
             (user_id % 3)::BIGINT AS priority,
             date_trunc('day', ts) AS bucket, ts, value, event_id
      FROM events),
    num AS (
      SELECT *,
             row_number() OVER (PARTITION BY provider, symbol, bucket
                                ORDER BY ts ASC, event_id ASC)  AS rn_a,
             row_number() OVER (PARTITION BY provider, symbol, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM c),
    r AS (
      SELECT symbol, provider, priority, bucket,
             max(CASE WHEN rn_a = 1 THEN value END) AS open,
             max(value) AS high, min(value) AS low,
             max(CASE WHEN rn_z = 1 THEN value END) AS close,
             count(*)::BIGINT AS volume, min(event_id) AS seq
      FROM num GROUP BY symbol, provider, priority, bucket),
    m AS (
      SELECT *, row_number() OVER (PARTITION BY symbol, bucket
                                   ORDER BY priority ASC, seq ASC) AS rn
      FROM r)
    SELECT symbol, provider, epoch(bucket)::BIGINT AS bucket_ts,
           round(open, 2) AS open, round(high, 2) AS high,
           round(low, 2) AS low, round(close, 2) AS close, volume
    FROM m WHERE rn = 1
    """,
)
def hist_e2e_daily_merge(spark, sf):
    """FLAGSHIP end-to-end: the real history router (plan: 1m native ->
    ResamplePlan.Daily per provider; execute: 3 scans -> per-provider daily
    resample -> adjustedness -> first-wins merge) vs a from-scratch SQL
    oracle. Exercises plans.intervals, operators.resample, operators.merge,
    router.history on the driver's events table."""
    from borsa_spark.router import ALL_SYMBOLS, HistoryRequest, history

    cat = _event_catalog(spark, sf)
    # ALL_SYMBOLS: no driver-side symbol enumeration — the router scans the
    # full catalog with the symbol predicate omitted (VERDICT r1 nit #2).
    res = history(
        spark, cat, HistoryRequest(symbol=ALL_SYMBOLS, interval="1d"),
        symbols=ALL_SYMBOLS,
    )
    return res.candles.select(
        "symbol",
        "provider",
        F.unix_timestamp("ts").alias("bucket_ts"),
        F.round(F.col("open").cast("double"), 2).alias("open"),
        F.round(F.col("high").cast("double"), 2).alias("high"),
        F.round(F.col("low").cast("double"), 2).alias("low"),
        F.round(F.col("close").cast("double"), 2).alias("close"),
        "volume",
    )


@query(
    "j3_search_dedup",
    """
    WITH res AS (
      SELECT 'prov' || (user_id % 2) AS provider, event_type AS symbol,
             'EX' || (user_id % 4) AS exchange, event_id,
             (user_id % 2) * 1048576 + event_id AS orig_idx
      FROM events WHERE event_type LIKE '%i%'),
    ranked AS (
      SELECT *,
             CASE exchange WHEN 'EX1' THEN 0 WHEN 'EX3' THEN 1
                  ELSE 4611686018427387904 END AS ex_rank,
             min(orig_idx) OVER (PARTITION BY symbol) AS first_seen
      FROM res),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY symbol
                                   ORDER BY ex_rank, orig_idx) AS rn
      FROM ranked)
    SELECT symbol, provider, exchange, first_seen FROM best WHERE rn = 1
    """,
)
def j3_search_dedup(spark, sf):
    """J3 via the real search router: two providers expose events-derived
    search tables; exchange preference [EX1, EX3]; dedup keeps the
    preferred-exchange row per symbol, ordered by first-seen."""
    from borsa_spark.plans import RoutingPolicy
    from borsa_spark.router import search as search_router
    from borsa_spark.sources.provider import Catalog, fixture_source

    ev = load_table(spark, sf, "events")
    cat = Catalog()
    for p in range(2):
        tbl = ev.filter(F.col("user_id") % 2 == p).select(
            F.lit(f"prov{p}").alias("provider"),
            F.lit("i").alias("query"),
            F.col("event_type").alias("symbol"),
            F.lit("EQUITY").alias("kind"),
            F.concat(F.lit("EX"), (F.col("user_id") % 4).cast("string")).alias(
                "exchange"
            ),
            F.col("event_type").alias("name"),
            F.col("event_id").cast("int").alias("result_idx"),
        )
        cat.register(fixture_source(f"prov{p}", search=tbl))
    cat.policy = RoutingPolicy().exchanges_global(["EX1", "EX3"])
    out = search_router(spark, cat, "i")
    return out.select("symbol", "provider", "exchange", "first_seen")


@query(
    "s5_capability_first_provider",
    """
    WITH t AS (
      SELECT event_type AS symbol, 'prov' || (user_id % 3) AS provider,
             (user_id % 3)::BIGINT AS priority, event_id, value
      FROM events),
    best AS (SELECT symbol, min(priority) AS bp FROM t GROUP BY symbol)
    SELECT t.symbol, t.provider, t.event_id, t.value
    FROM t JOIN best ON t.symbol = best.symbol AND t.priority = best.bp
    """,
)
def s5_capability_first_provider(spark, sf):
    """S5-S8 macro-family semantics via capability_scan: per symbol, ALL rows
    of the highest-priority provider that has any rows — wholesale, no
    row mixing."""
    from borsa_spark.router import capability_scan
    from borsa_spark.sources.provider import Catalog, fixture_source

    ev = load_table(spark, sf, "events")
    cat = Catalog()
    for p in range(3):
        tbl = ev.filter(F.col("user_id") % 3 == p).select(
            F.lit(f"prov{p}").alias("provider"),
            F.col("event_type").alias("symbol"),
            "event_id",
            "value",
        )
        cat.register(fixture_source(f"prov{p}", earnings=tbl))
    out = capability_scan(cat, "earnings")
    return out.select("symbol", "provider", "event_id", "value")


@query(
    "j2_info_join",
    """
    WITH q AS (
      SELECT symbol, price FROM (
        SELECT event_type AS symbol, value AS price,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t WHERE rn = 1),
    p AS (
      SELECT event_type AS symbol,
             count(*)::BIGINT AS profile_n_events,
             round(avg(value), 4) AS profile_avg_value
      FROM events GROUP BY event_type)
    SELECT q.symbol, round(q.price, 2) AS price,
           p.profile_n_events, p.profile_avg_value
    FROM q LEFT JOIN p ON q.symbol = p.symbol
    """,
)
def j2_info_join(spark, sf):
    """J2 via the real info router: latest-quote side LEFT-joined with a
    profile side, both events-derived."""
    from borsa_spark.router import info as info_router
    from borsa_spark.sources.provider import Catalog, fixture_source

    ev = load_table(spark, sf, "events")
    quotes_tbl = ev.select(
        F.lit("prov0").alias("provider"),
        F.col("event_type").alias("symbol"),
        F.lit("EQUITY").alias("kind"),
        F.lit(None).cast("string").alias("shortname"),
        F.col("value").cast("decimal(38,9)").alias("price"),
        F.lit(None).cast("decimal(38,9)").alias("previous_close"),
        F.lit("USD").alias("currency"),
        F.lit(None).cast("string").alias("exchange"),
        F.lit("REGULAR").alias("market_state"),
        F.col("ts"),
        F.col("event_id"),
    )
    # latest row per symbol is what the quote table holds conceptually; keep
    # (ts, event_id) so the router's min-priority pick is deterministic after
    # we reduce to one row per symbol here.
    from pyspark.sql import Window as W

    w = W.partitionBy("symbol").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    quotes_tbl = (
        quotes_tbl.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "ts", "event_id")
    )
    profile_tbl = ev.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    ).withColumn("provider", F.lit("prov0"))
    cat = Catalog()
    cat.register(
        fixture_source("prov0", quote=quotes_tbl, profile=profile_tbl)
    )
    symbols_df = ev.select(F.col("event_type").alias("symbol")).distinct()
    out, _warnings = info_router(spark, cat, symbols_df)
    return out.select(
        "symbol",
        F.round(F.col("price").cast("double"), 2).alias("price"),
        F.col("profile_n_events"),
        F.col("profile_avg_value"),
    )


# ---------------------------------------------------------------------------
# f28-f30: decontamination, per-source caps, n-gram novelty — the remaining
# standard stages of a web-scale training-data pipeline
# ---------------------------------------------------------------------------

_SH8_CTE = _dd.sql_shingles(8)


@query(
    "f28_decontaminate",
    f"""
    WITH sh AS ({_SH8_CTE}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE id % 7 = 0),
    hits AS (
      SELECT s.id, count(*) AS n
      FROM sh s JOIN bench b USING (shingle)
      WHERE s.id % 7 <> 0
      GROUP BY s.id)
    SELECT id AS doc_id, n::BIGINT AS n_shared FROM hits
    """,
)
def f28_decontaminate(spark, sf):
    """Benchmark decontamination: flag corpus documents sharing any 8-gram
    with the held-out benchmark set (doc_id % 7 == 0 stands in for the
    eval suite). The canonical pre-training hygiene pass (n-gram overlap
    against eval sets).

    Scale shape: benchmark n-grams are tiny next to the corpus (eval suites
    are fixed-size), so the overlap test is a BROADCAST semi-join on the
    64-bit shingle hash — the corpus shingle table never shuffles; the
    per-doc count is one groupBy with map-side combine. Emitting counts
    (not just a flag) keeps the review loop honest: borderline hits can be
    audited before dropping documents.
    """
    docs = load_table(spark, sf, "documents")
    sh = _dd.shingles(docs, 8)
    bench = (
        sh.filter(F.col("id") % 7 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("id") % 7 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .select(F.col("id").alias("doc_id"), "n_shared")
    )


@query(
    "f29_per_source_cap",
    """
    SELECT source, doc_id, sample_rank FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id
             )::BIGINT AS sample_rank
      FROM documents) t
    WHERE sample_rank <= 10
    """,
)
def f29_per_source_cap(spark, sf):
    """Per-source cap sampling: keep at most 10 documents per source,
    chosen by deterministic hash order (md5 of the doc id — a seedless,
    engine-portable shuffle), with the doc id as tiebreak. The domain-cap
    stage that stops one crawl host from dominating the corpus.

    Scale shape: one shuffle on source + a windowed top-N that Spark
    executes as WindowGroupLimit (rank pushdown) — each partition keeps
    only 10 rows before the final filter, so a 10M-doc source costs its
    scan, not its sort. Skew note: a pathological single source is still
    one partition's sort; cap-by-aggregation (min_by over an array agg) or
    pre-salting applies if profiling shows a straggler.
    """
    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id",
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 10)
    )


@query(
    "f30_ngram_novelty",
    f"""
    WITH sh AS ({_SH_CTE}),
    df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
    SELECT sh.id AS doc_id,
           count(*)::BIGINT AS n_grams,
           round(sum(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END)
                 / count(*), 4) AS novelty_ratio
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.id
    """,
)
def f30_ngram_novelty(spark, sf):
    """Per-document n-gram novelty: the fraction of a document's distinct
    3-grams that appear in NO other document — a diversity/quality signal
    (boilerplate and template text scores ~0, unique prose ~1) used to
    prioritize data for training mixes.

    Scale shape: document frequency is one groupBy on the hashed shingle
    (map-side combine; longs, not strings), joined back to the shingle
    table on the same key — the shuffle partitioning is reused, and the
    per-doc aggregate combines map-side. novelty is division of exact
    integers rounded at 4dp, so the cross-engine comparison is stable.
    """
    docs = load_table(spark, sf, "documents")
    sh = _dd.shingles(docs, 3)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("novelty_ratio"),
        )
        .select(F.col("id").alias("doc_id"), "n_grams", "novelty_ratio")
    )


# ---------------------------------------------------------------------------
# f31-f34: sampling, repetition quality, dedup survivors, mixture planning —
# the stages that turn a cleaned corpus into a training mix
# ---------------------------------------------------------------------------

#: per-language keep rates for the rebalancing sampler (downsample the
#: dominant language, keep the rest whole).
_F31_RATES = {"en": 0.5, "de": 1.0, "zh": 0.8, "fr": 1.0, "es": 1.0}

_F31_CASE = " ".join(
    f"WHEN '{lg}' THEN {int(r * 10_000)}" for lg, r in _F31_RATES.items()
)


@query(
    "f31_stratified_sample",
    f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             {_tx.sql_hash_bucket('doc_id', 'sample31')} AS bucket,
             CASE lang {_F31_CASE} ELSE 10000 END AS cut
      FROM documents) t
    WHERE bucket < cut
    """,
)
def f31_stratified_sample(spark, sf):
    """Stratified rebalancing sample: keep each document with a
    per-language probability (en 0.5, zh 0.8, rest 1.0), decided by a
    deterministic portable hash of the doc id — the language-rebalancing
    stage of a training-mix builder, via the first-class
    `text.stratified_sample` operator (round 6 lifted the inline logic
    into the library; this query is its gate face).

    Scale shape: a pure per-row map (hash, compare, filter) — no shuffle,
    no sort, no membership table; the same row set is re-derivable on any
    engine from doc_id alone, and the filter pushes below everything that
    follows it. Changing the salt draws an independent sample.
    """
    docs = load_table(spark, sf, "documents")
    kept = _tx.stratified_sample(
        docs, "lang", _F31_RATES, default_rate=1.0, salt="sample31"
    )
    return kept.select("doc_id", "lang", "source")


@query(
    "f32_intra_doc_repetition",
    """
    SELECT doc_id,
           n_total::BIGINT  AS n_grams,
           CASE WHEN n_total > 0
                THEN round(1.0 - n_distinct * 1.0 / n_total, 4)
                ELSE 0.0 END AS dup_ratio
    FROM (
      SELECT doc_id,
             greatest(len(w) - 2, 0) AS n_total,
             len(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS n_distinct
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) s) t
    """,
)
def f32_intra_doc_repetition(spark, sf):
    """Within-document repetition: the fraction of a document's word
    3-grams that are repeats of an earlier 3-gram in the SAME document —
    the duplicate-n-gram quality rule (Gopher/C4 family) that catches
    looping or templated generations exact/near dedup can't see (the doc
    is only similar to itself).

    Scale shape: entirely per-row array math (split, slide, distinct,
    ratio) inside whole-stage codegen — no explode, no shuffle, nothing
    leaves the row. At 100 TB this runs at scan speed; compare f30, which
    needs a corpus-wide shuffle because its signal is cross-document.
    """
    docs = load_table(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    n_total = F.greatest(F.size(words) - 2, F.lit(0))
    grams = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_distinct = F.size(F.array_distinct(grams))
    return docs.select(
        "doc_id",
        n_total.cast("long").alias("n_grams"),
        F.when(
            n_total > 0, F.round(1.0 - n_distinct / n_total, 4)
        ).otherwise(F.lit(0.0)).alias("dup_ratio"),
    )


_F33_SQL = f"""
    WITH RECURSIVE sh AS ({_SH_CTE}),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src),
    labeled AS (
      SELECT id AS doc_id, min(comp)::BIGINT AS component
      FROM cc GROUP BY id),
    ranked AS (
      SELECT l.component, l.doc_id, d.n_chars,
             row_number() OVER (
               PARTITION BY l.component
               ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY l.component) AS n_members
      FROM labeled l JOIN documents d USING (doc_id))
    SELECT component, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
           n_members::BIGINT AS n_members,
           (n_members - 1)::BIGINT AS n_dropped
    FROM ranked WHERE rk = 1
"""


@query("f33_dedup_survivors", _F33_SQL)
def f33_dedup_survivors(spark, sf):
    """Dedup survivor selection: for every near-dup cluster (f17's
    connected components), keep the single best document — longest
    (n_chars), doc_id as the deterministic tie-break — and account for how
    many were dropped. The step that turns a pair/cluster report into an
    actual deduplicated corpus while keeping the best copy, not an
    arbitrary one.

    Scale shape: pairs are LSH-bounded (f7's path) and clustering is star
    contraction (diameter-independent rounds); the
    survivor pick is one row_number window partitioned by component —
    components are small (they are near-dup groups), so no partition is
    ever large, and the window rank prunes to 1 row per group before
    anything downstream. Joining labels to documents is an equi-join on
    doc_id, the table's natural key.
    """
    docs = load_table(spark, sf, "documents")
    pairs = _lsh_verified_pairs(docs)
    nodes = docs.select(F.col("doc_id").alias("id"))
    labeled = _dd.dup_clusters(pairs, nodes).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    joined = labeled.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("component")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )


@query(
    "f34_mixture_weights",
    """
    WITH per_src AS (
      SELECT source,
             count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT source, n_docs, n_tokens,
             sum(n_tokens) OVER () AS total_tokens,
             count(*) OVER () AS n_sources
      FROM per_src)
    SELECT source,
           n_docs::BIGINT   AS n_docs,
           n_tokens::BIGINT AS n_tokens,
           round((total_tokens * 1.0 / n_sources) / n_tokens, 4) AS weight,
           round(least(1.0, (total_tokens * 1.0 / n_sources) / n_tokens), 4)
             AS sample_rate
    FROM tot
    """,
)
def f34_mixture_weights(spark, sf):
    """Token-budget mixture planning: per-source token counts and the
    up/down-weighting factor that would equalize each source's share of
    the training mix (target = uniform across sources), with the
    downsample-only rate alongside. The static mixture-planning pass (a
    DoReMi-style reweighting with a uniform target) run before sampling.

    Scale shape: token counting is a per-row map folded into one groupBy
    on source with map-side combine; the total is a window over the
    ALREADY-AGGREGATED per-source table (#sources rows — bounded, not
    data-sized), so the single-partition window is safe at any corpus
    size. Output feeds f31-style hash sampling with per-source rates.
    """
    docs = load_table(spark, sf, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(_tx.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    target = F.sum("n_tokens").over(w) / F.count("*").over(w)
    return per_src.select(
        "source", "n_docs", "n_tokens",
        F.round(target / F.col("n_tokens"), 4).alias("weight"),
        F.round(F.least(F.lit(1.0), target / F.col("n_tokens")), 4)
            .alias("sample_rate"),
    )


@query(
    "f35_incremental_dedup",
    f"""
    WITH sh AS ({_SH_CTE}),
    sig AS ({_SIG_SQL}),
    bands AS ({_sql_band_selects()}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.id % 5 <> 0 AND b.id % 5 = 0),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT id_a AS new_doc_id, id_b AS corpus_doc_id,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def f35_incremental_dedup(spark, sf):
    """Incremental dedup: a new crawl batch (doc_id % 5 != 0) checked
    against the existing corpus (doc_id % 5 == 0) — cross-set near-dup
    pairs only, via banded MinHash candidates + exact-Jaccard verification
    (`dedup.minhash_pairs_against`). The continuous-ingest stage: each
    fresh batch is screened against the accumulated training set before
    admission, without ever re-pairing the corpus with itself.

    Scale shape: the candidate join is new-bands vs corpus-bands on
    (band, band_key) — bounded by cross-set bucket co-occupancy, strictly
    smaller than f7's full self-join; at production scale the corpus
    signatures are precomputed once and stored, so a batch pays only its
    own shingle+signature cost plus the banded join. Verification touches
    candidates only (verify_jaccard's equi-join shape).
    """
    docs = load_table(spark, sf, "documents")
    # In-row variant (round 4): one persisted (id, shingles array) relation
    # feeds the signature fold and the array_intersect verifier — no
    # exploded shingle relation in the plan. The harness owns cache
    # lifetime via clearCache() after each query.
    out = _dd.minhash_pairs_against_inrow(
        docs, F.col("id") % 5 == 0, threshold=0.5, max_bucket_size=None
    )
    return out.select(
        F.col("id_a").alias("new_doc_id"),
        F.col("id_b").alias("corpus_doc_id"),
        "jaccard",
    )


@query(
    "f36_leakage_safe_split",
    f"""
    WITH RECURSIVE sh AS ({_SH_CTE}),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src),
    labeled AS (
      SELECT id AS doc_id, min(comp)::BIGINT AS component
      FROM cc GROUP BY id),
    b AS (
      SELECT doc_id, component,
             ('0x' || substr(md5('split36:' || component::VARCHAR), 1, 15))
               ::BIGINT % 10000 AS bucket
      FROM labeled)
    SELECT doc_id, component,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def f36_leakage_safe_split(spark, sf):
    """Leakage-safe corpus split: assign train/valid/test by hashing the
    near-dup CLUSTER id (f17's connected component), not the document id —
    every member of a duplicate cluster lands in the same split, so a
    near-copy of a test document can never leak into train. The
    contamination-proof version of f18; the delta between them is exactly
    the documents whose naive split differs from their cluster's.

    Scale shape: pairs are LSH-bounded (f7's path) and clustering is star
    contraction (diameter-independent rounds); the split itself is the
    same per-row portable md5 bucket as f18, just keyed on the component —
    no extra shuffle beyond the label join, stable across engines and
    re-runs.
    """
    docs = load_table(spark, sf, "documents")
    pairs = _lsh_verified_pairs(docs)
    nodes = docs.select(F.col("doc_id").alias("id"))
    labeled = _dd.dup_clusters(pairs, nodes).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    return labeled.select(
        "doc_id",
        "component",
        _tx.split_assign(F.col("component"), salt="split36").alias("split"),
    )


@query(
    "f38_sequence_packing",
    _pk.sql_pack_sequences(budget=256, n_streams=8),
)
def f38_sequence_packing(spark, sf):
    """Sequence packing (sample packing): greedy first-overflow-closes-bin
    assignment of documents into 256-token training bins across 8
    hash-sharded pack streams (`packing.pack_sequences`). The one
    corpus-prep stage whose semantics are order-dependent (non-associative
    reset-on-overflow), implemented as an Arrow-batched applyInPandas per
    stream; the oracle replays the identical greedy rule with a recursive
    CTE. Order and stream assignment are both portable md5 derivations, so
    the packing is engine-reproducible bin-for-bin.

    Scale shape: parallelism = n_streams (set ~2**14 at corpus scale);
    each stream's packer sees only (id, token-count) pairs, never text, so
    a stream's Arrow batch is a few MB however large the corpus.
    """
    docs = load_table(spark, sf, "documents")
    return _pk.pack_sequences(docs, budget=256, n_streams=8)


@query(
    "f39_pack_efficiency",
    f"""
    WITH packed AS ({_pk.sql_pack_sequences(budget=256, n_streams=8)}),
    bins AS (
      SELECT stream_id, bin_id,
             sum(n_tokens) AS fill,
             count(*) AS n_docs
      FROM packed GROUP BY stream_id, bin_id)
    SELECT stream_id,
           count(*)::BIGINT AS n_bins,
           sum(n_docs)::BIGINT AS n_docs,
           round(avg(least(fill, 256) * 1.0 / 256), 4) AS avg_fill,
           sum(CASE WHEN fill > 256 THEN 1 ELSE 0 END)::BIGINT
             AS oversized_bins
    FROM bins GROUP BY stream_id
    """,
)
def f39_pack_efficiency(spark, sf):
    """Packing efficiency accounting over f38's bins: per stream, how many
    bins, how full they are on average (capped at budget — an oversized
    solo doc counts as a full bin), and how many bins hold an oversized
    document. The metric that tells you whether the greedy packer is
    wasting token budget (padding) before you pay for a training run.

    Scale shape: one groupBy over the packer's (id, stream, bin, tokens)
    output — rows are documents, not tokens — then a #streams-row
    aggregate. Composes the applyInPandas stage with plain declarative
    aggregation; the oracle replays pack + aggregation in one SQL.
    """
    packed = _pk.pack_sequences(
        load_table(spark, sf, "documents"), budget=256, n_streams=8
    )
    bins = packed.groupBy("stream_id", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count("*").alias("n_docs"),
    )
    return bins.groupBy("stream_id").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.round(F.avg(F.least(F.col("fill"), F.lit(256)) / 256.0), 4)
            .alias("avg_fill"),
        F.sum(F.when(F.col("fill") > 256, 1).otherwise(0)).cast("long")
            .alias("oversized_bins"),
    )


# ---------------------------------------------------------------------------
# S2 / R6: effective-interval planning as an oracle-checked query
# ---------------------------------------------------------------------------

#: Rule-matrix cases: (case_id, supported intervals, requested interval) —
#: each exercises a distinct branch of choose_effective_interval
#: (exact hit, largest-divisor pick, no-divisor rejection, daily/weekly
#: calendar fallbacks, calendar passthrough). Shared literal between the
#: Spark side (which runs the REAL planner) and the SQL side (which
#: re-derives the rule from scratch).
_S2_CASES = [
    (1, "1m,5m,15m,1h", "1h"),
    (2, "1m,5m,15m", "1h"),
    (3, "2m,30m", "90m"),
    (4, "5m,90m", "30m"),
    (5, "30m", "5m"),
    (6, "1m,30m", "1d"),
    (7, "1d,1m", "1d"),
    (8, "1d,5m", "1wk"),
    (9, "5m,90m", "1wk"),
    (10, "1mo", "1wk"),
    (11, "1d", "1mo"),
    (12, "1m", "2m"),
    (13, "2m", "1m"),
    (14, "90m,1h", "90m"),
    (15, "1h,15m", "90m"),
]

_S2_VALUES = ", ".join(
    f"({cid}, '{sup}', '{req}')" for cid, sup, req in _S2_CASES
)

_S2_SQL = f"""
    WITH cases(case_id, supported, requested) AS (VALUES {_S2_VALUES}),
    mins(iv, m) AS (VALUES ('1m',1),('2m',2),('5m',5),('15m',15),
                           ('30m',30),('1h',60),('90m',90)),
    sup AS (SELECT case_id, unnest(string_split(supported, ',')) AS s
            FROM cases),
    sup_m AS (SELECT sup.case_id, s, m FROM sup LEFT JOIN mins ON s = iv),
    req_m AS (SELECT case_id, m AS rm
              FROM cases LEFT JOIN mins ON requested = iv),
    exact AS (SELECT DISTINCT sup.case_id, TRUE AS is_exact
              FROM sup JOIN cases USING (case_id) WHERE s = requested),
    best_div AS (
      SELECT sm.case_id, max_by(sm.s, sm.m) AS div_iv
      FROM sup_m sm JOIN req_m r USING (case_id)
      WHERE sm.m IS NOT NULL AND r.rm IS NOT NULL
        AND sm.m <= r.rm AND r.rm % sm.m = 0
      GROUP BY sm.case_id),
    coarsest AS (SELECT case_id, max_by(s, m) AS c_iv
                 FROM sup_m WHERE m IS NOT NULL GROUP BY case_id),
    has_1d AS (SELECT DISTINCT case_id FROM sup WHERE s = '1d')
    SELECT c.case_id::BIGINT AS case_id, c.supported, c.requested,
      CASE
        WHEN coalesce(e.is_exact, FALSE) THEN c.requested
        WHEN r.rm IS NOT NULL THEN coalesce(b.div_iv, 'unsupported')
        WHEN c.requested = '1d' THEN coalesce(co.c_iv, 'unsupported')
        WHEN c.requested = '1wk' THEN
          CASE WHEN h.case_id IS NOT NULL THEN '1d'
               ELSE coalesce(co.c_iv, 'unsupported') END
        ELSE c.requested
      END AS effective,
      CASE
        WHEN coalesce(e.is_exact, FALSE) THEN NULL
        WHEN r.rm IS NOT NULL THEN
          CASE WHEN b.div_iv IS NOT NULL THEN 'minutes' END
        WHEN c.requested = '1d' THEN
          CASE WHEN co.c_iv IS NOT NULL THEN 'daily' END
        WHEN c.requested = '1wk' THEN
          CASE WHEN h.case_id IS NOT NULL OR co.c_iv IS NOT NULL
               THEN 'weekly' END
        ELSE NULL
      END AS resample_kind,
      (CASE WHEN NOT coalesce(e.is_exact, FALSE) AND r.rm IS NOT NULL
                 AND b.div_iv IS NOT NULL
            THEN r.rm END)::BIGINT AS resample_minutes
    FROM cases c
    LEFT JOIN exact e USING (case_id)
    LEFT JOIN req_m r USING (case_id)
    LEFT JOIN best_div b USING (case_id)
    LEFT JOIN coarsest co USING (case_id)
    LEFT JOIN has_1d h ON h.case_id = c.case_id
"""


@query("s2_interval_plan", _S2_SQL)
def s2_interval_plan(spark, sf):
    """S2/R6 scan-granularity pushdown, oracle-checked: the Spark side runs
    the REAL planner (`plans.intervals.choose_effective_interval` — the
    code every history scan goes through) over the rule matrix; the oracle
    re-derives the largest-divisor + calendar-fallback rules from scratch
    in SQL over the same literal cases. Two independent implementations of
    history.rs:38-123's planning rules, hash-compared — the planner branch
    that decides whether a 60m ask scans 1m bars (60x the I/O) or 30m
    bars is now pinned by the driver gate, not only pytest.
    """
    from borsa_spark.errors import UnsupportedError as _Unsup
    from borsa_spark.plans.intervals import choose_effective_interval

    rows = []
    for cid, sup, req in _S2_CASES:
        try:
            eff, plan = choose_effective_interval(sup.split(","), req)
            kind = plan.kind if plan is not None else None
            minutes = plan.minutes if plan is not None else None
        except _Unsup:
            eff, kind, minutes = "unsupported", None, None
        rows.append((cid, sup, req, eff, kind, minutes))
    return spark.createDataFrame(
        rows,
        "case_id long, supported string, requested string, "
        "effective string, resample_kind string, resample_minutes long",
    )


# ---------------------------------------------------------------------------
# R1/R2: routing-policy resolution as an oracle-checked query
# ---------------------------------------------------------------------------

#: Fixed policy: four scoped rules + a global fallback. rule_idx is the
#: definition order (equal specificity -> later rule wins).
_R1_RULES = [
    # (rule_idx, sel_symbol, sel_kind, sel_exchange, providers, strict)
    (0, "AAPL", None, None, "p2,p1", False),
    (1, None, "EQUITY", None, "p1,p0", False),
    (2, None, "EQUITY", "XETRA", "p3", True),
    (3, "AAPL", None, "XETRA", "p0", False),
]
_R1_GLOBAL = ("p0,p1", False)
_R1_PROVIDERS = ["p0", "p1", "p2", "p3"]

#: Context matrix: each hits a different resolution branch — single rule,
#: specificity tie-break, equal-specificity later-wins, strict exclusion,
#: global fallback, no-rule-no-global default.
_R1_CTXS = [
    (1, "AAPL", None, None),        # rule 0 (symbol)
    (2, "MSFT", "EQUITY", None),    # rule 1 (kind)
    (3, "MSFT", "EQUITY", "XETRA"), # rule 2 (kind+exchange, strict)
    (4, "AAPL", None, "XETRA"),     # rules 0 vs 3: both spec-2? 0 is spec-1 -> rule 3
    (5, "AAPL", "EQUITY", "XETRA"), # rules 0,1,2,3 all match: spec-2 tie -> later (3)
    (6, "MSFT", None, None),        # no rule -> global
    (7, None, "CRYPTO", None),      # no rule -> global
]


def _r1_sql() -> str:
    rules = ", ".join(
        "({}, {}, {}, {}, '{}', {})".format(
            idx,
            f"'{s}'" if s else "NULL", f"'{k}'" if k else "NULL",
            f"'{e}'" if e else "NULL", provs, str(strict).upper(),
        )
        for idx, s, k, e, provs, strict in _R1_RULES
    )
    ctxs = ", ".join(
        "({}, {}, {}, {})".format(
            cid, f"'{s}'" if s else "NULL", f"'{k}'" if k else "NULL",
            f"'{e}'" if e else "NULL",
        )
        for cid, s, k, e in _R1_CTXS
    )
    provs = ", ".join(f"('{p}')" for p in _R1_PROVIDERS)
    g_provs, g_strict = _R1_GLOBAL
    return f"""
    WITH rules(rule_idx, sel_symbol, sel_kind, sel_exchange, providers,
               strict) AS (VALUES {rules}),
    ctxs(case_id, symbol, kind, exchange) AS (VALUES {ctxs}),
    provs(provider) AS (VALUES {provs}),
    matched AS (
      SELECT c.case_id, r.*,
             ((sel_symbol IS NOT NULL)::INT + (sel_kind IS NOT NULL)::INT
              + (sel_exchange IS NOT NULL)::INT) * 1000
             + (sel_symbol IS NOT NULL)::INT * 100
             + (sel_kind IS NOT NULL)::INT * 10
             + (sel_exchange IS NOT NULL)::INT AS spec
      FROM ctxs c JOIN rules r
        ON (sel_symbol IS NULL OR sel_symbol = c.symbol)
       AND (sel_kind IS NULL OR sel_kind = c.kind)
       AND (sel_exchange IS NULL OR sel_exchange = c.exchange)),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY case_id ORDER BY spec DESC, rule_idx DESC) AS rn
        FROM matched) WHERE rn = 1),
    governing AS (
      SELECT c.case_id,
             coalesce(b.providers, '{g_provs}') AS providers,
             coalesce(b.strict, {str(g_strict).upper()}) AS strict
      FROM ctxs c LEFT JOIN best b USING (case_id))
    SELECT g.case_id::BIGINT AS case_id, p.provider,
           (pos > 0 OR NOT g.strict) AS eligible,
           (pos > 0) AS listed,
           (CASE WHEN pos > 0 THEN pos - 1 END)::BIGINT AS rank,
           -- strict is only meaningful for listed providers; FALSE
           -- elsewhere keeps the column total (NULL booleans hash
           -- differently across engines)
           (pos > 0 AND g.strict) AS strict
    FROM governing g CROSS JOIN provs p
    CROSS JOIN LATERAL (SELECT list_position(
        string_split(g.providers, ','), p.provider) AS pos)
    """


@query("r1_policy_resolution", _r1_sql())
def r1_policy_resolution(spark, sf):
    """R1/R2 routing-policy resolution, oracle-checked: the Spark side runs
    the REAL `ProviderPolicy.provider_rank` (specificity ordering, equal-
    specificity later-rule-wins, strict exclusion, global fallback —
    borsa-types routing policy semantics) over a 7-context x 4-provider
    matrix; the oracle re-derives the whole resolution in SQL from the
    same literal rules. Exercises the exact code path `Catalog.eligible`
    sorts providers with."""
    from borsa_spark.plans.routing_policy import (
        INF,
        ProviderPolicy,
        RoutingContext,
        Selector,
    )

    pol = ProviderPolicy()
    for _idx, s, k, e, provs, strict in _R1_RULES:
        pol.add_rule(
            Selector(symbol=s, kind=k, exchange=e), provs.split(","), strict
        )
    pol.set_global(_R1_GLOBAL[0].split(","), _R1_GLOBAL[1])

    rows = []
    for cid, s, k, e in _R1_CTXS:
        ctx = RoutingContext(symbol=s, kind=k, exchange=e)
        for p in _R1_PROVIDERS:
            res = pol.provider_rank(ctx, p)
            eligible = res is not None
            listed = eligible and res[0] != INF
            rows.append((
                cid, p, eligible, listed,
                res[0] if listed else None,
                bool(listed and res[1]),
            ))
    return spark.createDataFrame(
        rows,
        "case_id long, provider string, eligible boolean, listed boolean, "
        "rank long, strict boolean",
    )


# ---------------------------------------------------------------------------
# T5: supervisor backoff schedule as an oracle-checked query
# ---------------------------------------------------------------------------

_T5_MIN, _T5_FACTOR, _T5_MAX, _T5_ROUNDS = 500, 2, 4000, 6

_T5_SQL = f"""
    SELECT r AS round,
           least({_T5_MIN} * power({_T5_FACTOR}, r), {_T5_MAX})::BIGINT
             AS delay_ms
    FROM range(1, {_T5_ROUNDS} + 1) t(r)
    UNION ALL
    SELECT 0 AS round, {_T5_MIN}::BIGINT AS delay_ms  -- reset-on-success
"""


@query("t5_backoff_schedule", _T5_SQL)
def t5_backoff_schedule(spark, sf):
    """T5 exponential backoff, oracle-checked: drive the REAL supervisor
    state machine (supervisor_sm.rs port) through success -> session end ->
    {{tick, start-fail}} x N and record every ScheduleBackoffTick delay it
    emits; the oracle is the closed form min(min_backoff * factor^k, cap)
    plus the reset-to-min row that a success from cooldown must produce.
    The retry cadence a 1000-executor deployment would hammer providers
    with is now hash-pinned, not only asserted in pytest."""
    from borsa_spark.errors import ProviderTimeout
    from borsa_spark.streaming import (
        BackoffTick,
        ScheduleBackoffTick,
        SessionEnded,
        StartFailed,
        StartSucceeded,
        make_supervisor,
    )

    sm = make_supervisor(
        [["AAPL"]], min_backoff_ms=_T5_MIN, factor=_T5_FACTOR,
        max_backoff_ms=_T5_MAX,
    )
    sm, _ = sm.handle(BackoffTick())
    sm, _ = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
    sm, _ = sm.handle(SessionEnded(id=0))
    rows = []
    for rnd in range(1, _T5_ROUNDS + 1):
        sm, actions = sm.handle(BackoffTick())
        ticks = [a for a in actions if isinstance(a, ScheduleBackoffTick)]
        rows.append((rnd, ticks[-1].delay_ms))
        sm, _ = sm.handle(StartFailed(id=0, error=ProviderTimeout("x")))
    # success from cooldown resets the backoff to min
    sm, _ = sm.handle(BackoffTick())
    sm, _ = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
    rows.append((0, sm.backoff_ms))
    return spark.createDataFrame(rows, "round long, delay_ms long")


# ---------------------------------------------------------------------------
# R8: error-collapse rules as an oracle-checked query
# ---------------------------------------------------------------------------

#: (case_id, attempted, error kinds csv, not_found_what or None)
_R8_CASES = [
    (1, 0, "", None),
    (2, 1, "ProviderTimeout", None),
    (3, 2, "ProviderTimeout,ProviderTimeout", None),
    (4, 2, "NotFoundError,NotFoundError", "quote AAPL"),
    (5, 2, "NotFoundError", None),
    (6, 2, "ProviderTimeout,NotFoundError", None),
    (7, 1, "RateLimited", None),
    (8, 3, "ProviderTimeout,ProviderTimeout", None),  # 2 of 3 timed out
]

_R8_VALUES = ", ".join(
    "({}, {}, '{}', {})".format(
        cid, att, errs, f"'{what}'" if what else "NULL"
    )
    for cid, att, errs, what in _R8_CASES
)

_R8_SQL = f"""
    WITH cases(case_id, attempted, errs, what) AS (VALUES {_R8_VALUES}),
    parsed AS (
      SELECT case_id, attempted, what,
             CASE WHEN errs = '' THEN [] ELSE string_split(errs, ',') END
               AS kinds
      FROM cases)
    SELECT case_id::BIGINT AS case_id,
      CASE
        WHEN attempted = 0 OR len(kinds) = 0 THEN 'UnsupportedError'
        WHEN len(kinds) = attempted AND len(list_filter(kinds,
             k -> k = 'ProviderTimeout')) = len(kinds)
          THEN 'AllProvidersTimedOut'
        WHEN what IS NOT NULL AND len(list_filter(kinds,
             k -> k = 'NotFoundError')) = len(kinds)
          THEN 'NotFoundError'
        WHEN len(kinds) = 1 THEN kinds[1]
        ELSE 'AllProvidersFailed'
      END AS collapsed
    FROM parsed
"""


@query("r8_error_collapse", _R8_SQL)
def r8_error_collapse(spark, sf):
    """R8 error taxonomy collapse, oracle-checked: the REAL
    `errors.collapse_errors` (reference util.rs:30-60 rules — nothing
    attempted -> Unsupported, all-timeouts -> AllProvidersTimedOut,
    all-not-found with a target -> NotFound, singleton -> itself, else
    AllProvidersFailed) over a case matrix; the oracle re-derives the
    rules in SQL over the same literal kind lists."""
    from borsa_spark import errors as E

    mk = {
        "ProviderTimeout": lambda: E.ProviderTimeout("t"),
        "NotFoundError": lambda: E.NotFoundError("n"),
        "RateLimited": lambda: E.RateLimited("r"),
    }
    rows = []
    for cid, att, errs, what in _R8_CASES:
        errors = [mk[k]() for k in errs.split(",") if k]
        out = E.collapse_errors(att, errors, "quote", not_found_what=what)
        rows.append((cid, type(out).__name__))
    return spark.createDataFrame(rows, "case_id long, collapsed string")


# ---------------------------------------------------------------------------
# f40-f41: containment dedup and corpus-LM quality — round-4 additions to
# the training-data family
# ---------------------------------------------------------------------------

_F40_SQL = f"""
    WITH sh AS ({_SH_CTE}),
    dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    rare AS (SELECT sh.id, sh.shingle FROM sh JOIN dfc USING (shingle)
             WHERE df <= 100),
    cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
             FROM rare x JOIN rare y USING (shingle) WHERE x.id < y.id),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b, i.n_inter::BIGINT AS n_inter,
           sa.n_sh::BIGINT AS n_a, sb.n_sh::BIGINT AS n_b,
           round(i.n_inter * 1.0 / least(sa.n_sh, sb.n_sh), 4)
             AS containment,
           round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 4)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.9
"""


@query("f40_containment_pairs", _F40_SQL)
def f40_containment_pairs(spark, sf):
    """Asymmetric containment dedup: pairs where the smaller document's
    shingle set is >= 90% contained in the larger's — the subset-duplicate
    case (quotes, excerpt reposts, doc-inside-doc) that symmetric
    Jaccard/MinHash-LSH banding structurally misses. Candidates come from
    an equi-join on non-ubiquitous shingles (document frequency <= 100),
    the PPJoin prefix idea as a relational plan; exact intersections run
    only over that candidate space.

    Scale shape: see ``containment_pairs`` — the df cap bounds every
    per-shingle join fanout, intersections reuse verify_jaccard's
    candidates ⨝ shingles ⨝ shingles equi-join shape, and sizes aggregate
    over the candidate sliver only.
    """
    docs = load_table(spark, sf, "documents")
    return _dd.containment_pairs(docs, n=3, threshold=0.9)


_F41_SQL = """
    WITH toks AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tok
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) t),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c) AS n FROM cnt)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           round(avg(ln(c * 1.0 / n)), 4) AS avg_logprob
    FROM toks JOIN cnt USING (tok) CROSS JOIN tot
    GROUP BY doc_id
"""


@query("f41_unigram_logprob", _F41_SQL)
def f41_unigram_logprob(spark, sf):
    """Corpus-LM quality score: per-document mean log-probability under
    the corpus's own unigram model — the KenLM-perplexity-filter stage of
    a training pipeline reduced to its self-contained analog (documents
    full of corpus-typical tokens score high; gibberish and off-
    distribution text score low; exp(-avg_logprob) is the perplexity).

    Scale shape: tokens are hashed to int64 at the explode (the same
    portable-hash trick as shingles — every downstream shuffle moves 8
    bytes, not words); the model is one groupBy on the hashed token with
    map-side combine; the corpus total is a broadcastable 1-row aggregate;
    scoring re-joins tokens to the model on the hash key (shuffle
    partitioning reused) and folds per-doc with map-side combine. Natural
    log of identical doubles, averaged then rounded 4dp — stable across
    engines.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("__w")
    ).select("doc_id", _dd.token_hash64(F.col("__w")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    model = cnt.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("c") / F.col("n")).alias("logp")
    )
    return (
        toks.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("logp"), 4).alias("avg_logprob"),
        )
    )


_F42_SQL = """
    WITH toks AS (
      SELECT source,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tok
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents) t),
    st AS (SELECT source, tok, count(*) AS c FROM toks
           GROUP BY source, tok),
    stot AS (SELECT source, sum(c) AS n FROM st GROUP BY source),
    ct AS (SELECT tok, sum(c) AS cc FROM st GROUP BY tok),
    ctot AS (SELECT sum(cc) AS nn FROM ct)
    SELECT st.source, stot.n::BIGINT AS n_tokens,
           round(sum((st.c * 1.0 / stot.n)
                     * ln((st.c * 1.0 / stot.n) / (ct.cc * 1.0 / ctot.nn))),
                 4) AS kl_divergence
    FROM st
    JOIN stot USING (source)
    JOIN ct USING (tok)
    CROSS JOIN ctot
    GROUP BY st.source, stot.n
"""


@query("f42_source_kl_divergence", _F42_SQL)
def f42_source_kl_divergence(spark, sf):
    """Per-source distribution drift: KL(source unigram || corpus unigram)
    — the ingest-monitoring stage that flags a crawl source whose token
    distribution has shifted away from the corpus (spam floods, template
    takeover, language drift) before it pollutes the training mix. Every
    source term has corpus support by construction (the corpus contains
    the source), so the KL sum is always finite.

    Scale shape: one groupBy on (source, hashed token) with map-side
    combine is the only corpus-sized shuffle; per-source totals and the
    corpus model derive from that ALREADY-AGGREGATED table (vocab-sized,
    re-aggregated on its existing key); the final fold is per source
    (#sources rows). Tokens shuffle as 8-byte hashes throughout.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("__w")
    ).select("source", _dd.token_hash64(F.col("__w")).alias("tok"))
    # st is the vocab-x-sources aggregate with FOUR consumers (probe,
    # stot, ct, ctot-via-ct) — persist it so the corpus explode runs
    # once (round-9 audit: 4 document scans before); the docstring's
    # "derive from the already-aggregated table" now holds physically
    st = (
        toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
        .persist()
    )
    stot = st.groupBy("source").agg(F.sum("c").alias("n"))
    ct = st.groupBy("tok").agg(F.sum("c").alias("cc"))
    ctot = ct.agg(F.sum("cc").alias("nn"))
    p_s = F.col("c") / F.col("n")
    p_c = F.col("cc") / F.col("nn")
    return (
        st.join(F.broadcast(stot), "source")
        .join(ct, "tok")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source", "n")
        .agg(F.round(F.sum(p_s * F.log(p_s / p_c)), 4).alias("kl_divergence"))
        .select(
            "source", F.col("n").cast("long").alias("n_tokens"),
            "kl_divergence",
        )
    )


_F43_SQL = """
    SELECT doc_id,
           n_tokens::BIGINT AS n_tokens,
           round(distinct_ratio, 4) AS distinct_ratio,
           round(dup3_ratio, 4) AS dup3_ratio,
           r_len, r_div, r_rep,
           (r_len AND r_div AND r_rep) AS keep
    FROM (
      SELECT doc_id, n_tokens, distinct_ratio, dup3_ratio,
             n_tokens BETWEEN 25 AND 1000 AS r_len,
             distinct_ratio >= 0.30 AS r_div,
             dup3_ratio <= 0.20 AS r_rep
      FROM (
        SELECT doc_id,
               len(w) AS n_tokens,
               len(list_distinct(w)) * 1.0 / len(w) AS distinct_ratio,
               CASE WHEN len(w) >= 3 THEN
                 1.0 - len(list_distinct(list_transform(
                     generate_series(1, len(w) - 2),
                     i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
                   * 1.0 / (len(w) - 2)
               ELSE 0.0 END AS dup3_ratio
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents) s) t) flags
"""


@query("f43_quality_gate", _F43_SQL)
def f43_quality_gate(spark, sf):
    """Ensemble admission gate (C4/Gopher-style): per-document pass/fail
    on each cheap quality rule — length band, lexical diversity,
    duplicate-3-gram repetition — plus the conjunction as the keep
    decision, with every rule's verdict emitted so filtering is auditable
    (never a silent drop; rejected docs show WHICH rule fired).

    Scale shape: every rule is per-row array math inside whole-stage
    codegen — no explode, no shuffle, nothing leaves the row. The gate
    runs at scan speed over 100 TB and composes upstream of the shuffling
    stages (dedup, corpus-model scoring) so they only pay for admitted
    documents.
    """
    docs = load_table(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)) / n_tokens
    n_grams = F.greatest(n_tokens - 2, F.lit(0))
    grams = F.when(
        n_tokens >= 3,
        F.transform(
            F.sequence(F.lit(1), n_tokens - 2),
            lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup3_ratio = F.when(
        n_grams > 0, 1.0 - F.size(F.array_distinct(grams)) / n_grams
    ).otherwise(F.lit(0.0))
    r_len = (n_tokens >= 25) & (n_tokens <= 1000)
    r_div = distinct_ratio >= 0.30
    r_rep = dup3_ratio <= 0.20
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(dup3_ratio, 4).alias("dup3_ratio"),
        r_len.alias("r_len"),
        r_div.alias("r_div"),
        r_rep.alias("r_rep"),
        (r_len & r_div & r_rep).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Document chunking + PII scrub
# ---------------------------------------------------------------------------


@query("f44_doc_chunks", _dd.sql_doc_chunks(64, 48))
def f44_doc_chunks(spark, sf):
    """Sliding-window chunking (64-token windows, stride 48) — the op
    that turns documents into training-sized pieces. In-row arithmetic +
    one explode, zero shuffles; emits chunk HASHES so downstream dedup
    moves fixed-size keys, not text."""
    return _dd.doc_chunks(load_table(spark, sf, "documents"), 64, 48)


@query("f47_pii_scrub", _tx.sql_pii_scrub())
def f47_pii_scrub(spark, sf):
    """PII detect + redact accounting (email/SSN/phone/IPv4), all
    JVM-side regex at scan speed. This fixture corpus is clean (all
    zeros, redacted_hash == md5(text)) — dirty-text behavior is
    pinned by tests/test_retrieval_pii.py on constructed rows."""
    return _tx.pii_scrub(load_table(spark, sf, "documents"))


@query(
    "f49_bpe_pair_counts",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    pairs AS (
      SELECT toks[i] || ' ' || toks[i + 1] AS pair
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, n - 1)) AS i
            FROM t WHERE n >= 2)),
    counted AS (
      SELECT pair, count(*)::BIGINT AS n_pair FROM pairs GROUP BY pair),
    ranked AS (
      SELECT pair, n_pair,
             row_number() OVER (ORDER BY n_pair DESC, pair ASC) AS rank
      FROM counted)
    SELECT rank::BIGINT AS rank, pair, n_pair FROM ranked WHERE rank <= 50
    """,
)
def f49_bpe_pair_counts(spark, sf):
    """One BPE-trainer merge round as a DataFrame program: count adjacent
    token pairs corpus-wide, rank the top-50 merge candidates. In-row
    pair construction (sequence + transform) + one map-side-combinable
    groupBy; the rank window runs over the pair-vocabulary aggregate
    (tiny), never the corpus. Deterministic rank: (count desc, pair asc).

    Scale shape: the iterative trainer repeats this with the winning pair
    merged — each round is the same single-shuffle program; at 100 TB the
    pair vocab aggregate is the only thing that leaves the scan."""
    docs = load_table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n_pair"))
    w = Window.orderBy(F.col("n_pair").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 50)
        .select("rank", "pair", "n_pair")
    )


@query(
    "f50_curriculum_deciles",
    """
    SELECT doc_id, source,
           ntile(10) OVER (
             PARTITION BY source ORDER BY n_chars ASC, doc_id ASC
           )::BIGINT AS decile
    FROM documents
    """,
)
def f50_curriculum_deciles(spark, sf):
    """Curriculum binning: per-source difficulty deciles by document
    length (ntile window, doc_id tiebreak so the assignment is total and
    engine-portable). The op behind length-staged training schedules;
    one shuffle on source, window over each source partition."""
    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return docs.select(
        "doc_id", "source", F.ntile(10).over(w).cast("long").alias("decile")
    )


# ---------------------------------------------------------------------------
# Round 4, continued: admission filters and training order
# ---------------------------------------------------------------------------

_BLOCKLIST = ("dup", "slow", "crash")
_BLOCK_DENSITY = 0.10


@query(
    "f53_blocklist_filter",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents),
    h AS (
      SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             len(list_filter(toks, w -> w IN {_BLOCKLIST!r}))::BIGINT
               AS n_blocked_hits,
             len(list_distinct(list_filter(toks, w -> w IN {_BLOCKLIST!r})))
               ::BIGINT AS n_blocked_terms
      FROM t)
    SELECT doc_id, n_tokens, n_blocked_hits, n_blocked_terms,
           (n_blocked_hits <= {_BLOCK_DENSITY} * n_tokens) AS keep
    FROM h
    """,
)
def f53_blocklist_filter(spark, sf):
    """Blocklist admission filter (the C4 "bad words" rule, density
    variant): per doc, count token hits against a broadcast term
    blocklist and keep the doc only while blocked tokens stay under 10%
    of its length — the density form is what real pipelines use so a
    single quoted profanity doesn't nuke an encyclopedia article.

    Scale shape: the blocklist is a literal in the plan (real deployments
    broadcast it); hits are counted with in-row array ops on the token
    split — no explode, no shuffle, scan speed, whole-stage codegen. The
    verdict column keeps every doc in the output so the gate hashes the
    decision itself, not just the survivors.
    """
    toks = F.split(F.col("text"), " ")
    hits = F.filter(toks, lambda w: w.isin(*_BLOCKLIST))
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(hits).cast("long").alias("n_blocked_hits"),
        F.size(F.array_distinct(hits)).cast("long").alias("n_blocked_terms"),
    ).withColumn(
        "keep",
        F.col("n_blocked_hits") <= _BLOCK_DENSITY * F.col("n_tokens"),
    )


_SHUFFLE_SEED = "epoch0:"


@query(
    "f54_training_order",
    f"""
    WITH t AS (
      SELECT doc_id,
             md5('{_SHUFFLE_SEED}' || doc_id::VARCHAR) AS shuffle_key
      FROM documents)
    SELECT doc_id,
           row_number() OVER (ORDER BY shuffle_key, doc_id) AS position,
           ((row_number() OVER (ORDER BY shuffle_key, doc_id) - 1) % 8)
             ::BIGINT AS shard
    FROM t
    """,
)
def f54_training_order(spark, sf):
    """Deterministic seeded corpus shuffle for training order: position =
    rank of md5(seed || doc_id), shard = position mod n_shards. Changing
    the seed string re-shuffles every epoch reproducibly on any engine —
    the hash IS the random number, so there is no RNG state to
    coordinate across executors or rounds.

    Scale shape — hierarchical rank, NOT a global window: a bare
    ``row_number() OVER (ORDER BY key)`` compiles to a SinglePartition
    exchange (all 100 TB through one task). Instead the total order is
    split on the key's own first byte: per-bucket local ranks (one
    shuffle on a uniform 256-way prefix — md5 guarantees balance
    regardless of doc_id skew) plus broadcast cumulative bucket offsets
    (a window over the 256-row count table). position = offset + local
    rank is exact because ordering by the key orders by its prefix
    first. The mod-shard column turns the ordering into a write plan
    (shard = output file). The oracle keeps the single-window SQL form —
    same total order, different physical strategy.
    """
    docs = load_table(spark, sf, "documents")
    t = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    ).withColumn("__bucket", F.substring("shuffle_key", 1, 2))
    wb = Window.partitionBy("__bucket").orderBy("shuffle_key", "doc_id")
    ranked = t.withColumn("__local_rank", F.row_number().over(wb))
    woff = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        t.groupBy("__bucket")
        .agg(F.count("*").alias("__n"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__n").over(woff), F.lit(0))
        )
        .select("__bucket", "__offset")
    )
    return (
        ranked.join(F.broadcast(offsets), "__bucket")
        .select(
            "doc_id",
            (F.col("__offset") + F.col("__local_rank")).alias("position"),
        )
        .withColumn("shard", ((F.col("position") - 1) % 8).cast("long"))
    )


@query(
    "f59_jpeg_features",
    """
    SELECT doc_id AS asset_id,
           (4 + doc_id % 13)::BIGINT AS width,
           (4 + doc_id % 7)::BIGINT  AS height,
           'jpeg' AS decoder,
           round(((doc_id % 256) + (doc_id * 7 % 256)
                  + (doc_id * 13 % 256)) / 3.0 / 255.0, 4) AS source_luma,
           TRUE AS luma_within_1pct
    FROM documents
    """,
)
def f59_jpeg_features(spark, sf):
    """Multimodal: REAL baseline-JPEG decode end-to-end (functions/
    jpeg.py — pure-Python T.81: Huffman entropy decode, dequant, IDCT,
    YCbCr->RGB). f16's analytic-oracle pattern with an envelope
    twist: JPEG is lossy, so instead of pinning the decoded luma exactly
    the oracle pins the CONTRACT — per solid-color image (dims and RGB
    derived from doc_id alone, encoded at quality 90), the decoded mean
    luma must land within 1% of the source color's luma. A flat block is
    DC-only, so a decoder that misreads the quant tables, the Huffman
    spec tables, the zigzag, or the YCbCr matrix blows the envelope (a
    wrong IDCT scale shows up as a proportional luma shift). Dimensions
    and the decoder tag are pinned exactly.

    Scale shape: same as f16 — binary payloads through Arrow-batched
    mapInPandas, small typed feature rows out, nothing collects."""
    import pandas as pd

    from borsa_spark.functions import multimodal as mm
    from borsa_spark.functions.jpeg import encode_jpeg

    # widen the id scan before the Arrow gen: single-row-group local
    # input => one Python worker otherwise (round 13; no-op multi-file)
    docs = _dd.widen_if_narrow(
        load_table(spark, sf, "documents").select("doc_id"))

    def gen(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 13, 4 + did % 7
                rgb = (did % 256, (did * 7) % 256, (did * 13) % 256)
                img = np.tile(
                    np.array(rgb, dtype=np.uint8), (h, w, 1)
                )
                out.append((did, encode_jpeg(img, quality=90)))
            yield pd.DataFrame(out, columns=["asset_id", "payload"])

    assets = docs.mapInPandas(gen, "asset_id long, payload binary")
    feats = mm.image_features(assets)
    src_luma = (
        (F.col("asset_id") % 256)
        + (F.col("asset_id") * 7 % 256)
        + (F.col("asset_id") * 13 % 256)
    ) / 3.0 / 255.0
    return feats.select(
        "asset_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "decoder",
        F.round(src_luma, 4).alias("source_luma"),
        (F.abs(F.col("mean_luma") - src_luma) <= 0.01)
            .alias("luma_within_1pct"),
    )


@query(
    "f61_substring_spans",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    pos AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w) - 4, 0))) AS pos
      FROM words),
    g AS (
      SELECT doc_id, pos,
             array_to_string(w[pos:pos+4], ' ') AS gram
      FROM pos),
    rare AS (
      SELECT gram FROM g GROUP BY gram
      HAVING count(DISTINCT doc_id) <= 50),
    r AS (SELECT g.* FROM g JOIN rare USING (gram)),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
      FROM r a JOIN r b
        ON a.gram = b.gram AND a.doc_id < b.doc_id),
    runs AS (
      SELECT *, pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
      FROM m)
    SELECT id_a, id_b,
           min(pos_a)::BIGINT AS start_a,
           min(pos_b)::BIGINT AS start_b,
           (count(*) + 4)::BIGINT AS len_tokens
    FROM runs GROUP BY id_a, id_b, diag, grp
    HAVING count(*) + 4 >= 8
    """,
)
def f61_substring_spans(spark, sf):
    """Cross-document repeated-substring spans (Lee et al. exact
    substring dedup, suffix-array semantics as a shuffle-native plan):
    maximal runs of >= 8 consecutive shared word tokens between document
    pairs, via 5-gram anchors + diagonal gaps-and-islands — see
    ``repeated_substring_spans``. The oracle replays anchors on the raw
    gram STRINGS while Spark joins on xxhash64(gram) (the scale path);
    a hash-collision-induced phantom anchor would have to survive 4
    consecutive collisions to reach min_len, so the hash-match doubles
    as a collision audit."""
    docs = load_table(spark, sf, "documents")
    spans = _dd.repeated_substring_spans(
        docs, k=5, min_len=8, max_gram_df=50
    )
    return spans.select(
        "id_a", "id_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        F.col("len_tokens").cast("long").alias("len_tokens"),
    )


@query(
    "f64_repetition_signals",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    uni AS (
      SELECT doc_id, count(*) AS n_words, count(DISTINCT w) AS n_distinct
      FROM words GROUP BY doc_id),
    lists AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS g
      FROM lists WHERE len(l) >= 2),
    bg AS (SELECT doc_id, g, count(*) AS c FROM bigrams GROUP BY doc_id, g),
    top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS total
            FROM bg GROUP BY doc_id)
    SELECT u.doc_id,
           u.n_words::BIGINT                AS n_words,
           u.n_distinct::BIGINT             AS n_distinct,
           coalesce(t.top_c, 0)::BIGINT     AS top_c,
           coalesce(t.total, 0)::BIGINT     AS n_bigrams
    FROM uni u LEFT JOIN top t USING (doc_id)
    """,
)
def f64_repetition_signals(spark, sf):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public paper): per document, word count, distinct-word count, the
    count of the single most frequent word bigram, and total bigrams —
    the exact integers behind the dup-word and top-bigram fractions a
    pipeline thresholds on (`text.repetition_signals` also emits the
    rounded ratios; the gate hashes the integers, which have no
    cross-engine rounding surface at all). The oracle rebuilds both
    from first principles: unnest + count(distinct) for unigrams,
    list_transform adjacency for bigrams. Complements f32 (duplicate
    3-gram RATIO, in-row): top-bigram dominance is the signal that
    catches "word word word ..." spam a duplicate-ngram ratio
    under-weights, and it genuinely needs the per-bigram groupBy.

    Scale shape: unigram stats are in-row (`array_distinct` in
    codegen, no shuffle); the bigram side explodes to |words| rows and
    runs two partial-aggregatable groupBys keyed by doc_id — no
    window, no cross-doc traffic. Beyond-reference LLM-pipeline
    surface (quality filtering)."""
    from borsa_spark.functions.text import repetition_signals

    docs = load_table(spark, sf, "documents")
    return repetition_signals(docs).drop("dup_word_frac", "top_bigram_frac")


@query(
    "f67_winnow_fingerprints",
    """
    WITH lists AS (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents WHERE len(string_split(text, ' ')) >= 6),
    grams AS (
      SELECT doc_id, len(l) - 2 AS n_grams,
             unnest(range(1, len(l) - 1)) AS pos,
             unnest(list_transform(
                 range(1, len(l) - 1),
                 i -> md5(l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS h
      FROM lists),
    win AS (
      SELECT doc_id, n_grams, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams)
    SELECT doc_id,
           any_value(n_grams)::BIGINT AS n_grams,
           count(DISTINCT fp)::BIGINT AS n_fp,
           min(fp) AS min_fp,
           max(fp) AS max_fp
    FROM win WHERE pos + 3 <= n_grams
    GROUP BY doc_id
    """,
)
def f67_winnow_fingerprints(spark, sf):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    the MOSS algorithm, public paper): md5 every word 3-gram, slide a
    4-hash window, keep each window's lexicographic minimum. Any shared
    run of >= 6 words between two documents shares a fingerprint at
    ~1/4 the storage of full shingling — the classic position-robust
    near-dup signature. Hash and minimum are both engine-portable
    (md5 hex + string ordering), so the oracle replays the fingerprint
    selection byte-for-byte: per doc, gram count, distinct-fingerprint
    count, and the extreme fingerprints themselves.

    Scale shape: explode to one row per 3-gram (|words| rows keyed by
    doc_id), one per-doc ordered window whose state is 4 hashes, one
    partial-aggregatable groupBy — the same plan family as a9's spans.
    Docs shorter than 6 words yield no full window and no row, matching
    the paper's definition. Beyond-reference LLM-pipeline surface
    (document fingerprinting)."""
    from borsa_spark.functions.text import winnow_fingerprints

    docs = load_table(spark, sf, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


@query(
    "f68_winnow_pairs",
    """
    WITH lists AS (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents WHERE len(string_split(text, ' ')) >= 6),
    grams AS (
      SELECT doc_id, len(l) - 2 AS n_grams,
             unnest(range(1, len(l) - 1)) AS pos,
             unnest(list_transform(
                 range(1, len(l) - 1),
                 i -> md5(l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS h
      FROM lists),
    win AS (
      SELECT doc_id, n_grams, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams),
    sel AS (SELECT DISTINCT doc_id, fp FROM win WHERE pos + 3 <= n_grams),
    rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*)::BIGINT AS shared_fps
    FROM sel a JOIN sel b USING (fp)
    WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM rare)
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def f68_winnow_pairs(spark, sf):
    """The MOSS pair screen over f67's fingerprints: document pairs
    sharing >= 2 winnowing fingerprints, with fingerprints present in
    > 50 docs dropped first (corpus boilerplate identifies nothing and
    is what would make the fp self-join fan out df²-style — the f40/f61
    cap discipline). This is the fingerprints' actual use: a cheap
    candidate generator whose pairs feed the exact substring-span
    extractor (f61) restricted to candidates instead of corpus-wide.
    The oracle replays selection, cap, and pair counts byte-for-byte
    (portable md5 + lexicographic min).

    Scale shape: per-(doc, fp) dedup and the df cap are partial-
    aggregatable fp-keyed groupBys; the pair join's per-key fanout is
    bounded by the cap; the final agg is keyed by the pair. Candidates
    track true overlap, never corpus²."""
    from borsa_spark.functions.text import winnow_pairs

    docs = load_table(spark, sf, "documents")
    return winnow_pairs(docs, k=3, w=4, min_shared=2, max_fp_df=50)


@query("f72_paragraph_dedup", None)
def f72_paragraph_dedup(spark, sf):
    """Dolma/Gopher paragraph-level exact dedup accounting
    (functions/dedup.py `paragraph_dedup_stats`): non-overlapping
    12-token paragraphs, md5 per paragraph, distinct-doc df per hash,
    per-doc integer counts of duplicated paragraphs/words. The oracle
    replays the chunk math + df rule in SQL (sql_paragraph_dedup_stats
    — interpolated below via module import at registration time).

    Scale shape: in-row chunking; chunk_hash-keyed partial-agg groupBy;
    equi-join back on chunk_hash; doc_id-keyed final agg."""
    from borsa_spark.functions.dedup import paragraph_dedup_stats

    docs = load_table(spark, sf, "documents")
    return paragraph_dedup_stats(docs, para_words=12)


@query("f73_unigram_lm_score", None)
def f73_unigram_lm_score(spark, sf):
    """CCNet-style corpus-self-trained LM quality score
    (functions/text.py `unigram_logprob_scores`): add-1-smoothed
    unigram LM fit on the corpus in one aggregation, every doc scored
    by mean token ln-probability (round-4 portable float — see the
    function docstring's error budget).

    Scale shape: token-keyed vocab groupBy; per-(doc, token) tf
    pre-agg; vocab-relation join (broadcast at test scale, token-keyed
    equi-join at 100 TB); doc_id-keyed final agg."""
    from borsa_spark.functions.text import unigram_logprob_scores

    docs = load_table(spark, sf, "documents")
    return unigram_logprob_scores(docs)


@query("f74_dsir_weights", None)
def f74_dsir_weights(spark, sf):
    """DSIR importance resampling weights (functions/text.py
    `dsir_importance_weights`, Xie et al. 2023): hashed-bigram add-1
    models of target (source in src0/src1 — 10% of the corpus) vs raw,
    per-doc log-likelihood ratio. Top-llr selection tilts the mixture
    toward the target domain.

    Scale shape: two 1024-bucket partial-agg groupBys fit both
    distributions; bucket-weight relation broadcast; per-(doc, bucket)
    tf pre-agg then doc_id-keyed agg. Nothing scales with vocab."""
    from borsa_spark.functions.text import dsir_importance_weights

    docs = load_table(spark, sf, "documents")
    return dsir_importance_weights(
        docs, F.col("source").isin("src0", "src1")
    )


@query("f75_dsir_resample", None)
def f75_dsir_resample(spark, sf):
    """DSIR's actual selection step (functions/text.py
    `dsir_gumbel_topk`): weighted sampling WITHOUT replacement
    proportional to exp(llr/T) via the Gumbel-top-k trick, with
    DETERMINISTIC engine-portable noise (md5-bucket uniform ->
    -ln(-ln(u))) so the same 100 docs are selected on every engine,
    every retry, every partitioning. Keys snapped to 6 decimals with a
    doc_id tie-break so the selection boundary cannot flip on ~1-ulp
    ln() differences.

    Scale shape: llr = f74's one-corpus-scan plan; selection compiles
    to TakeOrderedAndProject (per-partition k-heaps, no global sort)."""
    from borsa_spark.functions.text import dsir_gumbel_topk

    docs = load_table(spark, sf, "documents")
    return dsir_gumbel_topk(
        docs, F.col("source").isin("src0", "src1"), k=100
    )


@query(
    "f76_bloom_decontaminate",
    f"""
    WITH sh AS ({_SH8_CTE}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE id % 7 = 0),
    hits AS (
      SELECT s.id, count(*) AS n
      FROM sh s JOIN bench b USING (shingle)
      WHERE s.id % 7 <> 0
      GROUP BY s.id)
    SELECT id AS doc_id, n::BIGINT AS n_shared FROM hits
    """,
)
def f76_bloom_decontaminate(spark, sf):
    """f28's decontamination at the 100 TB shape (functions/dedup.py
    `bloom_decontaminate`): a first-principles Bloom filter (bit_or
    aggregation over bit-words — Spark's bloom_filter_agg is
    optimizer-internal) prefilters corpus shingles via k chained
    BROADCAST joins (the corpus never shuffles), then the exact join
    runs only on survivors. Bloom filters have no false negatives, so
    the oracle is the EXACT single-stage SQL — the gate proves the
    two-stage plan preserves exact semantics, not just approximates
    them. FPR at these parameters (m=2^20, k=3) is < 1e-3 even at the
    sf0.1 benchmark-shingle count.

    Scale shape: the filter relation is m/64 = 16k longs regardless of
    corpus size; fit is a word-keyed bit_or partial agg over the
    (bounded) benchmark set; probe is map-side; only the true-overlap
    survivor set reaches the confirm join."""
    from borsa_spark.functions.dedup import bloom_decontaminate

    docs = load_table(spark, sf, "documents")
    return bloom_decontaminate(docs, F.col("id") % 7 == 0, n=8)


@query("f77_logreg_quality_score", None)
def f77_logreg_quality_score(spark, sf):
    """In-engine quality-classifier TRAINING (functions/classifier.py
    `hashed_logreg_scores`): 3 full-batch logistic-GD steps over
    256-bucket hashed-bigram features, labels = the f74 target split
    (src0/src1), then every document scored by the trained model — the
    discriminative half of the CCNet filter next to f74's generative
    llr. Weights snap to 8 decimals per update (a snapped fixpoint)
    so the iteration-unrolled DuckDB
    oracle lands on bit-identical weights.

    Scale shape: one corpus scan into a checkpointed per-(doc, bucket)
    feature relation; per iteration two bounded aggregations over it
    (doc-keyed z, bucket-keyed gradient <= 257 rows to the driver —
    the MLlib master-update pattern)."""
    from borsa_spark.functions.classifier import hashed_logreg_scores

    docs = load_table(spark, sf, "documents")
    return hashed_logreg_scores(
        docs, F.col("source").isin("src0", "src1")
    )


@query("f78_bigram_backoff_score", None)
def f78_bigram_backoff_score(spark, sf):
    """Stupid Backoff bigram LM quality scoring (functions/text.py
    `bigram_backoff_scores`, Brants et al. 2007): the LM is fit on the
    75% train split (doc_id % 4 != 0) and EVERY document is scored, so
    the held-out quarter exercises the backoff path on bigrams the
    train split never saw — the CCNet filter shape (train on trusted
    text, score the crawl) one model order above f73's unigram LM.

    Scale shape: one corpus scan (shared per-(doc, flag, w1, w2) tf
    subtree; train counts are conditional sums, not pushed-down
    filters); bigram-keyed score join; doc_id-keyed final agg."""
    from borsa_spark.functions.text import bigram_backoff_scores

    docs = load_table(spark, sf, "documents")
    return bigram_backoff_scores(docs, F.col("doc_id") % 4 != 0)


@query(
    "f83_corpus_card",
    """
    WITH per_doc AS (
      SELECT doc_id, source,
             md5(text) AS h,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_words,
             length(text) AS n_chars
      FROM documents),
    hashes AS (
      SELECT h, count(*) AS c FROM per_doc GROUP BY h)
    SELECT 'n_docs' AS metric, count(*)::DOUBLE AS value FROM per_doc
    UNION ALL
    SELECT 'total_words', sum(n_words)::DOUBLE FROM per_doc
    UNION ALL
    SELECT 'total_chars', sum(n_chars)::DOUBLE FROM per_doc
    UNION ALL
    SELECT 'mean_doc_words', round(avg(n_words), 4) FROM per_doc
    UNION ALL
    SELECT 'p50_doc_words', round(quantile_cont(n_words, 0.5), 4)
    FROM per_doc
    UNION ALL
    SELECT 'p90_doc_words', round(quantile_cont(n_words, 0.9), 4)
    FROM per_doc
    UNION ALL
    SELECT 'distinct_sources', count(DISTINCT source)::DOUBLE
    FROM per_doc
    UNION ALL
    SELECT 'exact_dup_docs', coalesce(sum(c - 1), 0)::DOUBLE FROM hashes
    WHERE c > 1
    UNION ALL
    SELECT 'exact_dup_groups', count(*)::DOUBLE FROM hashes WHERE c > 1
    """,
)
def f83_corpus_card(spark, sf):
    """The corpus card (dataset-datasheet numbers every pipeline owner
    reports): doc/word/char totals, exact word-count percentiles, source
    diversity, exact-dup accounting — one small metrics relation.

    Scale shape: ONE corpus scan computes the per-doc relation (words
    via in-row split, md5 via JVM hash), EAGERLY checkpointed — a lazy
    checkpoint lets the consumer stages race and each re-runs the
    corpus lineage (observed: ~6 redundant scans in one action). Two
    consumers total: one scalar aggregate computing all seven
    corpus-level metrics (unpivoted via stack) and the dup-accounting
    groupBy. Spark `percentile` is exact interpolated, matching DuckDB
    quantile_cont."""
    docs = load_table(spark, sf, "documents")
    per_doc = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(
            F.expr("filter(split(text, ' '), w -> w <> '')")
        ).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
    ).localCheckpoint(eager=True)

    scalars = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("n_words").cast("double").alias("total_words"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        F.round(F.avg("n_words"), 4).alias("mean_doc_words"),
        F.round(F.expr("percentile(n_words, 0.5)"), 4).alias(
            "p50_doc_words"
        ),
        F.round(F.expr("percentile(n_words, 0.9)"), 4).alias(
            "p90_doc_words"
        ),
        F.countDistinct("source").cast("double").alias(
            "distinct_sources"
        ),
    ).selectExpr(
        "stack(7,"
        " 'n_docs', n_docs,"
        " 'total_words', total_words,"
        " 'total_chars', total_chars,"
        " 'mean_doc_words', mean_doc_words,"
        " 'p50_doc_words', p50_doc_words,"
        " 'p90_doc_words', p90_doc_words,"
        " 'distinct_sources', distinct_sources) AS (metric, value)"
    )
    dups = (
        per_doc.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("double")
            .alias("exact_dup_docs"),
            F.count("*").cast("double").alias("exact_dup_groups"),
        )
        .selectExpr(
            "stack(2,"
            " 'exact_dup_docs', exact_dup_docs,"
            " 'exact_dup_groups', exact_dup_groups) AS (metric, value)"
        )
    )
    return scalars.unionByName(dups)


@query(
    "f86_c4_line_filter",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 3 AS v,
             'the quick brown fox jumps over dog '
               || (doc_id % 7) || '.' AS l1
      FROM documents)
    SELECT doc_id,
           l1 || chr(10) || CASE
             WHEN v = 0 THEN 'lorem ipsum dolor sit amet text here.'
             WHEN v = 1 THEN 'a config snippet { with brace inside }.'
             ELSE 'he said "hello there my good friend."'
           END AS clean_text,
           5::BIGINT AS n_lines,
           2::BIGINT AS n_kept,
           v <> 2 AS page_flagged
    FROM g
    """,
)
def f86_c4_line_filter(spark, sf):
    """C4's cleaning rules where the paper applies them
    (functions/text.py `c4_line_filter`, Raffel et al. 2020 §2.2):
    LINE rules — terminal punctuation, >= 3 words, no 'javascript';
    PAGE rule — lorem-ipsum / curly-brace pages flagged whole. One
    in-row array expression, the text-side stage before document
    scoring. Fixture lines are generated ANALYTICALLY from doc_id with
    every rule load-bearing: a good sentence (kept), a 2-word line
    (dropped by MIN WORDS), a 9-word no-punctuation line (dropped by
    TERMINAL), a 'javascript' line (dropped by the LINE blocklist),
    and a v = doc_id % 3 tail line that is line-clean in all three
    variants but trips the PAGE flag for lorem-ipsum (v0) and brace
    (v1) while the quote-terminated dialogue (v2) stays unflagged — a
    filter that drops page-rule lines, misses the flag, or mis-handles
    any line rule hash-mismatches.

    Scale shape: per-row codegen'd array ops at scan speed, zero
    shuffle (plan-guarded)."""
    from borsa_spark.functions.text import c4_line_filter

    d = F.col("doc_id")
    l1 = F.concat(
        F.lit("the quick brown fox jumps over dog "),
        (d % 7).cast("string"), F.lit("."),
    )
    v = d % 3
    l5 = (
        F.when(v == 0, F.lit("lorem ipsum dolor sit amet text here."))
        .when(v == 1, F.lit("a config snippet { with brace inside }."))
        .otherwise(F.lit('he said "hello there my good friend."'))
    )
    text = F.concat_ws(
        "\n",
        l1,
        F.lit("short line."),
        F.lit("this line has six words but no terminal mark"),
        F.lit("please enable javascript to view this page."),
        l5,
    )
    docs = load_table(spark, sf, "documents").select(
        "doc_id", text.alias("text")
    )
    out = c4_line_filter(F.col("text"))
    return docs.select(
        "doc_id",
        out["clean_text"].alias("clean_text"),
        out["n_lines"].alias("n_lines"),
        out["n_kept"].alias("n_kept"),
        out["page_flagged"].alias("page_flagged"),
    )


#: Shared oracle chain for the two-stage exact-substring family (f93
#: spans, f94 removal): winnow screen (k=3, w=4, min_shared=2,
#: max_fp_df=50) -> candidate pairs -> 5-gram anchor match -> island
#: runs. The f93 SELECT aggregates `runs` into spans; f94 continues
#: with interval merge + token cut.
_F93_CHAIN_SQL = """lists AS (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents WHERE len(string_split(text, ' ')) >= 6),
    wgrams AS (
      SELECT doc_id, len(l) - 2 AS n_grams,
             unnest(range(1, len(l) - 1)) AS pos,
             unnest(list_transform(
                 range(1, len(l) - 1),
                 i -> md5(l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS h
      FROM lists),
    win AS (
      SELECT doc_id, n_grams, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM wgrams),
    fsel AS (SELECT DISTINCT doc_id, fp FROM win WHERE pos + 3 <= n_grams),
    frare AS (SELECT fp FROM fsel GROUP BY fp HAVING count(*) <= 50),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fsel a JOIN fsel b USING (fp)
      WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM frare)
      GROUP BY 1, 2 HAVING count(*) >= 2),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    pos5 AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w) - 4, 0))) AS pos
      FROM words),
    g AS (
      SELECT doc_id, pos, array_to_string(w[pos:pos+4], ' ') AS gram
      FROM pos5),
    m AS (
      SELECT p.id_a, p.id_b, ga.pos AS pos_a, gb.pos AS pos_b,
             ga.pos - gb.pos AS diag
      FROM cand p
      JOIN g ga ON ga.doc_id = p.id_a
      JOIN g gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram),
    runs AS (
      SELECT *, pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
      FROM m)"""


@query(
    "f93_candidate_substring_spans",
    f"""
    WITH {_F93_CHAIN_SQL}
    SELECT id_a, id_b,
           min(pos_a)::BIGINT AS start_a,
           min(pos_b)::BIGINT AS start_b,
           (count(*) + 4)::BIGINT AS len_tokens
    FROM runs GROUP BY id_a, id_b, diag, grp
    HAVING count(*) + 4 >= 8
    """,
)
def f93_candidate_substring_spans(spark, sf):
    """The TWO-STAGE exact-substring dedup — what Lee et al.'s pipeline
    runs at 100 TB, composed from this repo's own stages exactly as
    f68's docstring promises: the MOSS winnow screen (f68 parameters)
    proposes candidate pairs, then `repeated_substring_spans_for_pairs`
    extracts exact maximal shared runs for THOSE pairs only — anchors
    built solely for candidate documents, no df cap (the pair gate
    replaces it, so spans survive even through corpus boilerplate
    grams the corpus-wide f61 cap would drop), same 5-gram /
    min_len=8 span semantics. The oracle recomposes screen + spans in
    one SQL over raw gram strings while Spark joins xxhash64 grams —
    the f61 collision-audit property carries over.

    At sf0.01 the two-stage output EQUALS f61's corpus-wide output
    (pinned in tests/test_text.py) — on THAT corpus the screen
    proposes every true span pair. One decade up the sets diverge in
    both directions (a round-10 sf1 measurement: the screen's fp-df cap
    drops boilerplate-heavy pairs f61 reaches, ~84% screen recall,
    while f93 finds spans through boilerplate grams f61's own gram-df
    cap drops) — the standard screen-recall vs cap-exactness trade,
    measured, each form hash-matching its own exact oracle.
    Scale shape: the screen is fp-keyed partial-agg
    groupBys with capped fanout; span extraction then touches
    |candidate docs| tokens instead of |corpus| tokens, and per-(pair,
    gh) fanout is per-doc gram multiplicity, never corpus df."""
    from borsa_spark.functions.text import winnow_pairs

    docs = load_table(spark, sf, "documents")
    cand = winnow_pairs(docs, k=3, w=4, min_shared=2, max_fp_df=50)
    return _dd.repeated_substring_spans_for_pairs(
        docs, cand, k=5, min_len=8
    ).select(
        "id_a", "id_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        F.col("len_tokens").cast("long").alias("len_tokens"),
    )


@query(
    "f94_span_removal_rewrite",
    f"""
    WITH {_F93_CHAIN_SQL},
    spans AS (
      SELECT id_a, id_b,
             min(pos_a) AS start_a, min(pos_b) AS start_b,
             count(*) + 4 AS len_tokens
      FROM runs GROUP BY id_a, id_b, diag, grp
      HAVING count(*) + 4 >= 8),
    rem AS (SELECT id_b AS doc_id, start_b AS s,
                   start_b + len_tokens - 1 AS e
            FROM spans),
    ordd AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM rem),
    isl AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS mgrp
      FROM ordd),
    merged AS (SELECT doc_id, min(s) AS s, max(e) AS e
               FROM isl GROUP BY doc_id, mgrp),
    tok AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w
            FROM words),
    tokp AS (SELECT doc_id, pos, w[pos] AS tok FROM tok),
    rempos AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos
               FROM merged),
    kept AS (
      -- merged intervals are disjoint per doc, so the expanded
      -- positions are unique and a plain equality anti-join works —
      -- a BETWEEN NOT EXISTS would nested-loop at the sf1 drill tier
      SELECT t.doc_id, t.pos, t.tok FROM tokp t
      LEFT JOIN rempos rp ON rp.doc_id = t.doc_id AND rp.pos = t.pos
      WHERE rp.pos IS NULL),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT d.doc_id, coalesce(r.text, '') AS text,
           (len(string_split(d.text, ' '))
            - coalesce(r.n_kept, 0))::BIGINT AS n_tokens_removed
    FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id
    """,
)
def f94_span_removal_rewrite(spark, sf):
    """The CLUSTER-LEVEL completion of the two-stage exact-substring
    dedup (Lee et al. 2022: "remove the duplicate span from all but
    one document"): the f93 pipeline's spans — winnow screen ->
    `repeated_substring_spans_for_pairs` — drive
    `dedup.remove_repeated_spans`, which cuts every span's id_b-side
    occurrence corpus-wide. Keep-first discipline one level below
    `drop_repeated_paragraphs`: along a dup chain A < B < C the span
    text survives only in A; overlapping removal intervals merge
    before cutting, so a token is removed once no matter how many
    pairs name it. Output is the full corpus rewrite (doc_id, text,
    n_tokens_removed) — docs with no spans ride through, hash-matched
    against the oracle's recomposition of screen + spans + interval
    merge + token cut in one SQL.

    Scale shape: everything new beyond f93 is span-count-sized (the
    interval merge windows over per-doc spans) plus ONE row-local
    higher-order filter over each doc's token array — no token-level
    shuffle; the corpus rewrite reads the corpus once."""
    from borsa_spark.functions.text import winnow_pairs

    docs = load_table(spark, sf, "documents")
    cand = winnow_pairs(docs, k=3, w=4, min_shared=2, max_fp_df=50)
    spans = _dd.repeated_substring_spans_for_pairs(
        docs, cand, k=5, min_len=8
    )
    return _dd.remove_repeated_spans(
        docs.select("doc_id", "text"), spans
    ).select(
        "doc_id", "text",
        F.col("n_tokens_removed").cast("long").alias("n_tokens_removed"),
    )


# --- f95: the crawl-profile minhash default, oracle-faced ----------------

#: f95 fixture: 80% of docs are ONE boilerplate sentence (identical
#: signatures, so every band bucket holds the whole cohort and blows
#: past CRAWL_MAX_BUCKET),
#: 20% unique 12-word docs with a planted near-copy per pair of tens
#: (last word swapped: the 12-word doc has 10 trigram shingles and the
#: last word sits in exactly one of them, so 9 of 11 distinct shingles
#: are shared -> jaccard 0.8182 >= 0.5, a wide verification margin).
_F95_BOILER = " ".join(f"common{j}" for j in range(12))
_F95_BASE_SQL = "CASE WHEN doc_id % 10 = 5 THEN doc_id - 5 ELSE doc_id END"
_F95_WORDS_SQL = " || ' ' || ".join(
    f"'t' || ({_F95_BASE_SQL}) || 'x{j}'" for j in range(11)
)
_F95_TEXT_SQL = f"""CASE WHEN doc_id % 5 <> 0 THEN '{_F95_BOILER}'
      ELSE {_F95_WORDS_SQL} || ' ' ||
           (CASE WHEN doc_id % 10 = 5 THEN 'z' || doc_id
                 ELSE 't' || doc_id || 'x11' END) END"""


@query(
    "f95_minhash_crawl_guard",
    f"""
    WITH fdocs AS (SELECT doc_id, {_F95_TEXT_SQL} AS text FROM documents),
    sh AS ({_dd.sql_shingles(3, table="fdocs")}),
    sig AS ({_SIG_SQL}),
    bands AS ({_sql_band_selects()}),
    ok AS (SELECT band, band_key FROM bands GROUP BY band, band_key
           HAVING count(*) <= {_dd.CRAWL_MAX_BUCKET}),
    -- filter BEFORE self-joining, MATERIALIZED: inlined, the optimizer
    -- reorders bands x bands x ok into the quadratic boilerplate
    -- self-join first and spills ~0.5 TB at the sf1 replica tier;
    -- materializing keep makes the cap structural, matching the
    -- engine's anti-join-then-join shape
    keep AS MATERIALIZED (
      SELECT b.id, b.band, b.band_key
      FROM bands b
      JOIN ok k ON k.band = b.band AND k.band_key = b.band_key),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM keep a
      JOIN keep b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.id < b.id),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      -- verification restricted to candidates (the boilerplate cohort
      -- is excluded by the cap, so the full shingle self-join would be
      -- the exact quadratic blowup this query demonstrates avoiding)
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT i.id_a, i.id_b,
           round(i.n_inter * 1.0
                 / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
    """,
)
def f95_minhash_crawl_guard(spark, sf):
    """The round-10 DEFAULT (minhash_dedup_pairs with
    max_bucket_size=CRAWL_MAX_BUCKET) oracle-faced on the TEXT path:
    an 80% boilerplate cohort (identical
    signatures, every band bucket = the whole cohort, quadratically
    hot) is EXCLUDED by the cap while the planted near-copies among
    the unique 20% still pair and verify. The oracle replays the full
    signature/banding/cap/verify pipeline in SQL (f7's sig/band CTEs +
    a HAVING count <= cap bucket filter), so an off-by-one in the cap
    comparison or a bucket counted per-doc instead of per-row
    hash-mismatches. Uncapped, this fixture emits C(0.8n, 2) extra
    boilerplate pairs (pinned in tests).

    Scale shape: identical to f7 (banded equi-joins + candidate-bounded
    verification); the cap bounds any one bucket's emission at
    C(256, 2) regardless of cohort size."""
    # the library DEFAULT cap — the whole point of the query
    return _dd.minhash_dedup_pairs(_f95_fixture(spark, sf), 3, 0.5)


def _f95_fixture(spark, sf):
    """The f95 analytic corpus (see _F95_TEXT_SQL); exposed for the
    uncapped-blowup pin in tests/test_crawl_defaults.py."""
    doc = F.col("doc_id")
    base = F.when(doc % 10 == 5, doc - 5).otherwise(doc)
    words = [
        F.concat(F.lit("t"), base.cast("string"), F.lit(f"x{j}"))
        for j in range(11)
    ]
    last = F.when(
        doc % 10 == 5, F.concat(F.lit("z"), doc.cast("string"))
    ).otherwise(F.concat(F.lit("t"), base.cast("string"), F.lit("x11")))
    text = F.when(doc % 5 != 0, F.lit(_F95_BOILER)).otherwise(
        F.concat_ws(" ", *words, last)
    )
    return load_table(spark, sf, "documents").select(
        "doc_id", text.alias("text")
    )


def _c12_stages(spark, sf) -> dict:
    """Stage relations for c12 (the query and the load-bearing funnel
    tests share them)."""
    from borsa_spark.functions.classifier import hashed_logreg_scores
    from borsa_spark.functions.packing import pack_sequences
    from borsa_spark.functions.text import dsir_gumbel_topk

    docs = load_table(spark, sf, "documents")
    target = F.col("source").isin("src0", "src1")
    # quality feeds two consumers (median + gate) — the dual-consumer
    # audit class — but persisting it was MEASURED AND REJECTED: its
    # re-derivation runs over the checkpointed feature ExistingRDD
    # (two bounded aggregations, no corpus I/O), while the cache
    # boundary blocks Catalyst's pruning and the physical plan GAINS
    # two corpus parquet scans (3 -> 5, A/B-measured round 9). The
    # plan guard pins <= 3 scans, which the unpersisted form holds.
    quality = hashed_logreg_scores(docs, target)
    # Exact percentile is fine on the quality relation (3 narrow cols
    # per doc, tiny vs the corpus); at 100 TB swap percentile_approx
    # with a tightened accuracy — the gate stays a broadcast scalar.
    med = quality.select(
        F.round(F.expr("percentile(prob, 0.5)"), 5).alias("__m")
    )
    survivors = docs.join(
        quality.crossJoin(F.broadcast(med))
        .filter(F.col("prob") >= F.col("__m"))
        .select("doc_id"),
        "doc_id",
    )
    sel = dsir_gumbel_topk(survivors, target, k=100)
    # sel ⊆ survivors, so re-join docs directly with the k-row pick
    # (broadcast) instead of re-deriving the corpus-sized survivors
    # subtree a second time — one fewer corpus scan, and symmetric
    # with the oracle's `documents JOIN __sel`.
    selected = docs.join(F.broadcast(sel.select("doc_id")), "doc_id")
    packed = pack_sequences(selected)
    return {
        "fixture": docs,
        "survivors": survivors,
        "selected": selected,
        "packed": packed,
    }


def c12_stage_counts(spark, sf) -> dict:
    """Per-stage sizes for the c12 funnel (tests assert every stage is
    load-bearing: the median gate drops docs, DSIR picks exactly k,
    packing keeps every pick and actually groups docs into bins)."""
    s = _c12_stages(spark, sf)
    # packed feeds 4 counts below — persist it so the DSIR llr scan +
    # Arrow packing run once
    s["packed"].persist()
    out = {
        k: s[k].count()
        for k in ("fixture", "survivors", "selected", "packed")
    }
    out["bins"] = (
        s["packed"].select("stream_id", "bin_id").distinct().count()
    )
    out["streams"] = s["packed"].select("stream_id").distinct().count()
    s["packed"].unpersist()
    return out


@query("c12_training_mix", None)
def c12_training_mix(spark, sf):
    """End-to-end training-mix materialization, oracle-faced — the
    corpus→training-batches half of the lifecycle, composed from the
    stage operators' own machinery: f77's in-engine logistic quality
    classifier gates the corpus (keep prob >= the corpus MEDIAN prob —
    scale-invariant, and cross-engine exact because 4-decimal probs
    put the even-n median on a 5-decimal grid, so round(median, 5)
    absorbs ulp drift in either engine's interpolation),
    DSIR Gumbel-top-k (f75) draws a k=100 weighted-without-replacement
    sample from the survivors, f38's greedy first-overflow packing
    bins the sample into 256-token sequences across 8 hash-sharded
    pack streams, and f54's seeded-shuffle rule assigns each packed
    doc a deterministic training position + output shard. Every stage
    is load-bearing at sf0.01 (tests/test_crawl_e2e.py
    `TestC12StageLoadBearing` pins the strict funnel) and the
    oracle recomposes ALL of it in SQL — the unrolled 3-step GD loop,
    the Gumbel keys, the recursive-CTE packing scan, and the shuffle
    rank — over the composed relations, so a threshold applied on one
    side, a survivor set drift, or a packing tie-break divergence
    hash-mismatches.

    Scale shape: the classifier is the f77 plan (checkpointed feature
    relation, <= 257 rows/iteration to the driver); selection is one
    top-k; packing and ordering run on the k-bounded sample, so the
    tail windows are O(k) by construction (the global row_number is
    fine HERE because k is fixed — corpus-sized ordering uses f54's
    hierarchical rank instead)."""
    packed = _c12_stages(spark, sf)["packed"]
    w = Window.orderBy(
        F.md5(F.concat(F.lit(_SHUFFLE_SEED),
                       F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        packed.withColumn(
            "position", F.row_number().over(w).cast("long")
        )
        .withColumn("shard", ((F.col("position") - 1) % 8).cast("long"))
        .select("doc_id", "stream_id", "bin_id", "n_tokens",
                "position", "shard")
    )


def _c12_oracle_sql() -> str:
    """The c12 oracle: quality-gate → Gumbel sample → packing → order,
    each stage's own sql_* builder composed over derived tables."""
    from borsa_spark.functions.classifier import sql_hashed_logreg_scores
    from borsa_spark.functions.packing import sql_pack_sequences
    from borsa_spark.functions.text import sql_dsir_gumbel_topk

    pred = "source IN ('src0', 'src1')"
    quality = sql_hashed_logreg_scores(pred)
    sel = sql_dsir_gumbel_topk(pred, k=100, table="__surv")
    packed = sql_pack_sequences(table="__seldocs")
    # Multi-referenced stages are top-level AS MATERIALIZED CTEs: the
    # unrolled-GD quality relation is referenced twice (gate + median)
    # and would otherwise inline/re-execute per reference (the
    # f77-family exponential-inlining lesson). __packed is referenced
    # once, so it stays a plain CTE — add MATERIALIZED if a second
    # reference ever appears.
    return f"""
    WITH __quality AS MATERIALIZED ({quality}),
    __surv AS MATERIALIZED (
      SELECT d.* FROM documents d
      JOIN __quality q USING (doc_id)
      CROSS JOIN (SELECT round(quantile_cont(prob, 0.5), 5) AS m
                  FROM __quality) __med
      WHERE q.prob >= __med.m),
    __sel AS MATERIALIZED ({sel}),
    __seldocs AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      JOIN __sel USING (doc_id)),
    __packed AS ({packed})
    SELECT doc_id, stream_id, bin_id, n_tokens,
           row_number() OVER (
             ORDER BY md5('{_SHUFFLE_SEED}' || doc_id::VARCHAR), doc_id
           )::BIGINT AS position,
           ((row_number() OVER (
             ORDER BY md5('{_SHUFFLE_SEED}' || doc_id::VARCHAR), doc_id
           )) - 1)::BIGINT % 8 AS shard
    FROM __packed
    """


def _register_late_oracles() -> None:
    """f72/f73/f74 oracles are produced by the same sql_* helpers their
    tests use (single source of truth for the replayed math); attach
    them here since the @query decorator wants literals."""
    from borsa_spark.functions.dedup import sql_paragraph_dedup_stats
    from borsa_spark.functions.text import (
        sql_dsir_importance_weights,
        sql_unigram_logprob_scores,
    )

    ORACLES["f72_paragraph_dedup"] = sql_paragraph_dedup_stats(12)
    ORACLES["f73_unigram_lm_score"] = sql_unigram_logprob_scores()
    ORACLES["f74_dsir_weights"] = sql_dsir_importance_weights(
        "source IN ('src0', 'src1')"
    )
    from borsa_spark.functions.text import sql_dsir_gumbel_topk

    ORACLES["f75_dsir_resample"] = sql_dsir_gumbel_topk(
        "source IN ('src0', 'src1')", k=100
    )
    from borsa_spark.functions.text import sql_bigram_backoff_scores

    ORACLES["f78_bigram_backoff_score"] = sql_bigram_backoff_scores(
        "doc_id % 4 <> 0"
    )
    from borsa_spark.functions.classifier import sql_hashed_logreg_scores

    ORACLES["f77_logreg_quality_score"] = sql_hashed_logreg_scores(
        "source IN ('src0', 'src1')"
    )
    ORACLES["c12_training_mix"] = _c12_oracle_sql()


_register_late_oracles()

"""Explicit StructTypes for every engine table — no schema inference anywhere.

The reference uses fixed, strongly-typed response structs per capability
(borsa-core/src/connector.rs:25-306); we mirror that with explicit Spark
schemas. Money is DECIMAL(38,9) + ISO currency string — never float
(paft Money = rust_decimal::Decimal; see SURVEY §1.2). Timestamps are UTC.
"""

from __future__ import annotations

from pyspark.sql import types as T

MONEY = T.DecimalType(38, 9)

# ---------------------------------------------------------------------------
# Core time-series tables
# ---------------------------------------------------------------------------

#: Per-provider OHLCV history (Candle + series-level flags replicated per row).
#: Candle shape: borsa-mock/src/fixtures/history.rs:31-45. `seq` is the input
#: row order within a (provider, symbol) series — required because Spark rows
#: carry no physical order and the reference's first-wins / first-in-bucket
#: rules are defined over input order for equal timestamps.
CANDLES = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("open", MONEY, True),
        T.StructField("high", MONEY, True),
        T.StructField("low", MONEY, True),
        T.StructField("close", MONEY, True),
        T.StructField("close_unadj", MONEY, True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("adjusted", T.BooleanType(), True),
        T.StructField("timezone", T.StringType(), True),
        T.StructField("utc_offset_seconds", T.LongType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)

#: Corporate actions, Action enum flattened (merge.rs:174-183).
ACTIONS = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("kind", T.StringType(), False),  # dividend|split|capital_gain
        T.StructField("amount", MONEY, True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("numerator", T.IntegerType(), True),
        T.StructField("denominator", T.IntegerType(), True),
    ]
)

#: Point-in-time quotes (borsa-mock/src/fixtures/quotes.rs:53-64).
QUOTES = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("shortname", T.StringType(), True),
        T.StructField("price", MONEY, True),
        T.StructField("previous_close", MONEY, True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("exchange", T.StringType(), True),
        T.StructField("market_state", T.StringType(), True),
        T.StructField("day_volume", T.LongType(), True),
    ]
)

#: Streaming ticks (QuoteUpdate — borsa-mock/tests/dynamic_mock.rs:83-89).
QUOTE_UPDATES = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("price", MONEY, True),
        T.StructField("previous_close", MONEY, True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

#: Streaming bars (CandleUpdate — router_stream_candles.rs:14-24).
CANDLE_UPDATES = T.StructType(
    list(CANDLES.fields)
    + [
        T.StructField("interval", T.StringType(), False),
        T.StructField("is_final", T.BooleanType(), False),
    ]
)

#: Streaming option updates (S11). OptionUpdate is the paft market/options
#: type re-exported at borsa-core/src/types.rs:47 and streamed via
#: OptionStreamProvider (borsa-core/src/connector.rs:235-249); the stream
#: router multiplexes it with the same machinery as quotes, keyed on the
#: UNDERLYING security symbol with event time `ts`
#: (borsa/src/router/streaming/mod.rs:44-56, stream.rs:480-521).
#: `contract_symbol` identifies the contract; strike/expiry/right describe
#: it; greeks beyond implied_volatility are omitted (optional in paft).
OPTION_UPDATES = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),  # underlying
        T.StructField("contract_symbol", T.StringType(), False),
        T.StructField("right", T.StringType(), False),  # CALL | PUT
        T.StructField("strike", MONEY, False),
        T.StructField("expiry", T.DateType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("price", MONEY, True),
        T.StructField("bid", MONEY, True),
        T.StructField("ask", MONEY, True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("open_interest", T.LongType(), True),
        T.StructField("implied_volatility", T.DoubleType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

#: Search results per provider (core.rs:298-332).
SEARCH_RESULTS = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("query", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("exchange", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("result_idx", T.IntegerType(), False),
    ]
)

ESG = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("total_score", T.DoubleType(), True),
        T.StructField("environment_score", T.DoubleType(), True),
        T.StructField("social_score", T.DoubleType(), True),
        T.StructField("governance_score", T.DoubleType(), True),
    ]
)


# ---------------------------------------------------------------------------
# Catalog tables (planner input)
# ---------------------------------------------------------------------------

#: Provider capability/priority registry (SURVEY FIXTURES.md §6).
SOURCE_CATALOG = T.StructType(
    [
        T.StructField("provider", T.StringType(), False),
        T.StructField("registration_idx", T.IntegerType(), False),
        T.StructField("kinds", T.ArrayType(T.StringType()), False),
        T.StructField("capabilities", T.ArrayType(T.StringType()), False),
        T.StructField("history_intervals", T.ArrayType(T.StringType()), False),
    ]
)

# ---------------------------------------------------------------------------
# Training-data pipeline tables (beyond-reference operators)
# ---------------------------------------------------------------------------

#: Multimodal assets: opaque binary payload + typed metadata. Decode /
#: feature-extraction runs as Pandas UDFs over mapInPandas (functions/multimodal).
MEDIA_ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("meta_json", T.StringType(), True),
    ]
)

#: Interval vocabulary with seconds — closed enum in the reference
#: (borsa-yfinance/src/lib.rs:274-287 enumerates the yfinance-supported set).
INTERVAL_SECONDS: dict[str, int] = {
    "1m": 60,
    "2m": 120,
    "5m": 300,
    "15m": 900,
    "30m": 1800,
    "1h": 3600,
    "90m": 5400,
    "1d": 86_400,
    "5d": 5 * 86_400,
    "1wk": 7 * 86_400,
    "1mo": 30 * 86_400,   # calendar-based; seconds nominal
    "3mo": 90 * 86_400,   # calendar-based; seconds nominal
}

INTRADAY_INTERVALS = {"1m", "2m", "5m", "15m", "30m", "1h", "90m"}


def interval_minutes(interval: str) -> int | None:
    """Minutes for intraday intervals, None for calendar intervals."""
    if interval in INTRADAY_INTERVALS:
        return INTERVAL_SECONDS[interval] // 60
    return None

"""Reference answers computed with DuckDB over the same generated files.

Everything here runs outside the timed windows. Prices are compared as
integer cents and timestamps as microseconds since the epoch, so the
comparison is exact.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from gen import HISTORY_PROVIDERS, LIVE_PROVIDER, Market

BUCKET_SECONDS = {"1d": 86_400, "1h": 3_600, "5m": 300}
CANDLE_COLS = ["symbol", "ts", "provider", "open", "high", "low", "close",
               "volume"]
BAR_COLS = ["symbol", "ts", "open", "high", "low", "close", "n_ticks",
            "volume"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def history_reference(con, market: Market, interval: str,
                      symbols: list[str] | None = None) -> pd.DataFrame:
    """First-wins merge by provider priority of each provider's resampled
    bars: one row per (symbol, bucket), from the highest-priority provider
    that has a bar in that bucket. ``symbols`` limits it to those symbols."""
    step = BUCKET_SECONDS[interval] * 1_000_000
    where = ""
    if symbols is not None:
        where = "WHERE symbol IN (" + ", ".join(f"'{s}'" for s in symbols) + ")"
    scans = " UNION ALL ".join(
        f"SELECT '{p}' AS provider, {i} AS prio, symbol, "
        f"epoch_us(ts) AS t, open, high, low, close, volume "
        f"FROM read_parquet('{os.path.join(market.history_dirs[p], '*.parquet')}') "
        f"{where}"
        for i, p in enumerate(HISTORY_PROVIDERS)
    )
    return con.execute(f"""
        WITH raw AS ({scans}),
        bars AS (
            SELECT provider, prio, symbol, (t // {step}) * {step} AS ts,
                   arg_min(open, t) AS open, max(high) AS high,
                   min(low) AS low, arg_max(close, t) AS close,
                   sum(volume)::BIGINT AS volume
            FROM raw GROUP BY provider, prio, symbol, (t // {step}) * {step}
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY symbol, ts
                                         ORDER BY prio) AS rn
            FROM bars
        )
        SELECT symbol, ts, provider,
               CAST(open * 100 AS BIGINT) AS open,
               CAST(high * 100 AS BIGINT) AS high,
               CAST(low * 100 AS BIGINT) AS low,
               CAST(close * 100 AS BIGINT) AS close,
               volume
        FROM ranked WHERE rn = 1
        ORDER BY symbol, ts
    """).fetchdf()


def quote_reference(con, market: Market) -> dict[str, tuple[str, float]]:
    """symbol -> (winning provider, price): the REST provider for its
    symbols, else the first parquet quote provider that lists the symbol."""
    best: dict[str, tuple[str, float]] = {}
    for provider, path in market.quote_paths.items():
        for sym, price in con.execute(
                f"SELECT symbol, price FROM read_parquet('{path}')").fetchall():
            best.setdefault(sym, (provider, price))
    for body in market.live_responses.values():
        for q in json.loads(body)["quotes"]:
            best[q["symbol"]] = (LIVE_PROVIDER, q["price"])
    return best


def _cents(col: pd.Series) -> np.ndarray:
    return np.array([int(Decimal(v) * 100) for v in col], dtype=np.int64)


def _micros(col: pd.Series) -> np.ndarray:
    s = pd.to_datetime(col, utc=True)
    return s.astype("int64").to_numpy() // 1000 if s.dt.unit == "ns" else (
        s.dt.as_unit("us").astype("int64").to_numpy())


def normalize_candles(pdf: pd.DataFrame) -> pd.DataFrame:
    """A router candle frame in the reference's comparable form."""
    return pd.DataFrame({
        "symbol": pdf["symbol"].astype(str).to_numpy(),
        "ts": _micros(pdf["ts"]),
        "provider": pdf["provider"].astype(str).to_numpy(),
        "open": _cents(pdf["open"]),
        "high": _cents(pdf["high"]),
        "low": _cents(pdf["low"]),
        "close": _cents(pdf["close"]),
        "volume": pdf["volume"].astype("int64").to_numpy(),
    })


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    """Equal as multisets of rows over ``cols``."""
    if len(got) != len(want):
        return False
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    return bool((a.astype(str).to_numpy() == b.astype(str).to_numpy()).all())


class HistoryIndex:
    """Reference merged candles per interval, sliced per request."""

    def __init__(self, con, market: Market, intervals: list[str],
                 symbols: list[str] | None = None):
        self.frames = {}
        for iv in intervals:
            ref = history_reference(con, market, iv, symbols)
            self.frames[iv] = {s: g for s, g in ref.groupby("symbol", sort=False)}

    def slice(self, symbol: str, interval: str, start_us: int | None = None,
              end_us: int | None = None) -> pd.DataFrame:
        g = self.frames[interval].get(symbol)
        if g is None:
            return pd.DataFrame(columns=CANDLE_COLS)
        if start_us is not None:
            g = g[g["ts"] >= start_us]
        if end_us is not None:
            g = g[g["ts"] < end_us]
        return g


# ---------------------------------------------------------------------------
# Tick stream
# ---------------------------------------------------------------------------


def stream_reference(con, tick_glob: str, batch_ticks: int,
                     bar_seconds: int, watermark_s: int) -> dict:
    """Bars the gate -> watermark -> tumbling-window pipeline must emit.

    * Gate: per symbol, in arrival (``seq``) order, a tick older than the
      newest earlier tick of the same symbol is dropped; equal passes.
    * Batches: arrival positions ``b*batch_ticks .. (b+1)*batch_ticks-1``
      form micro-batch ``b``.
    * Watermark: after batch ``b`` it is (max gated event time so far) -
      ``watermark_s``; batch ``b`` evicts with the watermark set after
      batch ``b-1``. Late events are judged against the watermark one batch
      older (the one set after batch ``b-2``), as Spark does for a stateful
      operator that follows another: a gated tick whose window ended at or
      before it is dropped.
    * Append mode emits a window once the final watermark reaches its end.
    """
    step = bar_seconds * 1_000_000
    scanned = con.execute(f"""
        WITH t AS (
            SELECT symbol, epoch_us(ts) AS t,
                   CAST(price * 100 AS BIGINT) AS price, volume, seq
            FROM read_parquet('{tick_glob}')
        )
        SELECT *, t >= coalesce(max(t) OVER (
                   PARTITION BY symbol ORDER BY seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), t) AS keep
        FROM t ORDER BY seq
    """).fetchdf()
    gated = scanned[scanned["keep"].to_numpy()].drop(columns="keep")

    batch = (gated["seq"] // batch_ticks).to_numpy()
    n_batches = int(scanned["seq"].max() // batch_ticks) + 1
    batch_max = np.full(n_batches, np.iinfo(np.int64).min, dtype=np.int64)
    np.maximum.at(batch_max, batch, gated["t"].to_numpy())
    seen_max = np.maximum.accumulate(batch_max)
    wm_after = np.maximum(seen_max - watermark_s * 1_000_000, 0)
    wm_for_late = np.concatenate(([0, 0], wm_after[:-2]))
    window_end = (gated["t"].to_numpy() // step) * step + step
    late = window_end <= wm_for_late[batch]
    on_time = gated[~late].copy()
    on_time["ts"] = (on_time["t"] // step) * step
    final_wm = int(wm_after[-1])
    on_time = on_time[on_time["ts"] + step <= final_wm]
    on_time = on_time.sort_values(["symbol", "ts", "t", "seq"])
    grp = on_time.groupby(["symbol", "ts"], sort=False)
    bars = pd.DataFrame({
        "open": grp["price"].first(),
        "high": grp["price"].max(),
        "low": grp["price"].min(),
        "close": grp["price"].last(),
        "n_ticks": grp["price"].size(),
        "volume": grp["volume"].sum(),
    }).reset_index()
    return {
        "bars": bars[BAR_COLS],
        "input_ticks": len(scanned),
        "gated_ticks": len(gated),
        "watermark_dropped": int(late.sum()),
    }


def normalize_bars(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({
        "symbol": pdf["symbol"].astype(str).to_numpy(),
        "ts": _micros(pdf["ts"]),
        "open": _cents(pdf["open"]),
        "high": _cents(pdf["high"]),
        "low": _cents(pdf["low"]),
        "close": _cents(pdf["close"]),
        "n_ticks": pdf["n_ticks"].astype("int64").to_numpy(),
        "volume": pdf["volume"].astype("int64").to_numpy(),
    })

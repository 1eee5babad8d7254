"""Seeded market-data generator for the benchmark workloads.

Everything the program under test reads is written here, from one seed:

* three 1m-bar history providers (``alpha``, ``beta``, ``gamma``) as parquet,
  each covering a random subset of the symbol universe over a random
  contiguous stretch of the trading minutes, so coverage is partial and
  overlapping and the first-wins merge has real choices to make;
* quote tables for ``alpha`` and ``beta`` as parquet, plus the JSON payloads
  a REST stub transport serves for the ``live`` provider's popular symbols;
* a tick backlog for three stream providers, split into numbered files in
  arrival order, with about 5 % of ticks arriving late.

Prices are integer cents; a provider's bars carry a provider-specific offset
of a few cents so a wrong merge winner shows up as a wrong price.
Timestamps are written as time-zone-aware UTC (``timestamp[us, tz=UTC]``).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HISTORY_PROVIDERS = ("alpha", "beta", "gamma")
QUOTE_PROVIDERS = ("alpha", "beta")
STREAM_PROVIDERS = ("feed_a", "feed_b", "feed_c")
LIVE_PROVIDER = "live"

N_SYMBOLS = 2000
DAYS = 2
SESSION_MINUTES = 390
#: 2024-03-04 14:30 UTC (a Monday, US open), in microseconds since epoch.
DAY0_US = 1709562600 * 1_000_000
MINUTE_US = 60_000_000
DAY_US = 86_400_000_000
FILES_PER_PROVIDER = 4
ROW_GROUP_ROWS = 16_384

N_LIVE = 150  # popular symbols served by the REST provider
LIVE_PAGE = 100  # symbols per REST quote call (RestAdapter.page_size)

STREAM_SYMBOLS = 200
TICK_STEP_US = 5_000  # event-time spacing of in-order ticks
LATE_SHARE = 0.05
LATE_MAX_US = 90_000_000

#: Zipf exponent of symbol popularity
ZIPF_S = 1.1
#: modification time of tick chunk 0; chunk j gets FIRST_FILE_MTIME + j
FIRST_FILE_MTIME = 1_700_000_000

PRICE_TYPE = pa.decimal128(38, 9)
TS_TYPE = pa.timestamp("us", tz="UTC")


def zipf_weights(n: int) -> np.ndarray:
    """Normalised Zipf popularity for ranks 1..n."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return w / w.sum()


def cents_to_decimal(cents: np.ndarray) -> pa.Array:
    """Integer cents -> decimal128(38, 9) without a float round trip.

    The unscaled decimal value is cents * 10**7, stored as a little-endian
    128-bit integer (low word, then the sign-extended high word).
    """
    lo = np.asarray(cents, dtype=np.int64) * 10_000_000
    words = np.empty((len(lo), 2), dtype=np.int64)
    words[:, 0] = lo
    words[:, 1] = np.where(lo < 0, -1, 0)
    return pa.Array.from_buffers(
        PRICE_TYPE, len(lo), [None, pa.py_buffer(words.tobytes())]
    )


def symbol_names(n: int, prefix: str = "S") -> list[str]:
    return [f"{prefix}{i:04d}" for i in range(n)]


@dataclass
class Market:
    """What the generator wrote, and what the workloads need to know about
    it to build requests and check answers."""

    symbols: list[str]
    #: symbols ordered from most to least popular (Zipf rank order)
    by_popularity: list[str]
    live_symbols: list[str]
    live_responses: dict
    history_dirs: dict[str, str]
    quote_paths: dict[str, str]
    history_rows: int
    checksum: str = ""


def _provider_bars(rng: np.random.Generator, close: np.ndarray, offset: int,
                   spans: list[tuple[int, int, int]]) -> pa.Table:
    """1m bars for one provider. ``spans`` lists (symbol index, first
    minute, last minute + 1) in symbol order; ``close`` is the shared
    per-symbol close path in cents, shape (symbols, minutes)."""
    sym_idx = np.concatenate([np.full(b - a, s) for s, a, b in spans])
    minute = np.concatenate([np.arange(a, b) for _, a, b in spans])
    seq = np.concatenate([np.arange(b - a) for _, a, b in spans])
    n = len(minute)
    c = close[sym_idx, minute] + offset
    prev = np.where(minute > 0, close[sym_idx, np.maximum(minute - 1, 0)],
                    close[sym_idx, minute]) + offset
    wick = rng.integers(0, 25, size=(2, n))
    high = np.maximum(prev, c) + wick[0]
    low = np.minimum(prev, c) - wick[1]
    day, mi = np.divmod(minute, SESSION_MINUTES)
    ts = DAY0_US + day * DAY_US + mi * MINUTE_US
    names = np.array(symbol_names(N_SYMBOLS), dtype=object)
    return pa.table({
        "symbol": pa.array(names[sym_idx], pa.string()),
        "kind": pa.array(np.full(n, "EQUITY", dtype=object), pa.string()),
        "ts": pa.array(ts, pa.int64()).cast(TS_TYPE),
        "open": cents_to_decimal(prev),
        "high": cents_to_decimal(high),
        "low": cents_to_decimal(low),
        "close": cents_to_decimal(c),
        "close_unadj": cents_to_decimal(c),
        "volume": pa.array(rng.integers(100, 50_000, size=n), pa.int64()),
        "currency": pa.array(np.full(n, "USD", dtype=object), pa.string()),
        "adjusted": pa.array(np.ones(n, dtype=bool)),
        "timezone": pa.nulls(n, pa.string()),
        "utc_offset_seconds": pa.nulls(n, pa.int64()),
        "seq": pa.array(seq, pa.int64()),
    })


def make_market(seed: int, root: str) -> Market:
    """Write the history and quote inputs for ``seed`` under ``root``."""
    rng = np.random.default_rng([seed, 1])
    symbols = symbol_names(N_SYMBOLS)
    minutes = DAYS * SESSION_MINUTES

    base = rng.integers(1_000, 50_000, size=(N_SYMBOLS, 1))
    steps = rng.normal(0.0, 0.0015, size=(N_SYMBOLS, minutes))
    close = np.maximum(
        np.rint(base * np.exp(np.cumsum(steps, axis=1))).astype(np.int64), 100
    )

    covered = rng.random((len(HISTORY_PROVIDERS), N_SYMBOLS)) < 0.5
    orphan = ~covered.any(axis=0)
    covered[rng.integers(0, len(HISTORY_PROVIDERS), size=orphan.sum()),
            np.flatnonzero(orphan)] = True
    length = (rng.uniform(0.2, 0.6, size=covered.shape) * minutes).astype(int)
    first = (rng.random(covered.shape) * (minutes - length)).astype(int)

    history_dirs: dict[str, str] = {}
    total = 0
    for p, name in enumerate(HISTORY_PROVIDERS):
        spans = [(s, first[p, s], first[p, s] + length[p, s])
                 for s in np.flatnonzero(covered[p])]
        table = _provider_bars(rng, close, p + 1, spans)
        total += table.num_rows
        d = os.path.join(root, "history", name)
        os.makedirs(d, exist_ok=True)
        # Symbol-range files sorted by (symbol, ts): a point request's
        # symbol predicate prunes whole row groups by their statistics.
        cuts = np.linspace(0, table.num_rows, FILES_PER_PROVIDER + 1).astype(int)
        for f, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
            pq.write_table(table.slice(a, b - a),
                           os.path.join(d, f"part-{f}.parquet"),
                           row_group_size=ROW_GROUP_ROWS)
        history_dirs[name] = d

    by_popularity = [symbols[i] for i in rng.permutation(N_SYMBOLS)]
    last_close = close[:, -1]
    quote_paths: dict[str, str] = {}
    for p, name in enumerate(QUOTE_PROVIDERS):
        # alpha quotes a random 70 % of the universe; beta quotes all of it
        keep = (np.ones(N_SYMBOLS, dtype=bool) if name == "beta"
                else rng.random(N_SYMBOLS) < 0.7)
        idx = np.flatnonzero(keep)
        quote = pa.table({
            "symbol": pa.array([symbols[i] for i in idx], pa.string()),
            "kind": pa.array(["EQUITY"] * len(idx), pa.string()),
            "exchange": pa.array(["XNAS" if i % 2 else "XNYS" for i in idx],
                                 pa.string()),
            "price": pa.array((last_close[idx] + p + 1) / 100.0, pa.float64()),
            "previous_close": pa.array(close[idx, SESSION_MINUTES - 1] / 100.0,
                                       pa.float64()),
            "currency": pa.array(["USD"] * len(idx), pa.string()),
        })
        path = os.path.join(root, "quotes", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(quote, path)
        quote_paths[name] = path

    live_symbols = sorted(by_popularity[:N_LIVE])
    live_responses = {}
    for i in range(0, len(live_symbols), LIVE_PAGE):
        page = live_symbols[i:i + LIVE_PAGE]
        live_responses[",".join(page)] = json.dumps({"quotes": [
            {"symbol": s, "kind": "EQUITY", "exchange": "XNAS",
             "price": int(last_close[int(s[1:])]) / 100.0,
             "previous_close": int(close[int(s[1:]), SESSION_MINUTES - 1]) / 100.0,
             "currency": "USD"}
            for s in page
        ]}).encode()

    market = Market(
        symbols=symbols,
        by_popularity=by_popularity,
        live_symbols=live_symbols,
        live_responses=live_responses,
        history_dirs=history_dirs,
        quote_paths=quote_paths,
        history_rows=total,
    )
    market.checksum = tree_checksum(root, extra=sorted(live_responses.items()))
    return market


@dataclass
class TickBacklog:
    root: str
    dirs: dict[str, str]
    n_ticks: int
    checksum: str = ""


def make_ticks(seed: int, root: str, n_chunks: int,
               chunk_ticks: int) -> TickBacklog:
    """Write an arrival-ordered tick backlog for the stream providers.

    Arrival position ``seq`` is global. Chunk ``j`` (ticks
    ``j*chunk_ticks .. (j+1)*chunk_ticks - 1``) becomes one file per
    provider, ``<provider>/part-<j>.parquet``, with modification time
    ``FIRST_FILE_MTIME + j`` so a file source lists the chunks in arrival
    order. With the same ``maxFilesPerTrigger`` on every provider, each
    micro-batch then holds whole consecutive chunks, which makes the gate
    and watermark outcome a function of the inputs alone.
    """
    rng = np.random.default_rng([seed, 2])
    n = n_chunks * chunk_ticks
    sym_rank = rng.choice(STREAM_SYMBOLS, size=n, p=zipf_weights(STREAM_SYMBOLS))
    sym_names = np.array(symbol_names(STREAM_SYMBOLS, prefix="T"), dtype=object)
    ts = DAY0_US + np.arange(n, dtype=np.int64) * TICK_STEP_US
    late = rng.random(n) < LATE_SHARE
    ts[late] -= rng.integers(1_000_000, LATE_MAX_US, size=late.sum())
    price = 10_000 + sym_rank * 37 + rng.integers(-500, 500, size=n)
    volume = rng.integers(1, 1_000, size=n)
    provider = rng.integers(0, len(STREAM_PROVIDERS), size=n)

    dirs = {}
    for name in STREAM_PROVIDERS:
        dirs[name] = os.path.join(root, "ticks", name)
        os.makedirs(dirs[name], exist_ok=True)
    for j in range(n_chunks):
        sl = slice(j * chunk_ticks, (j + 1) * chunk_ticks)
        for p, name in enumerate(STREAM_PROVIDERS):
            m = provider[sl] == p
            path = os.path.join(dirs[name], f"part-{j:05d}.parquet")
            pq.write_table(pa.table({
                "provider": pa.array(np.full(m.sum(), name, dtype=object),
                                     pa.string()),
                "symbol": pa.array(sym_names[sym_rank[sl][m]], pa.string()),
                "ts": pa.array(ts[sl][m], pa.int64()).cast(TS_TYPE),
                "price": cents_to_decimal(price[sl][m]),
                "volume": pa.array(volume[sl][m], pa.int64()),
                "seq": pa.array(np.arange(n, dtype=np.int64)[sl][m]),
            }), path)
            os.utime(path, (FIRST_FILE_MTIME + j, FIRST_FILE_MTIME + j))
    backlog = TickBacklog(root=root, dirs=dirs, n_ticks=n)
    backlog.checksum = tree_checksum(os.path.join(root, "ticks"))
    return backlog


def tree_checksum(root: str, extra: list | None = None) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    path order, plus any ``extra`` (key, bytes) pairs."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    for k, v in extra or []:
        h.update(k.encode())
        h.update(v)
    return h.hexdigest()

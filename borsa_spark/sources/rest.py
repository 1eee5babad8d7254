"""REST-backed live Source: the I/O layer a production deployment mounts
where the correctness gate mounts parquet fixtures.

Reference shape: borsa-yfinance/src/adapter.rs — a trait impl per
capability over one HTTP client, plus error mapping from transport/API
failures into the shared taxonomy (adapter.rs:236-326) so the router's
fallback/blame logic treats a live provider exactly like a fixture one.

Spark-first translation:

- **Transport is pluggable and tiny** (`Transport.get -> (status, headers,
  body)`): production wires an HTTP client; tests inject `FakeTransport`
  with canned JSON. Nothing else in the adapter knows about sockets, so
  the full adapter logic — URL building, pagination, JSON->row mapping,
  error taxonomy — is exercised hermetically (this container has no
  network egress).
- **Control-plane capabilities fetch on the driver.** A quote batch, a
  profile, a search page are KB-sized; the adapter fetches, maps JSON to
  canonical-schema rows, and hands Spark a small DataFrame. That frame
  then enters the SAME router plans as any fixture scan.
- **Data-plane capabilities fetch on executors.** History for a large
  symbol set is real data volume: `fetch_history_distributed` ships the
  transport to executors via mapInPandas, one HTTP call per symbol inside
  the partition iterator — 10k symbols over 200 executors is 50 calls
  each, and rows never pass through the driver. The middleware stack
  (cache/quota/blacklist) guards driver-side call paths; executor-side
  paths take a per-partition rate budget instead (a driver-side token
  bucket cannot see executor concurrency).
- **Error taxonomy mapping** mirrors adapter.rs: HTTP 404 and
  "not found"-shaped API messages -> NotFoundError (fallback continues),
  401/403 -> UnsupportedError (this provider cannot serve the ask),
  429 -> RateLimited carrying Retry-After (feeds the Blacklist
  middleware), 5xx/transport -> ProviderError (transient, retried by the
  router's deadline layer).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Callable, Iterator, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from borsa_spark.errors import (
    BorsaSparkError,
    NotFoundError,
    ProviderError,
    RateLimited,
    UnsupportedError,
)
from borsa_spark.middleware import MiddlewareStack
from borsa_spark.sources.provider import ALL_KINDS, Source, _local_frame

Headers = dict[str, str]


class Transport(Protocol):
    """One HTTP GET. Implementations must be picklable if used with the
    distributed history path (they ship to executors)."""

    def get(self, url: str, params: dict[str, str]) -> tuple[int, Headers, bytes]:
        ...  # pragma: no cover - protocol


@dataclass
class FakeTransport:
    """Canned-response transport for tests/offline demos: maps an exact
    (url, frozen-params) pair to (status, headers, body). Records every
    request for assertions."""

    responses: dict[tuple[str, tuple[tuple[str, str], ...]], tuple[int, Headers, bytes]]
    calls: list[tuple[str, dict[str, str]]] = field(default_factory=list)

    def get(self, url: str, params: dict[str, str]) -> tuple[int, Headers, bytes]:
        self.calls.append((url, dict(params)))
        key = (url, tuple(sorted(params.items())))
        if key not in self.responses:
            return 404, {}, b'{"error": "no canned response"}'
        return self.responses[key]


class UrllibTransport:
    """Stdlib HTTP transport for production use (no extra deps). Import-safe
    in offline containers — it only touches the network when called."""

    def __init__(self, timeout_s: float = 10.0, user_agent: str = "borsa-spark"):
        self.timeout_s = timeout_s
        self.user_agent = user_agent

    def get(self, url: str, params: dict[str, str]) -> tuple[int, Headers, bytes]:
        import urllib.error
        import urllib.parse
        import urllib.request

        full = url + ("?" + urllib.parse.urlencode(params) if params else "")
        req = urllib.request.Request(full, headers={"User-Agent": self.user_agent})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return resp.status, dict(resp.headers.items()), resp.read()
        except urllib.error.HTTPError as e:  # pragma: no cover - needs net
            return e.code, dict(e.headers.items()), e.read()
        except (urllib.error.URLError, OSError) as e:  # pragma: no cover
            # DNS failure / connection refused / socket timeout carry no
            # HTTP status: map into the taxonomy HERE (transient provider
            # fault) so the router's retry/blame logic and the middleware
            # stack see a BorsaSparkError, never a raw urllib exception —
            # the module's documented contract (5xx/transport ->
            # ProviderError).
            raise ProviderError(f"transport: {e}") from e


_NOT_FOUND_MARKERS = ("not found", "no data found", "unknown symbol")


def _retry_after_s(headers: Headers) -> float | None:
    """Seconds from a ``Retry-After`` header, found case-insensitively
    (HTTP/2 sends header names in lowercase). None, leaving the Blacklist
    default, for a missing header, an HTTP date, or a value that is not
    finite and >= 0: ``inf`` would otherwise blacklist forever."""
    for name, value in headers.items():
        if name.lower() == "retry-after":
            try:
                seconds = float(value)
            except ValueError:
                return None
            return seconds if math.isfinite(seconds) and seconds >= 0 else None
    return None


def map_http_error(
    status: int,
    headers: Headers,
    body: bytes,
    capability: str,
    target: str | None,
    parsed: list | None = None,
) -> BorsaSparkError | None:
    """adapter.rs:236-326 analog: classify a response into the taxonomy.
    Returns None for usable responses. ``parsed`` (a 1-element list used
    as an out-param) receives the decoded 200 body so callers don't pay a
    second json.loads over the full payload."""
    if status == 200:
        # APIs that 200 with an error envelope (map_yf_api_error): sniff it.
        try:
            doc = json.loads(body or b"{}")
        except ValueError:
            return ProviderError(f"{capability}: malformed JSON for {target}")
        if parsed is not None:
            parsed.append(doc)
        msg = str(doc.get("error", "")).lower() if isinstance(doc, dict) else ""
        if msg and any(m in msg for m in _NOT_FOUND_MARKERS):
            return NotFoundError(f"{capability}: {target}")
        if msg:
            return ProviderError(f"{capability}: {msg}")
        return None
    if status == 404:
        return NotFoundError(f"{capability}: {target}")
    if status in (401, 403):
        return UnsupportedError(f"{capability}: access denied for {target}")
    if status == 429:
        err = RateLimited(f"{capability}: rate limited")
        window = _retry_after_s(headers)
        if window is not None:
            err.window_s = window
        return err
    return ProviderError(f"{capability}: HTTP {status} for {target}")


def _check(
    transport: Transport,
    url: str,
    params: dict[str, str],
    capability: str,
    target: str | None,
) -> dict:
    status, headers, body = transport.get(url, params)
    parsed: list = []
    err = map_http_error(status, headers, body, capability, target, parsed)
    if err is not None:
        raise err
    return parsed[0] if parsed else json.loads(body)


# ---------------------------------------------------------------------------
# JSON -> canonical-schema row mappers. Each endpoint's payload contract is
# documented inline; parsers are total (missing fields -> None) so one
# malformed record never poisons a batch.
# ---------------------------------------------------------------------------


def _quote_rows(provider: str, doc: dict) -> list[tuple]:
    out = []
    for q in doc.get("quotes", []):
        out.append((
            provider,
            q.get("symbol"),
            (q.get("kind") or "EQUITY").upper(),
            q.get("exchange"),
            q.get("price"),
            q.get("previous_close"),
            q.get("currency"),
        ))
    return out


QUOTE_SCHEMA = (
    "provider string, symbol string, kind string, exchange string, "
    "price double, previous_close double, currency string"
)


def _search_rows(provider: str, doc: dict) -> list[tuple]:
    out = []
    for i, r in enumerate(doc.get("results", [])):
        out.append((
            provider, doc.get("query", ""), r.get("symbol"),
            (r.get("kind") or "EQUITY").upper(), r.get("exchange"),
            r.get("name"), i,
        ))
    return out


SEARCH_SCHEMA = (
    "provider string, query string, symbol string, kind string, "
    "exchange string, name string, result_idx int"
)


def _profile_rows(provider: str, doc: dict) -> list[tuple]:
    p = doc.get("profile", {})
    return [(provider, p.get("symbol"), p.get("name"), p.get("sector"),
             p.get("website"), p.get("isin"))]


PROFILE_SCHEMA = (
    "provider string, symbol string, name string, sector string, "
    "website string, isin string"
)

HISTORY_SCHEMA = (
    "provider string, symbol string, ts timestamp, open double, high double, "
    "low double, close double, volume long, interval string, adjusted boolean"
)


def _history_rows(provider: str, symbol: str, interval: str, doc: dict):
    import datetime as dt

    out = []
    for c in doc.get("candles", []):
        ts = c.get("ts")
        out.append((
            provider, symbol,
            dt.datetime.fromtimestamp(ts, dt.timezone.utc).replace(tzinfo=None)
            if ts is not None else None,
            c.get("open"), c.get("high"), c.get("low"), c.get("close"),
            c.get("volume"), interval, bool(doc.get("adjusted", True)),
        ))
    return out


@dataclass
class RestAdapter:
    """URL building + fetch + row mapping for one REST provider.

    ``endpoints`` maps capability -> path template (``{base}`` prepended);
    symbol/query go in params, matching the reference's one-client-many-
    endpoints layout (adapter.rs RealAdapter over yf::YfClient).
    """

    name: str
    base_url: str
    transport: Transport
    middleware: MiddlewareStack | None = None
    page_size: int = 100
    endpoints: dict[str, str] = field(
        default_factory=lambda: {
            "quote": "/v1/quote",
            "search": "/v1/search",
            "profile": "/v1/profile",
            "history": "/v1/history",
        }
    )

    def _call(self, capability: str, key: tuple, fn: Callable[[], object]):
        if self.middleware is None:
            return fn()
        return self.middleware.call(key, fn)

    def _url(self, capability: str) -> str:
        if capability not in self.endpoints:
            raise UnsupportedError(f"{capability}: no endpoint on {self.name}")
        return self.base_url + self.endpoints[capability]

    # -- control-plane fetches (driver-side, KB-sized payloads) ------------

    def fetch_quotes(self, symbols: list[str]) -> list[tuple]:
        """One batched call per page of symbols (the reference's quote
        endpoint accepts comma-joined batches; pagination caps URL size)."""
        url = self._url("quote")
        rows: list[tuple] = []
        for i in range(0, len(symbols), self.page_size):
            page = symbols[i : i + self.page_size]
            key = ("quote", self.name, tuple(page))
            doc = self._call(
                "quote", key,
                lambda p=page: _check(
                    self.transport, url, {"symbols": ",".join(p)}, "quote",
                    ",".join(p),
                ),
            )
            rows.extend(_quote_rows(self.name, doc))
        return rows

    def fetch_search(self, query: str, limit: int | None = None) -> list[tuple]:
        url = self._url("search")
        params = {"q": query}
        if limit is not None:
            params["limit"] = str(limit)
        key = ("search", self.name, query, limit)
        doc = self._call(
            "search", key,
            lambda: _check(self.transport, url, params, "search", query),
        )
        return _search_rows(self.name, doc)

    def fetch_profile(self, symbol: str) -> list[tuple]:
        url = self._url("profile")
        key = ("profile", self.name, symbol)
        doc = self._call(
            "profile", key,
            lambda: _check(self.transport, url, {"symbol": symbol}, "profile",
                           symbol),
        )
        return _profile_rows(self.name, doc)

    # -- data-plane fetch (executor-side) -----------------------------------

    def fetch_history_distributed(
        self,
        symbols: DataFrame,
        interval: str = "1d",
        max_calls_per_partition: int | None = None,
    ) -> DataFrame:
        """History for a DISTRIBUTED symbol set: one HTTP call per symbol,
        executed inside mapInPandas partitions — rows land on executors and
        never transit the driver. NotFound symbols contribute no rows (the
        router's empty-result filter semantics); rate-limit errors raise so
        Spark's task retry + the router's deadline layer handle them.

        ``max_calls_per_partition`` is the executor-side budget analog of
        the driver QuotaGuard: a partition exceeding it fails loudly rather
        than silently hammering the upstream.
        """
        import pandas as pd

        transport = self.transport
        provider = self.name
        url = self._url("history")

        def fetch_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            calls = 0
            cols = [c.split()[0] for c in HISTORY_SCHEMA.split(", ")]
            for pdf in pdfs:
                out: list[tuple] = []
                for symbol in pdf["symbol"]:
                    if (max_calls_per_partition is not None
                            and calls >= max_calls_per_partition):
                        raise RateLimited(
                            f"history: partition call budget "
                            f"({max_calls_per_partition}) exhausted"
                        )
                    calls += 1
                    try:
                        doc = _check(
                            transport, url,
                            {"symbol": symbol, "interval": interval},
                            "history", symbol,
                        )
                    except NotFoundError:
                        continue  # P3: empty result, fallback handles it
                    out.extend(_history_rows(provider, symbol, interval, doc))
                if out:
                    yield pd.DataFrame(out, columns=cols)

        return symbols.select("symbol").mapInPandas(
            fetch_partition, schema=HISTORY_SCHEMA
        )


def socket_quote_stream(
    spark: SparkSession, host: str, port: int, provider: str
) -> DataFrame:
    """Live tick stream, websocket-analog: Spark's socket source reading
    one JSON quote-update per line, parsed into the canonical QUOTE_UPDATES
    shape (reference: the adapter's streaming start —
    borsa-yfinance/src/adapter.rs:353-379, websocket with fallback).

    The socket source is Spark's testing-grade line transport; a production
    feed swaps in Kafka (`format("kafka")` + the same from_json projection)
    without touching anything downstream — the planner, allow-set filters,
    monotonic gate, and fan-in consume the shape, not the transport.
    Malformed lines parse to null and are dropped here (the reference's
    decode-error drop branch); provider attribution is stamped by this
    session, not trusted from the wire.
    """
    from borsa_spark import schemas

    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    wire_schema = T.StructType(
        [f for f in schemas.QUOTE_UPDATES.fields if f.name != "provider"]
    )
    return (
        raw.select(F.from_json(F.col("value"), wire_schema).alias("u"))
        .select("u.*")
        .filter(F.col("symbol").isNotNull() & F.col("ts").isNotNull()
                & F.col("seq").isNotNull())
        .select(F.lit(provider).alias("provider"), "*")
    )


def stream_source(
    spark: SparkSession,
    name: str,
    host: str,
    port: int,
    kinds: frozenset[str] = ALL_KINDS,
) -> Source:
    """Mount a live line-protocol feed as a planner-visible streaming
    Source: `stream_quotes` is a lazy factory, so the TCP connection opens
    only when the supervisor actually starts this provider's session."""
    return Source(
        name=name,
        kinds=kinds,
        tables={
            "stream_quotes": lambda: socket_quote_stream(
                spark, host, port, name
            )
        },
    )


def rest_source(
    spark: SparkSession,
    adapter: RestAdapter,
    symbols: list[str],
    kinds: frozenset[str] = ALL_KINDS,
    history_intervals: tuple[str, ...] = ("1d",),
) -> Source:
    """Mount a REST adapter as a planner-visible Source for a symbol
    universe: capability tables are LAZY factories (no fetch happens until
    the router actually selects this provider for a scan), so an unselected
    provider costs zero HTTP calls — the live analog of predicate pushdown.

    The factories run on every router call (``Source`` keeps only relations
    over files), so each call goes through the adapter's middleware: the
    TTL cache answers or the transport is called, and quota and blacklist
    see the call. The fetched rows become a ``LocalRelation`` through Arrow
    (no Python workers); history stays on executors.
    """

    def quotes_df() -> DataFrame:
        return _local_frame(spark, adapter.fetch_quotes(symbols), QUOTE_SCHEMA)

    def search_df() -> DataFrame:
        # the router's search template filters by query afterwards; a live
        # deployment would thread the query through RoutingContext — kept
        # symbol-universe-shaped here to match fixture search tables
        rows: list[tuple] = []
        for s in symbols:
            rows.extend(adapter.fetch_search(s))
        return _local_frame(spark, rows, SEARCH_SCHEMA)

    def profile_df() -> DataFrame:
        rows: list[tuple] = []
        for s in symbols:
            rows.extend(adapter.fetch_profile(s))
        return _local_frame(spark, rows, PROFILE_SCHEMA)

    def history_df() -> DataFrame:
        sym_df = _local_frame(spark, [(s,) for s in symbols], "symbol string")
        return adapter.fetch_history_distributed(sym_df)

    tables: dict[str, Callable[[], DataFrame]] = {}
    for cap, factory in (
        ("quote", quotes_df),
        ("search", search_df),
        ("profile", profile_df),
        ("history", history_df),
    ):
        if cap in adapter.endpoints:
            tables[cap] = factory
    return Source(
        name=adapter.name,
        kinds=kinds,
        history_intervals=history_intervals,
        tables=tables,
    )

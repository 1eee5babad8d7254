"""Live-connector I/O layer tests: the REST adapter exercised hermetically
through FakeTransport — URL building, pagination, JSON->canonical-row
mapping, the HTTP error taxonomy, middleware integration, and the
executor-distributed history fetch.

Reference behaviors mirrored: borsa-yfinance/src/adapter.rs error mapping
(:236-326), batched quote endpoint, per-capability trait layout.
"""

from __future__ import annotations

import json

import pytest

from borsa_spark.errors import (
    NotFoundError,
    ProviderError,
    RateLimited,
    TemporarilyBlacklisted,
    UnsupportedError,
)
from borsa_spark.middleware import Blacklist, MiddlewareStack, TTLCache
from borsa_spark.sources.rest import (
    FakeTransport,
    RestAdapter,
    map_http_error,
    rest_source,
)

BASE = "https://api.example.test"


def canned(url_path: str, params: dict[str, str], doc: dict,
           status: int = 200, headers: dict | None = None):
    return (
        (BASE + url_path, tuple(sorted(params.items()))),
        (status, headers or {}, json.dumps(doc).encode()),
    )


class TestErrorTaxonomy:
    def test_mapping_matrix(self):
        ok = map_http_error(200, {}, b'{"quotes": []}', "quote", "A")
        assert ok is None
        assert isinstance(
            map_http_error(404, {}, b"", "quote", "A"), NotFoundError
        )
        assert isinstance(
            map_http_error(403, {}, b"", "quote", "A"), UnsupportedError
        )
        assert isinstance(
            map_http_error(500, {}, b"", "quote", "A"), ProviderError
        )
        # 200 with an API error envelope: message shape decides
        assert isinstance(
            map_http_error(200, {}, b'{"error": "Symbol Not Found"}',
                           "quote", "A"),
            NotFoundError,
        )
        assert isinstance(
            map_http_error(200, {}, b'{"error": "internal"}', "quote", "A"),
            ProviderError,
        )
        assert isinstance(
            map_http_error(200, {}, b"not json", "quote", "A"), ProviderError
        )

    def test_rate_limit_carries_retry_after(self):
        err = map_http_error(429, {"Retry-After": "7.5"}, b"", "quote", "A")
        assert isinstance(err, RateLimited)
        assert err.window_s == 7.5

    @pytest.mark.parametrize("headers, window_s", [
        ({"retry-after": "7.5"}, 7.5),  # HTTP/2 sends lowercase names
        ({"Retry-After": "inf"}, None),  # None: the Blacklist default
        ({"Retry-After": "nan"}, None),
        ({"Retry-After": "-5"}, None),
    ], ids=["lowercase", "inf", "nan", "negative"])
    def test_retry_after_sets_blacklist_window(self, headers, window_s):
        err = map_http_error(429, headers, b"", "quote", "A")
        assert isinstance(err, RateLimited)
        assert getattr(err, "window_s", None) == window_s
        now = [0.0]
        blacklist = Blacklist(default_window_s=60.0, clock=lambda: now[0])
        blacklist.handle_error(err)
        assert blacklist.remaining_s() == (window_s or 60.0)
        now[0] = 1e9
        assert blacklist.remaining_s() is None

    def test_retry_after_zero_leaves_no_blacklist_window(self):
        # "retry now" is a window of 0 s, not a cue for the default
        err = map_http_error(429, {"Retry-After": "0"}, b"", "quote", "A")
        assert err.window_s == 0.0
        blacklist = Blacklist(default_window_s=60.0, clock=lambda: 0.0)
        blacklist.handle_error(err)
        assert blacklist.remaining_s() is None


class TestQuotePagination:
    def test_batched_pages_and_mapping(self):
        transport = FakeTransport(dict([
            canned("/v1/quote", {"symbols": "AAPL,MSFT"}, {"quotes": [
                {"symbol": "AAPL", "price": 1.0, "currency": "USD"},
                {"symbol": "MSFT", "price": 2.0, "currency": "USD"},
            ]}),
            canned("/v1/quote", {"symbols": "GOOG"}, {"quotes": [
                {"symbol": "GOOG", "price": 3.0, "currency": "USD",
                 "exchange": "NASDAQ"},
            ]}),
        ]))
        ad = RestAdapter("yf", BASE, transport, page_size=2)
        rows = ad.fetch_quotes(["AAPL", "MSFT", "GOOG"])
        assert len(transport.calls) == 2  # 3 symbols, page size 2
        got = {r[1]: r for r in rows}
        assert set(got) == {"AAPL", "MSFT", "GOOG"}
        assert got["GOOG"][3] == "NASDAQ"
        assert got["AAPL"][2] == "EQUITY"  # kind default


class TestMiddlewareIntegration:
    def test_cache_prevents_repeat_calls(self):
        transport = FakeTransport(dict([
            canned("/v1/quote", {"symbols": "AAPL"},
                   {"quotes": [{"symbol": "AAPL", "price": 1.0}]}),
        ]))
        ad = RestAdapter(
            "yf", BASE, transport,
            middleware=MiddlewareStack(cache=TTLCache(), connector="yf"),
        )
        ad.fetch_quotes(["AAPL"])
        ad.fetch_quotes(["AAPL"])
        assert len(transport.calls) == 1  # second served from cache

    def test_rate_limit_blacklists_connector(self):
        transport = FakeTransport(dict([
            canned("/v1/quote", {"symbols": "AAPL"}, {}, status=429,
                   headers={"Retry-After": "60"}),
        ]))
        ad = RestAdapter(
            "yf", BASE, transport,
            middleware=MiddlewareStack(blacklist=Blacklist(), connector="yf"),
        )
        with pytest.raises(RateLimited):
            ad.fetch_quotes(["AAPL"])
        with pytest.raises(TemporarilyBlacklisted):
            ad.fetch_quotes(["AAPL"])  # fails fast, no transport touch
        assert len(transport.calls) == 1


class TestRouterMount:
    def test_quote_through_router(self, spark):
        """A rest_source drops into the same Catalog + router plans as any
        fixture provider."""
        from borsa_spark.router import quote
        from borsa_spark.sources.provider import Catalog

        transport = FakeTransport(dict([
            canned("/v1/quote", {"symbols": "AAPL,MSFT"}, {"quotes": [
                {"symbol": "AAPL", "price": 190.5, "currency": "USD",
                 "exchange": "NASDAQ"},
                {"symbol": "MSFT", "price": 410.0, "currency": "USD",
                 "exchange": "NASDAQ"},
            ]}),
        ]))
        ad = RestAdapter("yf", BASE, transport)
        cat = Catalog()
        cat.register(rest_source(spark, ad, ["AAPL", "MSFT"]))
        row = quote(spark, cat, "AAPL").limit(1).collect()[0]
        assert row.provider == "yf" and float(row.price) == 190.5

    def test_failing_provider_is_skipped(self, spark):
        """A REST provider out of quota drops out of quote() and quotes()
        while a table provider still answers; only when every provider
        fails does the call raise."""
        from borsa_spark.errors import QuotaExceeded
        from borsa_spark.middleware import QuotaGuard
        from borsa_spark.router import quote, quotes
        from borsa_spark.sources.provider import Catalog, fixture_source
        from borsa_spark.sources.rest import QUOTE_SCHEMA

        transport = FakeTransport(dict([
            canned("/v1/quote", {"symbols": "AAPL"}, {"quotes": [
                {"symbol": "AAPL", "price": 190.5, "currency": "USD"},
            ]}),
        ]))
        ad = RestAdapter(
            "yf", BASE, transport,
            middleware=MiddlewareStack(quota=QuotaGuard(1), connector="yf"),
        )
        rest = rest_source(spark, ad, ["AAPL"])
        table = fixture_source("tbl", quote=spark.createDataFrame(
            [("tbl", "AAPL", "EQUITY", None, 189.0, None, "USD")],
            QUOTE_SCHEMA,
        ))
        cat = Catalog().register(rest).register(table)
        # the first call spends the REST provider's quota of one
        assert quote(spark, cat, "AAPL").collect()[0].provider == "yf"
        assert quote(spark, cat, "AAPL").collect()[0].provider == "tbl"
        won, failed = quotes(spark, cat, ["AAPL"])
        assert [r.provider for r in won.collect()] == ["tbl"]
        assert failed.count() == 0
        assert len(transport.calls) == 1

        alone = Catalog().register(rest)
        with pytest.raises(QuotaExceeded):
            quote(spark, alone, "AAPL")
        with pytest.raises(QuotaExceeded):
            quotes(spark, alone, ["AAPL"])


class TestSocketQuoteStream:
    def test_live_lines_through_gate(self, spark, tmp_path):
        """A thread-local TCP server plays the role of the provider's
        websocket: JSON lines stream through the socket source, parse into
        QUOTE_UPDATES shape, and the monotonic gate drops the out-of-order
        update — a live end-to-end drive with no network egress."""
        import socket
        import threading
        import time

        from borsa_spark.sources.rest import socket_quote_stream
        from borsa_spark.streaming import streaming_monotonic_gate

        lines = [
            b'{"symbol": "AAPL", "ts": "2026-01-01T00:00:10", "price": 1.0, "seq": 1}\n',
            b'{"symbol": "AAPL", "ts": "2026-01-01T00:00:20", "price": 2.0, "seq": 2}\n',
            b'not json at all\n',  # malformed: dropped by the parse filter
            b'{"symbol": "AAPL", "ts": "2026-01-01T00:00:15", "price": 9.0, "seq": 3}\n',  # stale: gated
            b'{"symbol": "AAPL", "ts": "2026-01-01T00:00:30", "price": 3.0, "seq": 4}\n',
        ]

        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        port = srv.getsockname()[1]
        stop = threading.Event()

        def serve():
            conn, _ = srv.accept()
            with conn:
                for ln in lines:
                    conn.sendall(ln)
                stop.wait(60)  # hold the connection open until the drain

        t = threading.Thread(target=serve, daemon=True)
        t.start()
        try:
            stream = socket_quote_stream(spark, "127.0.0.1", port, "livefeed")
            gated = streaming_monotonic_gate(stream, key="symbol")
            q = (
                gated.writeStream.format("memory")
                .queryName("socket_gate")
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(processingTime="250 milliseconds")
                .start()
            )
            try:
                t0 = time.time()
                while time.time() - t0 < 60:
                    got = spark.table("socket_gate").collect()
                    if len(got) >= 3:
                        break
                    time.sleep(0.5)
                rows = {r.seq: r for r in spark.table("socket_gate").collect()}
                assert set(rows) == {1, 2, 4}, rows  # stale seq=3 gated out
                assert rows[1].provider == "livefeed"
                assert float(rows[4].price) == 3.0
            finally:
                q.stop()
        finally:
            stop.set()
            srv.close()


class TestDistributedHistory:
    def _transport(self):
        def hist_doc(base):
            return {"adjusted": True, "candles": [
                {"ts": 1_700_000_000 + i * 86_400, "open": base + i,
                 "high": base + i + 1.0, "low": base + i - 1.0,
                 "close": base + i + 0.5, "volume": 1000 + i}
                for i in range(3)
            ]}

        return FakeTransport(dict([
            canned("/v1/history", {"symbol": "AAPL", "interval": "1d"},
                   hist_doc(100.0)),
            canned("/v1/history", {"symbol": "MSFT", "interval": "1d"},
                   hist_doc(300.0)),
            # GHOST intentionally has no canned response -> transport 404
        ]))

    def test_rows_fetched_on_executors(self, spark):
        ad = RestAdapter("yf", BASE, self._transport())
        syms = spark.createDataFrame(
            [("AAPL",), ("GHOST",), ("MSFT",)], "symbol string"
        )
        out = ad.fetch_history_distributed(syms).collect()
        by_sym = {}
        for r in out:
            by_sym.setdefault(r.symbol, []).append(r)
        assert set(by_sym) == {"AAPL", "MSFT"}  # GHOST: no rows, no error
        assert len(by_sym["AAPL"]) == 3
        r0 = sorted(by_sym["AAPL"], key=lambda r: r.ts)[0]
        assert r0.open == 100.0 and r0.volume == 1000 and r0.interval == "1d"
        assert r0.adjusted is True

    def test_partition_call_budget_is_loud(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        ad = RestAdapter("yf", BASE, self._transport())
        syms = spark.createDataFrame(
            [("AAPL",), ("MSFT",), ("GHOST",)], "symbol string"
        ).repartition(1)
        with pytest.raises((PythonException, Py4JJavaError),
                           match="call budget"):
            ad.fetch_history_distributed(
                syms, max_calls_per_partition=2
            ).collect()

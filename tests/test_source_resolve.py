"""Request-path set-up: a file-backed provider factory runs once (until
``Source.refresh()``), every other factory runs on every call, and the
local rows of the quote, info and REST paths reach Spark through Arrow as
a ``LocalRelation`` instead of a pickled Python RDD."""

from __future__ import annotations

import json
import sys
import threading

from pyspark.sql import types as T

from borsa_spark.middleware import MiddlewareStack, TTLCache
from borsa_spark.router import (
    ALL_SYMBOLS,
    HistoryRequest,
    download,
    history,
    quote,
    quotes,
)
from borsa_spark.sources.provider import Catalog, Source
from borsa_spark.sources.rest import (
    QUOTE_SCHEMA,
    FakeTransport,
    RestAdapter,
    rest_source,
)
from tests.conftest import candle, make_candles

DAY = 86_400
BASE = "https://api.example.test"


def counting(factory):
    """``factory`` wrapped so the test can count its calls."""
    calls = []

    def run():
        calls.append(1)
        return factory()

    return run, calls


def write_candles(spark, path, rows, mode="overwrite"):
    make_candles(spark, rows).write.mode(mode).parquet(str(path))


def quote_transport(quotes_doc, symbols=("AAPL", "MSFT")):
    return FakeTransport({
        (BASE + "/v1/quote", (("symbols", ",".join(symbols)),)):
            (200, {}, json.dumps({"quotes": quotes_doc}).encode()),
    })


def analysed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


class TestFileSourceResolvedOnce:
    def test_parquet_factory_runs_once_across_history_calls(
        self, spark, tmp_path
    ):
        write_candles(spark, tmp_path / "h",
                      [candle("p", sec=i * DAY, o=10 + i) for i in range(3)])
        factory, calls = counting(
            lambda: spark.read.parquet(str(tmp_path / "h")))
        cat = Catalog().register(
            Source(name="p", history_intervals=("1d",),
                   tables={"history": factory}))
        for _ in range(2):
            res = history(spark, cat, HistoryRequest(symbol="AAPL"))
            assert res.candles.count() == 3
        assert len(calls) == 1

    def test_new_file_visible_only_after_refresh(self, spark, tmp_path):
        d = tmp_path / "h"
        write_candles(spark, d, [candle("p", sec=0, o=1.0)])
        factory, calls = counting(lambda: spark.read.parquet(str(d)))
        src = Source(name="p", history_intervals=("1d",),
                     tables={"history": factory})
        cat = Catalog().register(src)

        def days():
            return history(
                spark, cat, HistoryRequest(symbol="AAPL")).candles.count()

        assert days() == 1
        write_candles(spark, d, [candle("p", sec=DAY, o=2.0)], mode="append")
        assert days() == 1  # the resolved file list is kept
        src.refresh()
        assert days() == 2
        assert len(calls) == 2

    def test_replacing_the_factory_drops_the_resolved_relation(
        self, spark, tmp_path
    ):
        write_candles(spark, tmp_path / "a", [candle("p", sec=0)])
        write_candles(spark, tmp_path / "b",
                      [candle("p", sec=i * DAY) for i in range(2)])
        src = Source(name="p", tables={
            "history": lambda: spark.read.parquet(str(tmp_path / "a"))})
        assert src.table("history").count() == 1
        src.tables["history"] = lambda: spark.read.parquet(
            str(tmp_path / "b"))
        assert src.table("history").count() == 2

    def test_threads_racing_on_the_first_call_resolve_once(
        self, spark, tmp_path
    ):
        write_candles(spark, tmp_path / "h", [candle("p", sec=0)])
        n = 8
        start = threading.Barrier(n, timeout=60)
        factory, calls = counting(
            lambda: spark.read.parquet(str(tmp_path / "h")))
        src = Source(name="p", tables={"history": factory})
        got = [None] * n

        def first_call(i):
            start.wait()
            got[i] = src.table("history")

        threads = [threading.Thread(target=first_call, args=(i,))
                   for i in range(n)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert len(calls) == 1
        assert len({id(df) for df in got}) == 1


class TestOtherFactoriesRunEveryCall:
    def test_rest_quotes_refetch_after_cache_expiry(self, spark):
        now = [0.0]
        cache = TTLCache(ttls={"quote": 5.0}, clock=lambda: now[0])
        transport = quote_transport([
            {"symbol": "AAPL", "price": 1.0}, {"symbol": "MSFT", "price": 2.0},
        ])
        adapter = RestAdapter("yf", BASE, transport,
                              middleware=MiddlewareStack(cache=cache))
        cat = Catalog().register(
            rest_source(spark, adapter, ["AAPL", "MSFT"]))

        def price():
            return float(quote(spark, cat, "AAPL").collect()[0].price)

        assert price() == 1.0
        assert price() == 1.0  # the factory ran again: a cache hit
        assert (len(transport.calls), cache.hits, cache.misses) == (1, 1, 1)
        now[0] = 10.0
        assert price() == 1.0
        assert (len(transport.calls), cache.hits, cache.misses) == (2, 1, 2)

    def test_stream_quotes_factory_runs_every_call(self, spark):
        factory, calls = counting(
            lambda: spark.readStream.format("rate").load())
        src = Source(name="feed", tables={"stream_quotes": factory})
        for _ in range(3):
            assert src.table("stream_quotes").isStreaming
        assert len(calls) == 3


class TestLocalRowsThroughArrow:
    def catalog(self, spark, tmp_path, quotes_doc):
        cat = Catalog().register(rest_source(
            spark, RestAdapter("yf", BASE, quote_transport(quotes_doc)),
            ["AAPL", "MSFT"]))
        spark.createDataFrame(
            [("pq", "AAPL", "EQUITY", "NASDAQ", 3.0, 2.5, "USD"),
             ("pq", "GOOG", "EQUITY", "NASDAQ", 4.0, 3.5, "USD")],
            QUOTE_SCHEMA,
        ).write.parquet(str(tmp_path / "q"))
        return cat.register(Source(name="pq", tables={
            "quote": lambda: spark.read.parquet(str(tmp_path / "q"))}))

    def test_quote_plans_hold_no_pickled_rows(self, spark, tmp_path):
        cat = self.catalog(spark, tmp_path, [
            {"symbol": "AAPL", "price": 1.0, "exchange": "NASDAQ"},
            {"symbol": "MSFT", "price": 2.0, "exchange": "NASDAQ"},
        ])
        one = quote(spark, cat, "AAPL")
        best, failed = quotes(spark, cat, ["AAPL", "GOOG", "TSLA"])
        for df in (one, best, failed):
            plan = analysed(df)
            assert "LogicalRDD" not in plan, plan
            assert "LocalRelation" in plan
        assert [(r.provider, r.price) for r in one.collect()] == [("yf", 1.0)]
        assert {r.symbol: r.provider for r in best.collect()} == {
            "AAPL": "yf", "GOOG": "pq"}
        assert [r.symbol for r in failed.collect()] == ["TSLA"]

    def test_missing_rest_fields_are_null_not_nan(self, spark, tmp_path):
        cat = self.catalog(spark, tmp_path, [
            {"symbol": "AAPL", "exchange": "NASDAQ"},
            {"symbol": "MSFT", "price": 2.0},
        ])
        best, _ = quotes(spark, cat, ["AAPL", "MSFT"])
        rows = {r.symbol: r for r in best.collect()}
        assert rows["AAPL"].price is None
        assert rows["AAPL"].exchange == "NASDAQ"
        assert rows["MSFT"].price == 2.0 and rows["MSFT"].exchange is None
        assert best.filter("isnan(price)").count() == 0

    def test_empty_batch_keeps_both_schemas(self, spark, tmp_path):
        cat = self.catalog(spark, tmp_path, [
            {"symbol": "AAPL", "price": 1.0}])
        best, failed = quotes(spark, cat, [])
        full, _ = quotes(spark, cat, ["AAPL"])
        assert best.schema == full.schema
        assert failed.schema == T.StructType(
            [T.StructField("symbol", T.StringType(), True)])
        assert best.count() == 0 and failed.count() == 0

    def test_download_all_symbols_reports_no_failures(self, spark):
        cat = Catalog().register(Source(
            name="p", history_intervals=("1d",),
            tables={"history": make_candles(spark, [candle("p", sec=0)])}))
        candles, failed = download(spark, cat, ALL_SYMBOLS)
        assert candles.count() == 1
        assert failed.schema.simpleString() == "struct<symbol:string>"
        assert failed.count() == 0

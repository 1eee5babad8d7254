"""History router scenario tests — ports of the reference's
borsa/tests/router/history_* golden expectations onto Spark fixtures.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from borsa_spark.errors import UnsupportedError
from borsa_spark.plans import RoutingPolicy
from borsa_spark.router import (
    HistoryRequest,
    download,
    history,
    info,
    plan_history,
    quote,
    quotes,
    search,
    capability_scan,
)
from borsa_spark.sources.provider import Catalog, Source, fixture_source
from tests.conftest import candle, make_candles, ts

DAY = 86_400


def hist_source(spark, name, rows, intervals=("1d",), with_interval_col=None):
    df = make_candles(spark, rows)
    if with_interval_col:
        df = df.withColumn("interval", F.lit(with_interval_col))
    return fixture_source(name, history_intervals=intervals, history=df)


class TestHistoryRouter:
    def test_merge_adjacent_and_overlap_first_wins(self, spark):
        # router_history_merge.rs:9-50 — provA covers days 0-2, provB days
        # 2-4; overlap day 2 goes to the higher-priority provA.
        a = [candle("provA", sec=i * DAY, o=10 + i, seq=i) for i in range(3)]
        b = [candle("provB", sec=i * DAY, o=100 + i, seq=i) for i in range(2, 5)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        rows = res.candles.collect()
        assert [r.ts for r in rows] == [ts(i * DAY) for i in range(5)]
        assert [str(r.provider) for r in rows] == [
            "provA", "provA", "provA", "provB", "provB",
        ]
        assert float(rows[2].open) == 12.0  # provA wins the overlap
        # attribution spans: provA run then provB run
        spans = res.attribution.orderBy("span_start").collect()
        assert [(s.provider, s.span_start, s.span_end) for s in spans] == [
            ("provA", ts(0), ts(2 * DAY)),
            ("provB", ts(3 * DAY), ts(4 * DAY)),
        ]

    def test_history_surfaces_merged_series_flags(self, spark):
        # merge.rs:99-109: HistoryResponse.adjusted = AND over contributing
        # series; meta = first contributor's non-null tz/offset by priority.
        # Contributors are post-filter_adjustedness (history.rs:188-203):
        # surviving series always share the top-priority series' flag, so
        # the AND reads True iff the surviving set is adjusted.
        a = [
            candle("provA", "AAPL", sec=0, o=1.0, adjusted=True,
                   timezone="America/New_York"),
            candle("provA", "GOOG", sec=0, o=5.0, adjusted=False),
        ]
        b = [
            # contributes day 1 to AAPL; tz must still come from provA
            candle("provB", "AAPL", sec=DAY, o=2.0, adjusted=True,
                   timezone="Asia/Tokyo"),
            candle("provB", "MSFT", sec=0, o=3.0, adjusted=False,
                   utc_offset_seconds=3600),
            candle("provB", "GOOG", sec=DAY, o=6.0, adjusted=False),
        ]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))

        res = history(
            spark, cat, HistoryRequest(symbol="AAPL"),
            symbols=["AAPL", "MSFT", "GOOG"],
        )
        assert {str(r.provider) for r in res.candles.collect()} == {
            "provA", "provB",
        }
        flags = {r.symbol: r for r in res.flags.collect()}
        # AAPL: both providers contribute, both adjusted -> True; meta from
        # the first (priority-0) contributor.
        assert flags["AAPL"].adjusted is True
        assert flags["AAPL"].timezone == "America/New_York"
        # MSFT: single unadjusted contributor -> False, offset meta surfaces.
        assert flags["MSFT"].adjusted is False
        assert flags["MSFT"].utc_offset_seconds == 3600
        # GOOG: no adjusted series exists anywhere -> both unadjusted
        # providers contribute and the AND is False.
        assert flags["GOOG"].adjusted is False

    def test_policy_priority_controls_merge_winner(self, spark):
        a = [candle("provA", sec=0, o=1.0)]
        b = [candle("provB", sec=0, o=2.0)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        cat.policy = RoutingPolicy().providers_global(["provB", "provA"])
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        rows = res.candles.collect()
        assert len(rows) == 1 and float(rows[0].open) == 2.0

    def test_strict_rule_excludes_provider(self, spark):
        a = [candle("provA", sec=0, o=1.0)]
        b = [candle("provB", sec=0, o=2.0)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        cat.policy = RoutingPolicy().providers_for_symbol(
            "AAPL", ["provB"], strict=True
        )
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        rows = res.candles.collect()
        assert [str(r.provider) for r in rows] == ["provB"]

    def test_interval_largest_divisor_resample(self, spark):
        # router_history_interval_largest_divisor.rs: request 1h from a
        # provider with native 30m -> scan 30m, resample to 60m.
        rows = [
            candle("provA", sec=i * 1800, o=float(i), volume=1, seq=i)
            for i in range(4)
        ]
        cat = Catalog().register(
            hist_source(spark, "provA", rows, intervals=("30m",))
        )
        plans, _ = plan_history(cat, HistoryRequest(symbol="AAPL", interval="1h"))
        assert plans[0][2] == "30m" and plans[0][3].minutes == 60
        res = history(spark, cat, HistoryRequest(symbol="AAPL", interval="1h"))
        out = res.candles.collect()
        assert len(out) == 2
        assert [float(r.open) for r in out] == [0.0, 2.0]
        assert [r.volume for r in out] == [2, 2]

    def test_interval_non_divisible_unsupported(self, spark):
        cat = Catalog().register(
            hist_source(spark, "provA", [candle("provA")], intervals=("30m",))
        )
        with pytest.raises(UnsupportedError):
            plan_history(cat, HistoryRequest(symbol="AAPL", interval="15m"))

    def test_weekly_fallback_via_daily(self, spark):
        rows = [
            candle("provA", sec=i * DAY, o=float(i), volume=1, seq=i)
            for i in range(1, 15)
        ]
        cat = Catalog().register(hist_source(spark, "provA", rows))
        res = history(spark, cat, HistoryRequest(symbol="AAPL", interval="1wk"))
        out = res.candles.collect()
        # days 1..14 (Fri 1970-01-02 .. Thu 1970-01-15): weeks start Mon
        # 1969-12-29 (epoch day -3), 1970-01-05 (day 4), 1970-01-12 (day 11)
        assert [r.ts for r in out] == [ts(-3 * DAY), ts(4 * DAY), ts(11 * DAY)]

    def test_prefer_adjusted_filters_unadjusted(self, spark):
        # router_history_prefer_adjusted.rs: provA (unadjusted, higher
        # priority) vs provB (adjusted) -> adjusted wins entirely.
        a = [candle("provA", sec=0, o=1.0, adjusted=False)]
        b = [candle("provB", sec=0, o=2.0, adjusted=True),
             candle("provB", sec=DAY, o=3.0, adjusted=True, seq=1)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        rows = res.candles.collect()
        assert [str(r.provider) for r in rows] == ["provB", "provB"]

    def test_no_prefer_adjusted_keeps_first_flag_group(self, spark):
        a = [candle("provA", sec=0, o=1.0, adjusted=False)]
        b = [candle("provB", sec=DAY, o=2.0, adjusted=True)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        res = history(
            spark, cat, HistoryRequest(symbol="AAPL"), prefer_adjusted=False
        )
        rows = res.candles.collect()
        # first-priority provider is unadjusted -> only unadjusted survive
        assert [str(r.provider) for r in rows] == ["provA"]

    def test_fallback_strategy_first_non_empty(self, spark):
        # history fallback: provA has no AAPL rows; provB does.
        a = [candle("provA", symbol="MSFT", sec=0, o=1.0)]
        b = [candle("provB", sec=0, o=2.0)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        res = history(
            spark, cat, HistoryRequest(symbol="AAPL"), strategy="fallback"
        )
        rows = res.candles.collect()
        assert [str(r.provider) for r in rows] == ["provB"]

    def test_fallback_takes_one_symbol_as_string(self, spark):
        # symbols="AAPL" is one symbol, not a four-character batch
        a = [candle("provA", symbol="MSFT", sec=0, o=1.0)]
        b = [candle("provB", sec=0, o=2.0), candle("provB", sec=DAY, o=3.0)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))

        def candles(symbols):
            res = history(spark, cat, HistoryRequest(symbol="AAPL"),
                          strategy="fallback", symbols=symbols)
            return [tuple(r) for r in res.candles.collect()]

        want = candles(["AAPL"])
        assert len(want) == 2
        assert candles("AAPL") == want

    def test_empty_provider_skipped_in_deep(self, spark):
        # router_history_empty_is_skipped.rs
        a = [candle("provA", symbol="MSFT", sec=0, o=1.0)]
        b = [candle("provB", sec=0, o=2.0)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        assert [float(r.open) for r in res.candles.collect()] == [2.0]

    def test_auto_resample_subdaily(self, spark):
        # router_history_auto_resample.rs: hourly data auto-resampled daily.
        rows = [
            candle("provA", sec=i * 3600, o=float(i), volume=1, seq=i)
            for i in range(30)
        ]
        cat = Catalog().register(
            hist_source(spark, "provA", rows, intervals=("1h",))
        )
        res = history(
            spark, cat, HistoryRequest(symbol="AAPL", interval="1h"),
            auto_resample_subdaily_to_daily=True,
        )
        out = res.candles.collect()
        assert [r.ts for r in out] == [ts(0), ts(DAY)]
        assert all(r.close_unadj is None for r in out)

    def test_final_resample_strips_close_unadj(self, spark):
        rows = [
            candle("provA", sec=i * DAY, o=float(i), close_unadj=5.0, seq=i)
            for i in range(8)
        ]
        cat = Catalog().register(hist_source(spark, "provA", rows))
        res = history(
            spark, cat, HistoryRequest(symbol="AAPL"), resampling="weekly"
        )
        out = res.candles.collect()
        assert all(r.close_unadj is None for r in out)
        assert len(out) == 2  # Thu 0..Sun 3 | Mon 4..Wed 7

    def test_no_eligible_provider_raises(self, spark):
        cat = Catalog().register(
            fixture_source("provA", kinds=frozenset({"CRYPTO"}),
                           history=make_candles(spark, [candle()]))
        )
        with pytest.raises(UnsupportedError):
            plan_history(cat, HistoryRequest(symbol="AAPL", kind="EQUITY"))

    @staticmethod
    def _counting_catalog(spark):
        """One provider whose history factory counts its calls; an
        in-memory frame is not a file relation, so every call counts."""
        df = make_candles(spark, [candle("provA", sec=0, o=1.0)])
        calls = []

        def factory():
            calls.append(1)
            return df

        src = Source(name="provA", history_intervals=("1d",),
                     tables={"history": factory})
        return Catalog().register(src), calls

    def test_unknown_strategy_rejected_before_any_provider(self, spark):
        cat, calls = self._counting_catalog(spark)
        with pytest.raises(UnsupportedError, match="deeep"):
            history(spark, cat, HistoryRequest(symbol="AAPL"),
                    strategy="deeep")
        assert calls == []

    def test_unknown_resampling_rejected_before_any_provider(self, spark):
        # An unknown or miscased value must not fall through to the
        # unresampled series.
        cat, calls = self._counting_catalog(spark)
        for resampling in ("monthly", "Weekly"):
            with pytest.raises(UnsupportedError, match=resampling):
                history(spark, cat, HistoryRequest(symbol="AAPL"),
                        resampling=resampling)
        assert calls == []

    def test_fallback_batch_rejected_before_any_provider(self, spark):
        cat, calls = self._counting_catalog(spark)
        with pytest.raises(UnsupportedError, match="per-symbol"):
            history(spark, cat, HistoryRequest(symbol="AAPL"),
                    strategy="fallback", symbols=["AAPL", "MSFT"])
        assert calls == []

    def test_deep_batch_actions_follow_the_symbol_set(self, spark):
        # The actions scan takes the same symbol predicate as the candle
        # scan: a batch keeps only its symbols, ALL_SYMBOLS keeps every one.
        from borsa_spark.router import ALL_SYMBOLS
        from tests.conftest import action, make_actions

        syms = ["AAPL", "MSFT", "GOOG"]
        cat = Catalog().register(
            fixture_source(
                "provA", history_intervals=("1d",),
                history=make_candles(
                    spark, [candle("provA", symbol=s) for s in syms]
                ),
                actions=make_actions(
                    spark, [action("provA", symbol=s) for s in syms]
                ),
            )
        )
        req = HistoryRequest(symbol="AAPL", include_actions=True)

        def action_symbols(symbols):
            res = history(spark, cat, req, strategy="deep", symbols=symbols)
            return sorted(r.symbol for r in res.actions.collect())

        assert action_symbols(["AAPL", "MSFT"]) == ["AAPL", "MSFT"]
        assert action_symbols(ALL_SYMBOLS) == ["AAPL", "GOOG", "MSFT"]

    # One symbol runs in one partition: no exchange, one job. Provider B's
    # 30m or 1h bars start two hours after A's and overlap them.
    _A30 = [candle("provA", sec=i * 1800, o=float(i), volume=1, seq=i)
            for i in range(8)]
    _B = {
        "30m": [candle("provB", sec=7200 + i * 1800, o=100.0 + i, volume=1,
                       seq=i) for i in range(8)],
        "1h": [candle("provB", sec=7200 + i * 3600, o=100.0 + i, volume=1,
                      seq=i) for i in range(4)],
    }

    def _two_provider_catalog(self, spark, b_interval):
        return Catalog().register(
            hist_source(spark, "provA", self._A30, intervals=("30m",))
        ).register(
            hist_source(spark, "provB", self._B[b_interval],
                        intervals=(b_interval,))
        )

    @staticmethod
    def _executed_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    @pytest.mark.parametrize("b_interval", ["30m", "1h"],
                             ids=["uniform_resample", "per_provider_resample"])
    def test_single_symbol_plans_no_exchange_and_runs_one_job(
        self, spark, b_interval
    ):
        cat = self._two_provider_catalog(spark, b_interval)
        candles = history(
            spark, cat, HistoryRequest(symbol="AAPL", interval="1h")
        ).candles
        plan = self._executed_plan(candles)
        assert "Exchange" not in plan, plan
        sc = spark.sparkContext
        group = f"one_symbol_history_{b_interval}"
        sc.setJobGroup(group, group)
        try:
            out = candles.toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        # provA's four hourly bars win the overlap; provB fills hours 4-5.
        assert list(out.ts) == [ts(h * 3600) for h in range(6)]
        assert list(out.provider) == ["provA"] * 4 + ["provB"] * 2

    @pytest.mark.parametrize(
        "kw", [{"symbols": "AAPL"}, {"symbols": ["AAPL"]},
               {"strategy": "fallback"}],
        ids=["bare_string", "one_element_list", "fallback"])
    def test_every_one_symbol_form_plans_no_exchange(self, spark, kw):
        cat = self._two_provider_catalog(spark, "1h")
        req = HistoryRequest(symbol="AAPL", interval="1h")
        candles = history(spark, cat, req, **kw).candles
        plan = self._executed_plan(candles)
        assert "Exchange" not in plan, plan
        rows = [(r.ts, r.provider) for r in candles.collect()]
        assert rows == sorted(rows)
        assert rows[0] == (ts(0), "provA")

    def test_batch_keeps_the_global_symbol_ts_order(self, spark):
        # Each provider's frame lists both symbols, latest bar first, and
        # the providers alternate days. Small shuffles may be coalesced to
        # one partition at run time, so the plan check is what pins the
        # global sort.
        a = [candle("provA", symbol=s, sec=d * DAY, o=float(d), seq=d)
             for s in ("MSFT", "AAPL") for d in (4, 2, 0)]
        b = [candle("provB", symbol=s, sec=d * DAY, o=100.0 + d, seq=d)
             for s in ("MSFT", "AAPL") for d in (5, 3, 1)]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        candles = history(spark, cat, HistoryRequest(symbol="AAPL"),
                          symbols=["MSFT", "AAPL"]).candles
        assert "rangepartitioning" in self._executed_plan(candles)
        rows = [(r.symbol, r.ts, r.provider) for r in candles.collect()]
        assert rows == [
            (s, ts(d * DAY), "provA" if d % 2 == 0 else "provB")
            for s in ("AAPL", "MSFT") for d in range(6)
        ]

    @pytest.mark.parametrize(
        "kw", [{"resampling": "daily"},
               {"auto_resample_subdaily_to_daily": True}],
        ids=["daily", "auto_subdaily"])
    def test_one_symbol_final_resample_matches_the_batch_plan(self, spark, kw):
        # Hourly bars over two days from both providers; a batch with a
        # symbol nobody carries still takes the shuffled plan, so it is
        # the reference for the one-partition answer.
        a = [candle("provA", sec=i * 3600, o=float(i), volume=1, seq=i)
             for i in range(30)]
        b = [candle("provB", sec=i * 3600, o=100.0 + i, volume=2, seq=i)
             for i in range(20, 48)]
        cat = Catalog().register(
            hist_source(spark, "provA", a, intervals=("1h",))
        ).register(hist_source(spark, "provB", b, intervals=("1h",)))
        req = HistoryRequest(symbol="AAPL", interval="1h")
        one = history(spark, cat, req, **kw).candles
        batch = history(spark, cat, req, symbols=["AAPL", "GHOST"],
                        **kw).candles
        exchanges = [line for line in self._executed_plan(one).splitlines()
                     if "Exchange" in line]
        assert all("BroadcastExchange" in line for line in exchanges), exchanges
        rows = one.collect()
        assert [tuple(r) for r in rows] == [tuple(r) for r in batch.collect()]
        # Day 0: provA hours 0-23. Day 1: provA hours 24-29, provB 30-47.
        assert [(r.ts, float(r.open), r.volume) for r in rows] == [
            (ts(0), 0.0, 24), (ts(DAY), 24.0, 6 + 18 * 2),
        ]


def quote_row(provider, symbol, price, exchange=None, shortname=None):
    from decimal import Decimal

    return (
        provider, symbol, "EQUITY", shortname,
        Decimal(str(price)), None, "USD", exchange, "REGULAR", None,
    )


def quote_source(spark, name, rows, **kw):
    from borsa_spark import schemas

    df = spark.createDataFrame(rows, schema=schemas.QUOTES)
    return fixture_source(name, quote=df, **kw)


class TestQuoteRouter:
    def test_priority_fallback(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "MSFT", 10)])
        ).register(
            quote_source(spark, "provB", [quote_row("provB", "AAPL", 20)])
        )
        rows = quote(spark, cat, "AAPL").collect()
        assert len(rows) == 1 and float(rows[0].price) == 20.0

    def test_exchange_enforcement_triggers_fallback(self, spark):
        # core.rs:276-296 — provA's quote has the wrong exchange => NotFound
        # => provB (right exchange) wins despite lower priority.
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "AAPL", 10, "LSE")])
        ).register(
            quote_source(spark, "provB", [quote_row("provB", "AAPL", 20, "NYSE")])
        )
        rows = quote(spark, cat, "AAPL", exchange="NYSE").collect()
        assert len(rows) == 1 and float(rows[0].price) == 20.0

    def test_exchange_missing_passes_through(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "AAPL", 10, None)])
        )
        rows = quote(spark, cat, "AAPL", exchange="NYSE").collect()
        assert len(rows) == 1 and float(rows[0].price) == 10.0

    def test_batch_partial_failures(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "AAPL", 10)])
        )
        best, failures = quotes(spark, cat, ["AAPL", "GHOST"])
        assert [r.symbol for r in best.collect()] == ["AAPL"]
        assert [r.symbol for r in failures.collect()] == ["GHOST"]

    def test_batch_is_one_eager_run_that_caches_nothing(self, spark):
        # A8 as a plain call: the union runs once inside quotes(), both
        # outputs come back as local relations, and nothing stays cached.
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "MSFT", 10)])
        ).register(
            quote_source(spark, "provB", [quote_row("provB", "AAPL", 20)])
        )
        sc = spark.sparkContext
        cached = sc._jsc.getPersistentRDDs().size()
        sc.setJobGroup("quotes_batch_jobs", "quotes_batch_jobs")
        try:
            best, failures = quotes(
                spark, cat, ["ZZZ", "AAPL", "GHOST", "MSFT"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("quotes_batch_jobs")
        assert 1 <= len(jobs) <= 2, jobs
        assert sc._jsc.getPersistentRDDs().size() == cached
        for df in (best, failures):
            plan = df._jdf.queryExecution().analyzed().toString()
            assert plan.startswith("LocalRelation"), plan
        assert [r.symbol for r in failures.collect()] == ["ZZZ", "GHOST"]
        assert {r.symbol: r.provider for r in best.collect()} == {
            "AAPL": "provB", "MSFT": "provA"}

    def test_single_quote_plans_no_exchange(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "AAPL", 10)])
        ).register(
            quote_source(spark, "provB", [quote_row("provB", "AAPL", 20)])
        )
        one = quote(spark, cat, "AAPL")
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert [r.provider for r in one.collect()] == ["provA"]

    def test_duplicate_symbols_rejected(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "AAPL", 10)])
        )
        with pytest.raises(ValueError):
            quotes(spark, cat, ["AAPL", "AAPL"])

    def test_unknown_strategy_rejected(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA", [quote_row("provA", "AAPL", 10)])
        )
        with pytest.raises(UnsupportedError, match="latnecy"):
            quote(spark, cat, "AAPL", strategy="latnecy")


def search_source(spark, name, rows):
    from borsa_spark import schemas

    df = spark.createDataFrame(rows, schema=schemas.SEARCH_RESULTS)
    return fixture_source(name, search=df)


class TestSearchRouter:
    def test_dedup_by_exchange_preference(self, spark):
        # core.rs:298-332 — same symbol on two exchanges; policy prefers
        # NASDAQ; output order = first-seen order.
        cat = Catalog().register(
            search_source(spark, "provA", [
                ("provA", "ap", "AAPL", "EQUITY", "LSE", "Apple Inc", 0),
                ("provA", "ap", "APLE", "EQUITY", "NYSE", "Apple Hosp", 1),
            ])
        ).register(
            search_source(spark, "provB", [
                ("provB", "ap", "AAPL", "EQUITY", "NASDAQ", "Apple Inc", 0),
            ])
        )
        cat.policy = RoutingPolicy().exchanges_global(["NASDAQ", "NYSE"])
        rows = search(spark, cat, "ap").collect()
        # AAPL first-seen at provA idx 0 -> stays first, but NASDAQ row wins
        assert [(r.symbol, r.exchange) for r in rows] == [
            ("AAPL", "NASDAQ"), ("APLE", "NYSE"),
        ]

    def test_limit_truncates(self, spark):
        cat = Catalog().register(
            search_source(spark, "provA", [
                ("provA", "a", f"SYM{i}", "EQUITY", None, f"name{i}", i)
                for i in range(10)
            ])
        )
        assert len(search(spark, cat, "sym", limit=3).collect()) == 3


class TestCapabilityScan:
    def test_first_non_empty_provider_wins_wholesale(self, spark):
        # statement rows must come from ONE provider per symbol (no mixing)
        a = spark.createDataFrame(
            [("provA", "AAPL", "2023", False, 100.0)],
            "provider string, symbol string, period string, quarterly boolean, revenue double",
        )
        b = spark.createDataFrame(
            [("provB", "AAPL", "2023", False, 999.0),
             ("provB", "AAPL", "2022", False, 888.0),
             ("provB", "MSFT", "2023", False, 777.0)],
            "provider string, symbol string, period string, quarterly boolean, revenue double",
        )
        cat = Catalog().register(
            fixture_source("provA", income_statement=a)
        ).register(fixture_source("provB", income_statement=b))
        rows = capability_scan(
            cat, "income_statement", ["AAPL", "MSFT"],
            filters={"quarterly": False},
        ).collect()
        by_sym = {}
        for r in rows:
            by_sym.setdefault(r.symbol, set()).add(str(r.provider))
        assert by_sym == {"AAPL": {"provA"}, "MSFT": {"provB"}}


class TestInfoDownload:
    def test_info_coalesces_name(self, spark):
        cat = Catalog().register(
            quote_source(spark, "provA",
                         [quote_row("provA", "AAPL", 10, "NASDAQ", None)])
        ).register(
            fixture_source(
                "provB",
                profile=spark.createDataFrame(
                    [("provB", "AAPL", "Apple Inc", "Tech")],
                    "provider string, symbol string, name string, sector string",
                ),
            )
        )
        out, warnings = info(spark, cat, ["AAPL"])
        row = out.collect()[0]
        assert row.name == "Apple Inc"  # quote shortname null -> profile name
        assert float(row.price) == 10.0

    def test_download_batches_and_reports_failures(self, spark):
        rows = [candle("provA", symbol=s, sec=i * DAY, o=float(i), seq=i)
                for s in ("AAPL", "MSFT") for i in range(3)]
        cat = Catalog().register(hist_source(spark, "provA", rows))
        candles, failed = download(spark, cat, ["AAPL", "MSFT", "GHOST"])
        assert candles.count() == 6
        assert [r.symbol for r in failed.collect()] == ["GHOST"]


class TestCurrencyValidation:
    def test_mixed_currency_blames_deviating_provider(self, spark):
        # R9 (history.rs:223-274): provA consistent USD (reference currency,
        # highest priority), provB consistent EUR -> provB blamed.
        from borsa_spark.errors import CurrencyError

        a = [candle("provA", sec=0, o=1.0, currency="USD")]
        b = [candle("provB", sec=DAY, o=2.0, currency="EUR")]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        with pytest.raises(CurrencyError) as ei:
            history(spark, cat, HistoryRequest(symbol="AAPL"),
                    validate_currency=True)
        assert ei.value.connector == "provB"

    def test_internally_inconsistent_provider_blamed_first(self, spark):
        from borsa_spark.errors import CurrencyError

        a = [candle("provA", sec=0, o=1.0, currency="USD"),
             candle("provA", sec=DAY, o=2.0, currency="GBP", seq=1)]
        b = [candle("provB", sec=2 * DAY, o=3.0, currency="EUR")]
        cat = Catalog().register(
            hist_source(spark, "provB", b)
        ).register(hist_source(spark, "provA", a))
        with pytest.raises(CurrencyError) as ei:
            history(spark, cat, HistoryRequest(symbol="AAPL"),
                    validate_currency=True)
        assert ei.value.connector == "provA"

    def test_uniform_currency_passes(self, spark):
        a = [candle("provA", sec=0, o=1.0, currency="USD")]
        b = [candle("provB", sec=DAY, o=2.0, currency="USD")]
        cat = Catalog().register(
            hist_source(spark, "provA", a)
        ).register(hist_source(spark, "provB", b))
        res = history(spark, cat, HistoryRequest(symbol="AAPL"),
                      validate_currency=True)
        assert res.candles.count() == 2


class TestActionsAndPolicy:
    def test_history_merges_and_dedups_actions(self, spark):
        # A6 through the router: both providers report the same dividend;
        # output carries it once, plus provB's unique split.
        from tests.conftest import action, make_actions

        a_candles = [candle("provA", sec=0, o=1.0)]
        b_candles = [candle("provB", sec=DAY, o=2.0)]
        a_actions = [action("provA", sec=0, kind="dividend", amount=1.5)]
        b_actions = [
            action("provB", sec=0, kind="dividend", amount=1.5),
            action("provB", sec=DAY, kind="split", amount=None,
                   currency=None, numerator=2, denominator=1),
        ]
        cat = Catalog().register(
            fixture_source(
                "provA", history_intervals=("1d",),
                history=make_candles(spark, a_candles),
                actions=make_actions(spark, a_actions),
            )
        ).register(
            fixture_source(
                "provB", history_intervals=("1d",),
                history=make_candles(spark, b_candles),
                actions=make_actions(spark, b_actions),
            )
        )
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        acts = res.actions.orderBy("ts").collect()
        assert [(r.kind, r.numerator) for r in acts] == [
            ("dividend", None), ("split", 2),
        ]

    def test_validate_policy_rejects_unknown_connector(self, spark):
        from borsa_spark.errors import UnsupportedError

        cat = Catalog().register(
            hist_source(spark, "provA", [candle("provA")])
        )
        cat.policy = RoutingPolicy().providers_global(["provA", "ghost"])
        with pytest.raises(UnsupportedError, match="ghost"):
            cat.validate_policy()
        # after a valid policy, validation is a no-op
        cat.policy = RoutingPolicy().providers_global(["provA"])
        cat.validate_policy()


def test_fallback_with_symbol_batch_rejected(spark):
    a = [candle("provA", sec=0, o=1.0)]
    cat = Catalog().register(hist_source(spark, "provA", a))
    with pytest.raises(UnsupportedError, match="per-symbol"):
        history(spark, cat, HistoryRequest(symbol="AAPL"),
                strategy="fallback", symbols=["AAPL", "MSFT"])


class TestMockSources:
    def test_fixture_connector_history_and_quote(self, spark):
        # borsa-mock fixtures through the real routers
        from borsa_spark.sources.mock import fixture_mock_source

        cat = Catalog().register(fixture_mock_source(spark))
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        rows = res.candles.collect()
        assert [float(r.close) for r in rows] == [141.0, 142.0]
        q = quote(spark, cat, "BTC-USD").collect()
        assert len(q) == 1 and float(q[0].price) == 65000.0
        assert q[0].exchange is None  # crypto quote has no exchange

    def test_scripted_source_fail_then_recover(self, spark):
        # dynamic.rs Return/Fail scripting: provider errors -> warning +
        # fallback to the healthy provider; after recovery it wins again.
        from borsa_spark.errors import ProviderTimeout
        from borsa_spark.sources.mock import ScriptedSource, fixture_history_df

        flaky = ScriptedSource("flaky").script(
            "history", ProviderTimeout("boom", connector="flaky")
        )
        steady = ScriptedSource("steady").script(
            "history", fixture_history_df(spark, "steady")
        )
        cat = Catalog().register(flaky).register(steady)
        res = history(spark, cat, HistoryRequest(symbol="AAPL"))
        assert {str(r.provider) for r in res.candles.collect()} == {"steady"}
        assert any("flaky" in w for w in res.warnings)
        assert flaky.calls == ["history"]

        flaky.script("history", fixture_history_df(spark, "flaky"))
        res2 = history(spark, cat, HistoryRequest(symbol="AAPL"))
        assert {str(r.provider) for r in res2.candles.collect()} == {"flaky"}


def test_fast_info_quote_subset(spark):
    from borsa_spark.router import fast_info
    from borsa_spark.sources.mock import fixture_mock_source

    cat = Catalog().register(fixture_mock_source(spark))
    out = fast_info(spark, cat, ["AAPL", "BTC-USD"]).collect()
    by_sym = {r.symbol: r for r in out}
    assert float(by_sym["AAPL"].price) == 190.0
    assert by_sym["AAPL"].shortname == "Apple Inc."
    assert by_sym["BTC-USD"].exchange is None


def test_catalog_df_registry(spark):
    from pyspark.sql import functions as F

    from borsa_spark.sources.mock import fixture_mock_source
    from borsa_spark.sources.provider import catalog_df

    cat = Catalog().register(fixture_mock_source(spark)).register(
        fixture_source("other", history_intervals=("1m", "1d"),
                       history=make_candles(spark, [candle()]))
    )
    df = catalog_df(spark, cat)
    rows = {r.provider: r for r in df.collect()}
    assert rows["mock"].registration_idx == 0
    assert "history" in rows["mock"].capabilities
    assert rows["other"].history_intervals == ["1m", "1d"]
    # queryable: which providers can serve 1m natively?
    fast = df.filter(F.array_contains("history_intervals", "1m"))
    assert [r.provider for r in fast.collect()] == ["other"]


class TestSymbolUniverseForms:
    def test_download_all_symbols(self, spark):
        from borsa_spark.router import ALL_SYMBOLS

        a = [candle("provA", "AAPL", sec=0, o=1.0),
             candle("provA", "MSFT", sec=0, o=2.0)]
        cat = Catalog().register(hist_source(spark, "provA", a))
        candles, failed = download(spark, cat, ALL_SYMBOLS)
        assert {str(r.symbol) for r in candles.collect()} == {"AAPL", "MSFT"}
        assert failed.count() == 0

    def test_fast_info_dataframe_symbols(self, spark):
        from borsa_spark.router import fast_info
        from borsa_spark.sources.mock import ScriptedSource, fixture_quotes_df

        src = ScriptedSource("q").script(
            "quote", fixture_quotes_df(spark, "q")
        )
        cat = Catalog().register(src)
        wanted = spark.createDataFrame(
            [("AAPL",), ("MSFT",)], "symbol string"
        )
        out = fast_info(spark, cat, wanted)
        assert {str(r.symbol) for r in out.collect()} == {"AAPL", "MSFT"}

"""Merge operator tests — port of borsa-core/tests/merge_props.rs and
dedup_props.rs properties plus router_history_merge.rs scenarios."""

from __future__ import annotations

from decimal import Decimal

from borsa_spark.operators import dedup_actions, merge_history
from borsa_spark.operators.merge import merge_candles, with_priority

from .conftest import action, candle, make_actions, make_candles, ts

PRIO = {"provA": 0, "provB": 1, "provC": 2}


def test_first_wins_overlap(spark):
    # router_history_merge.rs:28-50 — overlapping ts: higher priority wins.
    df = make_candles(
        spark,
        [
            candle(provider="provA", sec=100, c=10, seq=0),
            candle(provider="provB", sec=100, c=99, seq=0),
            candle(provider="provB", sec=200, c=20, seq=1),
        ],
    )
    merged, _, flags = merge_history(df, priorities=PRIO)
    rows = {r["ts"]: r for r in merged.collect()}
    assert rows[ts(100)]["close"] == Decimal("10")
    assert rows[ts(100)]["provider"] == "provA"
    assert rows[ts(200)]["close"] == Decimal("20")


def test_adjacent_ranges_complete(spark):
    # router_history_merge.rs:9-26 — disjoint ranges union completely.
    df = make_candles(
        spark,
        [
            candle(provider="provA", sec=0, seq=0),
            candle(provider="provA", sec=100, seq=1),
            candle(provider="provB", sec=200, seq=0),
            candle(provider="provB", sec=300, seq=1),
        ],
    )
    merged, _, _ = merge_history(df, priorities=PRIO)
    assert sorted(r["ts"] for r in merged.collect()) == [
        ts(0), ts(100), ts(200), ts(300),
    ]


def test_close_unadj_cleared(spark):
    # merge_props.rs:51-72 — merged output never carries close_unadj.
    df = make_candles(
        spark,
        [candle(provider="provA", sec=0, close_unadj=9.5, seq=0)],
    )
    merged, _, _ = merge_history(df, priorities=PRIO)
    assert merged.collect()[0]["close_unadj"] is None


def test_adjusted_flag_contributing_only(spark):
    # merge_props.rs:74+ — adjusted depends only on *contributing* series.
    # provB (unadjusted) is fully shadowed by provA -> flag stays true.
    df = make_candles(
        spark,
        [
            candle(provider="provA", sec=0, adjusted=True, seq=0),
            candle(provider="provB", sec=0, adjusted=False, seq=0),
        ],
    )
    _, _, flags = merge_history(df, priorities=PRIO)
    assert flags.collect()[0]["adjusted"] is True

    # provB contributes ts=100 -> AND over contributors = false.
    df2 = make_candles(
        spark,
        [
            candle(provider="provA", sec=0, adjusted=True, seq=0),
            candle(provider="provB", sec=100, adjusted=False, seq=0),
        ],
    )
    _, _, flags2 = merge_history(df2, priorities=PRIO)
    assert flags2.collect()[0]["adjusted"] is False


def test_meta_first_contributing_non_null(spark):
    # merge.rs:44-49,81-91 — meta from first contributing provider with
    # non-null meta, by priority.
    df = make_candles(
        spark,
        [
            candle(provider="provA", sec=0, timezone=None, seq=0),
            candle(provider="provB", sec=100, timezone="America/New_York", seq=0),
        ],
    )
    _, _, flags = merge_history(df, priorities=PRIO)
    assert flags.collect()[0]["timezone"] == "America/New_York"


def test_within_provider_duplicate_ts_first_by_seq(spark):
    # merge_candles_by_priority keeps first occurrence (stable ts order).
    df = with_priority(
        make_candles(
            spark,
            [
                candle(provider="provA", sec=0, c=1, seq=0),
                candle(provider="provA", sec=0, c=2, seq=1),
            ],
        ),
        PRIO,
    )
    rows = merge_candles(df).collect()
    assert len(rows) == 1 and rows[0]["close"] == Decimal("1")


def test_sorted_output(spark):
    df = make_candles(
        spark,
        [
            candle(provider="provA", sec=300, seq=0),
            candle(provider="provB", sec=100, seq=0),
            candle(provider="provA", sec=200, seq=1),
        ],
    )
    merged, _, _ = merge_history(df, priorities=PRIO)
    got = [r["ts"] for r in merged.orderBy("ts").collect()]
    assert got == sorted(got)


def test_dedup_actions_identity(spark):
    # dedup_props.rs — duplicates collapse to one; distinct payloads survive.
    df = make_actions(
        spark,
        [
            action(provider="provA", sec=10, kind="dividend", amount=1.5),
            action(provider="provB", sec=10, kind="dividend", amount=1.5),
            action(provider="provB", sec=10, kind="dividend", amount=2.0),
            action(provider="provA", sec=10, kind="split", amount=None,
                   currency=None, numerator=2, denominator=1),
            action(provider="provB", sec=10, kind="split", amount=None,
                   currency=None, numerator=2, denominator=1),
        ],
    )
    out = dedup_actions(df).collect()
    assert len(out) == 3


def test_dedup_actions_idempotent(spark):
    df = make_actions(
        spark,
        [
            action(sec=10, kind="dividend", amount=1.5),
            action(sec=20, kind="capital_gain", amount=3.0),
        ],
    )
    once = dedup_actions(df)
    twice = dedup_actions(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


class TestAsofJoin:
    def _frames(self, spark):
        import datetime as dt

        def ts(s):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

        trades = spark.createDataFrame(
            [("A", ts(10), 1), ("A", ts(20), 2), ("A", ts(5), 3),
             ("B", ts(10), 4)],
            "symbol string, ts timestamp, trade_id long",
        )
        quotes = spark.createDataFrame(
            [("A", ts(8), 100.0), ("A", ts(20), 200.0), ("A", ts(15), 150.0)],
            "symbol string, ts timestamp, px double",
        )
        return trades, quotes

    def test_backward_match_with_equal_ts(self, spark):
        from borsa_spark.operators.asof import asof_join

        trades, quotes = self._frames(spark)
        out = {r.trade_id: r for r in asof_join(trades, quotes).collect()}
        assert out[1].px_right == 100.0      # ts10 -> quote@8
        assert out[2].px_right == 200.0      # ts20 -> quote@20 (equal matches)
        assert out[3].px_right is None       # ts5 -> nothing before it
        assert out[4].px_right is None       # symbol B has no quotes
        assert out[1].ts_right is not None and out[3].ts_right is None

    def test_tolerance_nulls_stale_matches(self, spark):
        from borsa_spark.operators.asof import asof_join

        trades, quotes = self._frames(spark)
        out = {r.trade_id: r
               for r in asof_join(trades, quotes, tolerance=1.0).collect()}
        assert out[1].px_right is None       # quote@8 is 2s stale > 1s
        assert out[2].px_right == 200.0      # exact-ts match, 0s stale
        assert out[2].ts_right is not None

    def test_right_seq_breaks_equal_ts_ties(self, spark):
        import datetime as dt

        from borsa_spark.operators.asof import asof_join

        t0 = dt.datetime(2024, 1, 1)
        trades = spark.createDataFrame(
            [("A", t0, 1)], "symbol string, ts timestamp, trade_id long"
        )
        quotes = spark.createDataFrame(
            [("A", t0, 1.0, 0), ("A", t0, 2.0, 1)],
            "symbol string, ts timestamp, px double, seq long",
        )
        out = asof_join(
            trades, quotes, right_cols=["px"], right_seq="seq"
        ).collect()
        assert out[0].px_right == 2.0  # highest seq at the tied ts wins

    def test_one_shuffle_plan(self, spark):
        import contextlib
        import io
        import re

        from borsa_spark.operators.asof import asof_join

        trades, quotes = self._frames(spark)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            asof_join(trades, quotes).explain("formatted")
        plan = buf.getvalue()
        # no join operator at all, and a single symbol-keyed exchange
        assert "Join" not in plan
        assert len(set(re.findall(r"Exchange \((\d+)\)", plan))) == 1


class TestRangeJoin:
    def test_containment_boundaries_and_multimatch(self, spark):
        import datetime as dt

        from borsa_spark.operators.rangejoin import range_join

        def ts(s):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

        points = spark.createDataFrame(
            [("A", ts(0), 1), ("A", ts(100), 2), ("A", ts(7200), 3),
             ("A", ts(50), 4), ("B", ts(100), 5)],
            "symbol string, ts timestamp, pid long",
        )
        # overlapping intervals: point 4 (t=50) falls in both
        iv = spark.createDataFrame(
            [("A", ts(0), ts(100), 10), ("A", ts(40), ts(60), 11)],
            "symbol string, span_start timestamp, span_end timestamp, iid long",
        )
        out = range_join(points, iv, on="symbol", bucket_seconds=60)
        got = sorted((r.pid, r.iid) for r in out.collect())
        # pid1 at start boundary (inclusive), pid2 at end boundary
        # (inclusive), pid4 in both intervals, pid3 & B unmatched
        assert got == [(1, 10), (2, 10), (4, 10), (4, 11)]

    def test_bucket_size_does_not_change_results(self, spark):
        import datetime as dt

        from borsa_spark.operators.rangejoin import range_join

        def ts(s):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

        points = spark.createDataFrame(
            [("A", ts(i * 37), i) for i in range(50)],
            "symbol string, ts timestamp, pid long",
        )
        iv = spark.createDataFrame(
            [("A", ts(100), ts(900), 1), ("A", ts(850), ts(1500), 2)],
            "symbol string, span_start timestamp, span_end timestamp, iid long",
        )
        a = sorted((r.pid, r.iid) for r in
                   range_join(points, iv, on="symbol", bucket_seconds=60).collect())
        b = sorted((r.pid, r.iid) for r in
                   range_join(points, iv, on="symbol", bucket_seconds=3600).collect())
        assert a == b and len(a) > 0


class TestAsofVsPandas:
    def test_matches_pandas_merge_asof_on_random_data(self, spark):
        """Third independent implementation: pandas.merge_asof (backward,
        exact matches allowed) on seeded random frames."""
        import random

        import pandas as pd

        rng = random.Random(20260813)
        base = pd.Timestamp("2024-01-01")

        def frame(n, cols):
            rows = []
            for i in range(n):
                rows.append({
                    "symbol": rng.choice(["A", "B", "C"]),
                    "ts": base + pd.Timedelta(seconds=rng.randrange(0, 500)),
                    **{c: float(rng.randrange(100)) for c in cols},
                    "seq": i,
                })
            return pd.DataFrame(rows)

        left_pd = frame(60, ["lv"])
        right_pd = (
            frame(40, ["rv"])
            .sort_values(["symbol", "ts", "seq"])
            .drop_duplicates(["symbol", "ts"], keep="last")
            .reset_index(drop=True)
        )

        want = pd.merge_asof(
            left_pd.sort_values("ts", kind="stable"),
            right_pd.sort_values("ts", kind="stable")[["symbol", "ts", "rv"]],
            on="ts", by="symbol", direction="backward",
        )
        want_map = {
            (r.symbol, r.seq): (None if pd.isna(r.rv) else r.rv)
            for r in want.itertuples()
        }

        from borsa_spark.operators.asof import asof_join

        left = spark.createDataFrame(left_pd)
        right = spark.createDataFrame(right_pd[["symbol", "ts", "rv"]])
        got = asof_join(left, right, on="symbol", right_cols=["rv"])
        got_map = {(r.symbol, r.seq): r.rv_right for r in got.collect()}
        assert got_map == want_map

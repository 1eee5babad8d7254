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

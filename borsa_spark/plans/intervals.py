"""Interval vocabulary + effective-interval planning (R6 pushdown).

The reference plans each provider scan at the *largest supported divisor* of
the requested intraday interval (fetch coarse, resample up — minimizes data
volume), with calendar fallbacks daily->intraday and weekly->daily->intraday
(borsa/src/router/history.rs:38-123). This is genuine scan-granularity
pushdown: at 100 TB the difference between scanning 1m bars and 30m bars to
answer a 60m query is 30× I/O.

Interval vocabulary mirrors the reference's closed enum
(borsa-yfinance/src/lib.rs:274-287): 1m 2m 5m 15m 30m 1h 90m 1d 5d 1wk 1mo 3mo.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from borsa_spark.errors import UnsupportedError
from borsa_spark.schemas import INTERVAL_SECONDS, INTRADAY_INTERVALS


def interval_minutes(interval: str) -> int | None:
    """Minutes for intraday intervals, None for calendar ones."""
    if interval not in INTERVAL_SECONDS:
        raise UnsupportedError(f"unknown interval {interval!r}")
    if interval in INTRADAY_INTERVALS:
        return INTERVAL_SECONDS[interval] // 60
    return None


def interval_seconds(interval: str) -> int:
    if interval not in INTERVAL_SECONDS:
        raise UnsupportedError(f"unknown interval {interval!r}")
    return INTERVAL_SECONDS[interval]


_RANGE_DAYS = {
    "1d": 1, "5d": 5, "1mo": 30, "3mo": 91, "6mo": 182,
    "1y": 365, "2y": 730, "5y": 1826,
}


def range_to_bounds(range_key: str, now: _dt.datetime) -> tuple[_dt.datetime | None, _dt.datetime]:
    """Resolve a Range key to (start, end) request bounds at ``now``.

    'ytd' starts at Jan 1 of now's year; 'max' has no lower bound. The
    request-flag cache key treats range and explicit period as distinct
    dimensions (cache.rs:28-64), which this resolution preserves by being
    applied only when no explicit start/end was given.
    """
    if range_key == "max":
        return None, now
    if range_key == "ytd":
        return now.replace(month=1, day=1, hour=0, minute=0, second=0,
                           microsecond=0), now
    if range_key not in _RANGE_DAYS:
        raise UnsupportedError(f"unknown range {range_key!r}")
    return now - _dt.timedelta(days=_RANGE_DAYS[range_key]), now


@dataclass(frozen=True)
class ResamplePlan:
    """Post-scan resample instruction attached by the planner."""

    kind: str  # "minutes" | "daily" | "weekly"
    minutes: int | None = None

    @staticmethod
    def for_minutes(m: int) -> ResamplePlan:
        return ResamplePlan("minutes", m)

    @staticmethod
    def daily() -> ResamplePlan:
        return ResamplePlan("daily")

    @staticmethod
    def weekly() -> ResamplePlan:
        return ResamplePlan("weekly")


def choose_effective_interval(
    supported: list[str], requested: str
) -> tuple[str, ResamplePlan | None]:
    """Pick the provider-native interval to scan + the resample plan to apply.

    Rules (reference history.rs:38-123):
    - exact support -> passthrough, no resample;
    - intraday -> largest supported intraday divisor of the requested minutes,
      resample to requested minutes; no divisor -> Unsupported;
    - 1d -> native, else coarsest supported intraday + Daily resample;
    - 1wk -> native, else 1d + Weekly, else coarsest intraday + Weekly;
    - other calendar intervals (5d/1mo/3mo) -> passthrough (provider may fail,
      handled by the router's normal error flow).
    """
    if requested in supported:
        return requested, None

    req_min = interval_minutes(requested)
    if req_min is not None:
        best: tuple[str, int] | None = None
        for s in supported:
            m = interval_minutes(s)
            if m is not None and m <= req_min and req_min % m == 0:
                if best is None or m > best[1]:
                    best = (s, m)
        if best is not None:
            return best[0], ResamplePlan.for_minutes(req_min)
        raise UnsupportedError("history interval (intraday too fine for provider)")

    def coarsest_intraday() -> str | None:
        cand = [(s, m) for s in supported
                if (m := interval_minutes(s)) is not None]
        return max(cand, key=lambda x: x[1])[0] if cand else None

    if requested == "1d":
        eff = coarsest_intraday()
        if eff is not None:
            return eff, ResamplePlan.daily()
        raise UnsupportedError("history interval (daily requires daily or intraday)")
    if requested == "1wk":
        if "1d" in supported:
            return "1d", ResamplePlan.weekly()
        eff = coarsest_intraday()
        if eff is not None:
            return eff, ResamplePlan.weekly()
        raise UnsupportedError(
            "history interval (weekly requires weekly/daily/intraday)"
        )
    return requested, None

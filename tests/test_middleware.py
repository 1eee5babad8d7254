"""Middleware tests — ports of borsa-middleware/tests/ behaviors
(cache TTL/LRU/negative/keys, quota windows + slice alignment, blacklist)."""

from __future__ import annotations

import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from borsa_spark.errors import (
    NotFoundError,
    ProviderTimeout,
    QuotaExceeded,
    RateLimited,
    TemporarilyBlacklisted,
)
from borsa_spark.middleware import (
    Blacklist,
    MiddlewareStack,
    QuotaGuard,
    TTLCache,
    history_key,
)


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class TestTTLCache:
    def test_hit_within_ttl_miss_after(self):
        clock = Clock()
        c = TTLCache(ttls={"quote": 2.0}, clock=clock)
        calls = []
        fn = lambda: calls.append(1) or "v"  # noqa: E731
        assert c.get_or_compute(("quote", "AAPL"), fn) == "v"
        assert c.get_or_compute(("quote", "AAPL"), fn) == "v"
        assert len(calls) == 1
        clock.t = 2.1
        c.get_or_compute(("quote", "AAPL"), fn)
        assert len(calls) == 2

    def test_lru_eviction(self):
        c = TTLCache(max_size=2, ttls={"quote": 100.0}, clock=Clock())
        c.get_or_compute(("quote", "A"), lambda: 1)
        c.get_or_compute(("quote", "B"), lambda: 2)
        c.get_or_compute(("quote", "A"), lambda: 0)  # touch A
        c.get_or_compute(("quote", "C"), lambda: 3)  # evicts B (LRU)
        calls = []
        c.get_or_compute(("quote", "B"), lambda: calls.append(1) or 9)
        assert calls  # B was recomputed
        calls2 = []
        c.get_or_compute(("quote", "A"), lambda: calls2.append(1) or 9)
        # A itself was evicted when B re-entered (size 2: [C, B])
        assert calls2

    def test_negative_caching_permanent_only(self):
        clock = Clock()
        c = TTLCache(ttls={"quote": 100.0}, default_negative_ttl=5.0, clock=clock)
        calls = []

        def not_found():
            calls.append(1)
            raise NotFoundError("nope")

        with pytest.raises(NotFoundError):
            c.get_or_compute(("quote", "GHOST"), not_found)
        with pytest.raises(NotFoundError):
            c.get_or_compute(("quote", "GHOST"), not_found)
        assert len(calls) == 1  # served from the negative store
        clock.t = 5.1
        with pytest.raises(NotFoundError):
            c.get_or_compute(("quote", "GHOST"), not_found)
        assert len(calls) == 2

        def transient():
            calls.append(1)
            raise ProviderTimeout("slow")

        with pytest.raises(ProviderTimeout):
            c.get_or_compute(("quote", "SLOW"), transient)
        with pytest.raises(ProviderTimeout):
            c.get_or_compute(("quote", "SLOW"), transient)
        assert len(calls) == 4  # transient errors never cached

    def test_history_key_flags_distinct(self):
        k1 = history_key("AAPL", "EQUITY", "1d", auto_adjust=True)
        k2 = history_key("AAPL", "EQUITY", "1d", auto_adjust=False)
        k3 = history_key("AAPL", "EQUITY", "1d", auto_adjust=True,
                         include_actions=True)
        assert len({k1, k2, k3}) == 3


class TestTTLCacheThreads:
    """One TTLCache shared by 4 threads, the way a long-lived router
    serves concurrent requests: the counters stay exact and the per-key
    lock map holds nothing once every caller has left."""

    def test_counts_exact_and_key_locks_drain(self):
        c = TTLCache(max_size=4096, ttls={"quote": 600.0})
        keys = [("quote", f"S{i}") for i in range(2000)]

        def work(seed: int) -> int:
            order = keys * 2
            random.Random(seed).shuffle(order)
            for k in order:
                assert c.get_or_compute(k, lambda k=k: k[1]) == k[1]
            return len(order)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)  # switch threads often: expose races
        try:
            with ThreadPoolExecutor(4) as ex:
                calls = sum(ex.map(work, range(4), timeout=120))
        finally:
            sys.setswitchinterval(old)
        assert calls == 4 * 2 * len(keys)
        assert c.hits + c.misses == calls
        assert c.misses == len(keys)  # stampede-safe: one compute per key
        assert isinstance(c.hits, int) and isinstance(c.misses, int)
        assert len(c._key_locks) == 0

    def test_slow_key_computes_once_for_concurrent_callers(self):
        c = TTLCache(ttls={"quote": 600.0})
        key = ("quote", "SLOW")
        started, release = threading.Event(), threading.Event()
        calls = []

        def slow():
            calls.append(1)
            started.set()
            release.wait(10)
            return 42

        with ThreadPoolExecutor(4) as ex:
            first = ex.submit(c.get_or_compute, key, slow)
            assert started.wait(10)
            rest = [ex.submit(c.get_or_compute, key, slow) for _ in range(3)]
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline:
                with c._lock:
                    if c._key_locks[key][1] == 4:  # all 4 inside
                        break
                time.sleep(0.01)
            release.set()
            assert [f.result(10) for f in (first, *rest)] == [42] * 4
        assert len(calls) == 1
        assert (c.misses, c.hits) == (1, 3)
        assert len(c._key_locks) == 0


class TestQuota:
    def test_window_budget_and_realignment(self):
        clock = Clock()
        q = QuotaGuard(limit=2, window_s=100.0, clock=clock)
        q.should_allow_call()
        q.should_allow_call()
        with pytest.raises(QuotaExceeded) as ei:
            q.should_allow_call()
        assert ei.value.remaining == 0
        assert ei.value.reset_in_s == pytest.approx(100.0)
        # jump 2.5 windows: boundary realigns to whole windows (t=200)
        clock.t = 250.0
        q.should_allow_call()
        assert q.last_reset == pytest.approx(200.0)

    def test_even_spread_slices(self):
        clock = Clock()
        q = QuotaGuard(limit=24, window_s=86_400.0, even_spread_hourly=True,
                       clock=clock)
        q.should_allow_call()  # slice budget = 1/h
        with pytest.raises(QuotaExceeded) as ei:
            q.should_allow_call()
        # slice exhausted but window has room -> temporary block w/ remaining
        assert ei.value.remaining == 23
        assert 0 < ei.value.reset_in_s <= 3600.0
        clock.t = 3600.0  # next slice
        q.should_allow_call()


class TestBlacklist:
    def test_rate_limit_gates_then_expires(self):
        clock = Clock()
        b = Blacklist(default_window_s=60.0, clock=clock)
        assert b.remaining_s() is None
        b.handle_error(RateLimited("429"))
        with pytest.raises(TemporarilyBlacklisted):
            b.check("prov")
        clock.t = 60.1
        b.check("prov")  # expired -> no raise


class TestStackOrdering:
    def test_cache_hit_skips_quota(self):
        clock = Clock()
        stack = MiddlewareStack(
            cache=TTLCache(ttls={"quote": 100.0}, clock=clock),
            quota=QuotaGuard(limit=1, window_s=100.0, clock=clock),
        )
        assert stack.call(("quote", "A"), lambda: "v") == "v"
        # quota is now exhausted, but the cache hit must not consume it
        assert stack.call(("quote", "A"), lambda: "w") == "v"
        with pytest.raises(QuotaExceeded):
            stack.call(("quote", "B"), lambda: "x")

    def test_blacklist_before_quota(self):
        clock = Clock()
        q = QuotaGuard(limit=10, window_s=100.0, clock=clock)
        b = Blacklist(default_window_s=60.0, clock=clock)
        stack = MiddlewareStack(blacklist=b, quota=q, connector="p")

        def ratelimited():
            raise RateLimited("429")

        with pytest.raises(RateLimited):
            stack.call(("quote", "A"), ratelimited)
        with pytest.raises(TemporarilyBlacklisted):
            stack.call(("quote", "A"), lambda: "v")
        # the blacklisted call must NOT have consumed quota
        assert q.calls_in_window == 1


class TestQuotaSerde:
    """quota_serde.rs ports: config and state survive a JSON round-trip."""

    def test_quota_config_roundtrip(self):
        from borsa_spark.middleware import QuotaConfig

        cfg = QuotaConfig(limit=500, window_s=120.0, strategy="weighted")
        de = QuotaConfig.from_json(cfg.to_json())
        assert de.limit == 500
        assert de.window_s == 120.0
        assert de.strategy == "weighted"
        with pytest.raises(ValueError, match="unknown quota strategy"):
            QuotaConfig.from_json('{"limit": 1, "window_s": 1, '
                                  '"strategy": "nope"}')

    def test_quota_state_roundtrip_and_snapshot(self):
        from borsa_spark.middleware import QuotaConfig, QuotaState

        st = QuotaState(limit=1000, remaining=321, reset_in_s=8.5)
        de = QuotaState.from_json(st.to_json())
        assert (de.limit, de.remaining, de.reset_in_s) == (1000, 321, 8.5)

        clock = Clock()
        guard = QuotaConfig(limit=3, window_s=60.0).guard(clock=clock)
        guard.should_allow_call()
        guard.should_allow_call()
        clock.t = 10.0
        snap = QuotaState.of(guard)
        assert (snap.limit, snap.remaining, snap.reset_in_s) == (3, 1, 50.0)

        # the snapshot rolls the window over exactly as the next call
        # would: a spent window that has passed reads as a fresh budget
        guard.should_allow_call()
        clock.t = 61.0
        snap = QuotaState.of(guard)
        assert (snap.remaining, snap.reset_in_s) == (3, 59.0)
        guard.should_allow_call()
        assert QuotaState.of(guard).remaining == 2


class TestWeightedQuota:
    def test_cost_deducts_multiple_units(self):
        from borsa_spark.middleware import QuotaConfig, QuotaExceeded

        g = QuotaConfig(limit=10, window_s=60, strategy="weighted").guard(
            clock=lambda: 0.0
        )
        g.should_allow_call(cost=7)
        g.should_allow_call(cost=3)  # exactly exhausts the window
        import pytest as _pytest

        with _pytest.raises(QuotaExceeded):
            g.should_allow_call(cost=1)
        with _pytest.raises(ValueError):
            g.should_allow_call(cost=0)

    def test_unit_cost_behavior_unchanged(self):
        from borsa_spark.middleware import QuotaConfig, QuotaExceeded

        g = QuotaConfig(limit=2, window_s=60).guard(clock=lambda: 0.0)
        g.should_allow_call()
        g.should_allow_call()
        import pytest as _pytest

        with _pytest.raises(QuotaExceeded):
            g.should_allow_call()

    def test_from_json_defaults_window(self):
        from borsa_spark.middleware import QuotaConfig

        cfg = QuotaConfig.from_json('{"limit": 5, "strategy": "weighted"}')
        assert cfg.window_s == QuotaConfig.window_s
        assert cfg.strategy == "weighted"

    def test_slice_exceeding_cost_fails_loudly_not_starves(self):
        from borsa_spark.middleware import QuotaConfig

        g = QuotaConfig(
            limit=24, window_s=86400, strategy="even_spread_hourly"
        ).guard(clock=lambda: 0.0)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="per-slice allowance"):
            g.should_allow_call(cost=2)  # allowed_per_slice = 1

    def test_window_exceeding_cost_fails_loudly_not_starves(self):
        # symmetric with the slice guard: cost > window limit can never
        # succeed, so QuotaExceeded's reset_in_s would be a false promise
        from borsa_spark.middleware import QuotaConfig

        g = QuotaConfig(limit=5, window_s=60, strategy="weighted").guard(
            clock=lambda: 0.0
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="window limit"):
            g.should_allow_call(cost=6)
        g.should_allow_call(cost=5)  # the full budget itself still admits

"""Middleware stack: TTL+LRU cache with negative caching, quota budgets,
rate-limit blacklisting (R10-R13).

Reference: borsa-middleware/src/{cache,quota,blacklist,builder}.rs. These
wrap *calls to a provider*, not Spark operators — in our engine they sit
between the router and `Source` fetches (driver-side), where they matter for
live connectors; over parquet fixtures they are API-parity wrappers.

Semantics ported:
- Cache (cache.rs): per-capability TTL+LRU stores; typed keys — HistoryKey
  carries instrument, interval, range/period and a flags bitmask
  (include_prepost|include_actions|auto_adjust|keepna, cache.rs:38-64);
  stampede-safe get-or-compute (per-key lock = moka try_get_with,
  :246); *negative caching* stores permanent errors with their own TTL
  (:387, :443-462) so a NotFound isn't re-fetched every call. Default TTLs
  from borsa-types/src/config.rs:221-323 (quote 2s ... isin 7d).
- Quota (quota.rs:100-209): fixed window budget with boundary realignment
  after gaps (advance by whole windows); optional EvenSpreadHourly strategy
  splits the window into 24 hourly slices — an exhausted slice blocks
  temporarily even when the window has room. QuotaExceeded carries
  (remaining, reset_in_ms).
- Blacklist (blacklist.rs:42-88): a RateLimited error gates the provider for
  the provider-reported window (fallback: configured default); while gated,
  calls fail fast with TemporarilyBlacklisted (remaining ms >= 1).
- Ordering (builder.rs:31-38): Cache -> Blacklist -> Quota -> provider,
  fixed by `MiddlewareStack.call`.
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Callable

from borsa_spark.errors import (
    BorsaSparkError,
    QuotaExceeded,
    RateLimited,
    RetryClass,
    TemporarilyBlacklisted,
)

# Default TTLs in seconds (borsa-types/src/config.rs:221-323).
DEFAULT_TTLS: dict[str, float] = {
    "quote": 2.0,
    "option_chain": 30.0,
    "news": 120.0,
    "history": 15 * 60.0,
    "download": 60 * 60.0,
    "search": 6 * 3600.0,
    "profile": 24 * 3600.0,
    "isin": 7 * 86400.0,
    "earnings": 7 * 86400.0,
    "income_statement": 7 * 86400.0,
    "balance_sheet": 7 * 86400.0,
    "cashflow": 7 * 86400.0,
    "calendar": 7 * 86400.0,
    "major_holders": 7 * 86400.0,
    "institutional_holders": 7 * 86400.0,
    "esg": 7 * 86400.0,
}

_FLAG_BITS = ("include_prepost", "include_actions", "auto_adjust", "keepna")


def history_key(symbol: str, kind: str, interval: str,
                start: Any = None, end: Any = None, **flags: bool) -> tuple:
    """Typed history cache key with the reference's flag bitmask
    (cache.rs:38-64)."""
    bits = 0
    for i, name in enumerate(_FLAG_BITS):
        if flags.get(name, False):
            bits |= 1 << i
    return ("history", symbol, kind, interval, str(start), str(end), bits)


class TTLCache:
    """Per-capability TTL+LRU cache with negative caching and per-key
    stampede protection. Safe to share between threads: ``hits`` and
    ``misses`` change only under ``_lock``, and ``_key_locks`` holds a
    key only while some caller is computing or waiting on it."""

    def __init__(
        self,
        max_size: int = 1024,
        ttls: dict[str, float] | None = None,
        negative_ttls: dict[str, float] | None = None,
        default_negative_ttl: float | None = 60.0,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.max_size = max_size
        self.ttls = dict(DEFAULT_TTLS if ttls is None else ttls)
        self.negative_ttls = dict(negative_ttls or {})
        self.default_negative_ttl = default_negative_ttl
        self.clock = clock
        self._store: OrderedDict[tuple, tuple[float, Any, bool]] = OrderedDict()
        self._lock = threading.Lock()
        # key -> [lock, number of callers holding or waiting on it]
        self._key_locks: dict[tuple, list] = {}
        self.hits = 0
        self.misses = 0

    def _ttl_for(self, capability: str, negative: bool) -> float | None:
        if negative:
            if capability in self.negative_ttls:
                return self.negative_ttls[capability]
            return self.default_negative_ttl
        return self.ttls.get(capability)

    def _lookup(self, key: tuple):
        """The live ``(value, is_err)`` for ``key``, or None. A hit is
        counted under the same lock that found it."""
        now = self.clock()
        with self._lock:
            entry = self._store.get(key)
            if entry is None:
                return None
            expires, value, is_err = entry
            if now >= expires:
                del self._store[key]
                return None
            self._store.move_to_end(key)
            self.hits += 1
            return value, is_err

    @contextlib.contextmanager
    def _key_lock(self, key: tuple):
        """Hold ``key``'s lock. The lock is shared by every caller that
        arrives while it exists and dropped when the last one leaves."""
        with self._lock:
            slot = self._key_locks.get(key)
            if slot is None:
                slot = self._key_locks[key] = [threading.Lock(), 0]
            slot[1] += 1
        try:
            with slot[0]:
                yield
        finally:
            with self._lock:
                slot[1] -= 1
                if slot[1] == 0:
                    del self._key_locks[key]

    def _insert(self, key: tuple, value: Any, is_err: bool, ttl: float):
        with self._lock:
            self._store[key] = (self.clock() + ttl, value, is_err)
            self._store.move_to_end(key)
            while len(self._store) > self.max_size:
                self._store.popitem(last=False)

    def get_or_compute(self, key: tuple, fn: Callable[[], Any]) -> Any:
        """Stampede-safe: concurrent callers of the same key compute once.

        Permanent errors are negatively cached (re-raised on hit); transient
        errors are never cached (cache.rs negative stores hold only
        permanent errors).
        """
        hit = self._lookup(key)
        if hit is None:
            with self._key_lock(key):
                hit = self._lookup(key)  # double-check under the key lock
                if hit is None:
                    with self._lock:
                        self.misses += 1
                    return self._compute(key, fn)
        value, is_err = hit
        if is_err:
            raise value
        return value

    def _compute(self, key: tuple, fn: Callable[[], Any]) -> Any:
        capability = key[0]
        try:
            value = fn()
        except BorsaSparkError as e:
            if e.retry_class is RetryClass.PERMANENT:
                ttl = self._ttl_for(capability, negative=True)
                if ttl:
                    self._insert(key, e, True, ttl)
            raise
        ttl = self._ttl_for(capability, negative=False)
        if ttl:
            self._insert(key, value, False, ttl)
        return value

    def invalidate(self, key: tuple | None = None):
        with self._lock:
            if key is None:
                self._store.clear()
            else:
                self._store.pop(key, None)


class QuotaGuard:
    """Fixed-window call budget with aligned boundaries and optional
    EvenSpreadHourly slicing (quota.rs:100-209)."""

    def __init__(
        self,
        limit: int,
        window_s: float = 86_400.0,
        even_spread_hourly: bool = False,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.limit = limit
        self.window_s = window_s
        self.even_spread = even_spread_hourly
        self.clock = clock
        self._lock = threading.Lock()
        self.last_reset = clock()
        self.calls_in_window = 0
        self.slice_s = window_s / 24.0
        self.slice_start = self.last_reset
        self.calls_in_slice = 0
        # ceil split so 24 slices always cover the full budget
        self.allowed_per_slice = max(1, -(-limit // 24)) if even_spread_hourly else limit

    def should_allow_call(self, cost: int = 1) -> None:
        """Admit-or-raise. ``cost`` is the units this call consumes —
        the Weighted strategy's caller-specified deduction (the reference
        DECLARES Weighted in borsa-types config.rs:56 but its middleware
        runtime consumes one unit per call regardless, quota.rs:94-160;
        here the declared semantics are actually honored when a caller
        passes a cost, and cost=1 reproduces the reference's behavior
        exactly)."""
        if cost < 1:
            raise ValueError(f"quota cost must be >= 1, got {cost}")
        if cost > self.limit:
            # symmetric with the per-slice guard below: a cost above the
            # whole-window limit would raise QuotaExceeded with a
            # reset_in_s that promises a retry will succeed, but no retry
            # ever can — permanent starvation; fail loudly instead
            raise ValueError(
                f"quota cost {cost} exceeds the window limit {self.limit};"
                f" no retry can ever succeed — lower the cost or raise the"
                f" limit."
            )
        if self.even_spread and cost > self.allowed_per_slice:
            # a cost that can NEVER fit a slice would raise slice-
            # exhausted forever while reset_in_s promises a retry will
            # succeed — permanent starvation; fail loudly instead
            raise ValueError(
                f"quota cost {cost} exceeds the per-slice allowance"
                f" {self.allowed_per_slice} (even_spread_hourly splits the"
                f" window budget 24 ways); lower the cost or drop the"
                f" even-spread strategy."
            )
        with self._lock:
            now = self.clock()
            self._roll_over(now)
            if (
                self.even_spread
                and self.calls_in_slice + cost > self.allowed_per_slice
                and self.calls_in_window + cost <= self.limit
            ):
                reset_in = self.slice_s - (now - self.slice_start)
                raise QuotaExceeded(
                    "slice budget exhausted",
                    remaining=self.limit - self.calls_in_window,
                    reset_in_s=reset_in,
                )
            if self.calls_in_window + cost <= self.limit:
                self.calls_in_window += cost
                if self.even_spread:
                    self.calls_in_slice += cost
                return
            reset_in = self.window_s - (now - self.last_reset)
            raise QuotaExceeded(
                "window budget exhausted",
                remaining=max(0, self.limit - self.calls_in_window),
                reset_in_s=reset_in,
            )

    def _roll_over(self, now: float) -> None:
        """Start a fresh window (and slice) once the current one has
        passed. Caller holds ``_lock``."""
        elapsed = now - self.last_reset
        if elapsed >= self.window_s:
            self.calls_in_window = 0
            # realign to window boundary (whole windows passed)
            self.last_reset += int(elapsed / self.window_s) * self.window_s
        if self.even_spread:
            s_elapsed = now - self.slice_start
            if s_elapsed >= self.slice_s:
                self.calls_in_slice = 0
                self.slice_start += int(s_elapsed / self.slice_s) * self.slice_s


class Blacklist:
    """Fail-fast gate set by upstream rate-limit errors
    (blacklist.rs:42-88)."""

    def __init__(self, default_window_s: float = 60.0,
                 clock: Callable[[], float] = time.monotonic):
        self.default_window_s = default_window_s
        self.clock = clock
        self._until: float | None = None
        self._lock = threading.Lock()

    def remaining_s(self) -> float | None:
        with self._lock:
            if self._until is None:
                return None
            now = self.clock()
            if now < self._until:
                return max(self._until - now, 1e-3)
            self._until = None
            return None

    def check(self, connector: str | None = None) -> None:
        rem = self.remaining_s()
        if rem is not None:
            raise TemporarilyBlacklisted(
                f"blacklisted for {rem:.3f}s", connector=connector
            )

    def handle_error(self, err: BorsaSparkError) -> BorsaSparkError:
        if isinstance(err, RateLimited):
            window = getattr(err, "window_s", None)
            if window is None:
                window = self.default_window_s
            with self._lock:
                self._until = self.clock() + window
        return err


@dataclass
class MiddlewareStack:
    """Composed call path: Cache -> Blacklist -> Quota -> inner fn.

    The order is enforced (builder.rs:31-38): a cache hit must not consume
    quota, and a blacklisted provider must fail fast before quota spend.
    """

    cache: TTLCache | None = None
    blacklist: Blacklist | None = None
    quota: QuotaGuard | None = None
    connector: str | None = None

    def call(self, key: tuple, fn: Callable[[], Any]) -> Any:
        def guarded():
            if self.blacklist is not None:
                self.blacklist.check(self.connector)
            if self.quota is not None:
                self.quota.should_allow_call()
            try:
                return fn()
            except BorsaSparkError as e:
                if self.blacklist is not None:
                    self.blacklist.handle_error(e)
                raise

        if self.cache is not None:
            return self.cache.get_or_compute(key, guarded)
        return guarded()


# ---------------------------------------------------------------------------
# Quota config/state serde (borsa-types quota_serde.rs parity)
# ---------------------------------------------------------------------------


@dataclass
class QuotaConfig:
    """Serializable quota configuration (borsa-types QuotaConfig):
    limit per window, window seconds, consumption strategy
    ('unit' | 'weighted' | 'even_spread_hourly')."""

    limit: int
    window_s: float = 86_400.0
    strategy: str = "unit"

    def to_json(self) -> str:
        import json

        return json.dumps({"limit": self.limit, "window_s": self.window_s,
                           "strategy": self.strategy})

    @classmethod
    def from_json(cls, s: str) -> "QuotaConfig":
        import json

        d = json.loads(s)
        if d.get("strategy", "unit") not in (
            "unit", "weighted", "even_spread_hourly"
        ):
            raise ValueError(f"unknown quota strategy {d['strategy']!r}")
        return cls(
            limit=int(d["limit"]),
            # absent window_s falls back to the dataclass default (86 400 s)
            window_s=float(d.get("window_s", cls.window_s)),
            strategy=d.get("strategy", "unit"),
        )

    def guard(self, clock: Callable[[], float] = time.monotonic) -> QuotaGuard:
        return QuotaGuard(
            limit=self.limit,
            window_s=self.window_s,
            even_spread_hourly=self.strategy == "even_spread_hourly",
            clock=clock,
        )


@dataclass
class QuotaState:
    """Serializable point-in-time quota snapshot (borsa-types QuotaState)."""

    limit: int
    remaining: int
    reset_in_s: float

    @classmethod
    def of(cls, guard: QuotaGuard) -> "QuotaState":
        with guard._lock:
            now = guard.clock()
            guard._roll_over(now)
            return cls(
                limit=guard.limit,
                remaining=max(0, guard.limit - guard.calls_in_window),
                reset_in_s=max(0.0, guard.window_s - (now - guard.last_reset)),
            )

    def to_json(self) -> str:
        import json

        return json.dumps({"limit": self.limit, "remaining": self.remaining,
                           "reset_in_s": self.reset_in_s})

    @classmethod
    def from_json(cls, s: str) -> "QuotaState":
        import json

        d = json.loads(s)
        return cls(limit=int(d["limit"]), remaining=int(d["remaining"]),
                   reset_in_s=float(d["reset_in_s"]))

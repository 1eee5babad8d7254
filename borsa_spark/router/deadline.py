"""R7: per-provider wall-clock timeouts + whole-request deadlines.

Reference: borsa/src/core.rs:346-361 (`provider_call_with_timeout` wraps
every connector future in `tokio::time::timeout` and maps elapse to
`ProviderTimeout`), borsa/src/router/util.rs:12-21 (`join_with_deadline`
applies an optional request-level budget over the fan-out),
borsa-types/src/config.rs:139-162 (`provider_timeout` default 5 s,
`request_timeout` default None).

Spark mapping: the *provider invocation* — building / materializing the
frame, i.e. the analog of the reference's async fetch (a REST call, a JDBC
handshake, a catalog lookup) — is a driver-side call, so we bound it with a
single-use worker thread and a wall-clock budget. The returned DataFrame's
distributed execution is governed by Spark's own scheduler
(``spark.task.maxFailures``, speculation, stage retries), which is the
cluster-scale counterpart of per-task timeouts; this wrapper bounds the
one part Spark cannot see: the connector call that produces the plan.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from concurrent.futures import TimeoutError as FuturesTimeout
from typing import Callable, TypeVar

from borsa_spark.errors import (
    BorsaSparkError,
    ProviderTimeout,
    RequestTimeout,
    UnsupportedError,
    collapse_errors,
)

T = TypeVar("T")


def provider_call_with_timeout(
    connector_name: str,
    capability: str,
    timeout: float | None,
    fn: Callable[[], T],
) -> T:
    """Run ``fn`` with a wall-clock budget; elapse -> ``ProviderTimeout``.

    ``timeout=None`` runs inline (no thread) — the zero-cost path for
    fixture catalogs. The worker thread is single-use and abandoned on
    timeout (Python cannot cancel a blocked call, same as the reference
    where the timed-out future is dropped but its socket I/O unwinds
    asynchronously); `ScriptedSource.Hang` keeps its stall finite so
    abandoned workers drain in tests.
    """
    if timeout is None:
        return fn()
    ex = ThreadPoolExecutor(
        max_workers=1, thread_name_prefix=f"borsa-{connector_name}"
    )
    try:
        fut = ex.submit(fn)
        try:
            return fut.result(timeout=timeout)
        except FuturesTimeout:
            fut.cancel()
            raise ProviderTimeout(
                f"{capability} via {connector_name}", connector=connector_name
            ) from None
    finally:
        ex.shutdown(wait=False, cancel_futures=True)


def race_providers(
    calls: list[tuple[str, Callable[[], T]]],
    capability: str,
    provider_timeout: float | None = None,
) -> tuple[str, T]:
    """R4 latency race (core.rs:560-616): run every eligible provider call
    concurrently, each under its own provider timeout; the first SUCCESS in
    *completion order* wins — a slow-but-higher-priority provider loses to
    a fast lower-priority one, exactly the FuturesUnordered semantics.

    Losers are abandoned: the reference drops its futures (tokio cancels at
    the next await point); Python threads cannot be killed, so losers run
    out their own timeout in the background while the winner returns
    immediately — same observable result, bounded by ``provider_timeout``.

    Per-provider errors accumulate and, if no one wins, collapse under the
    same rules as the sequential chain (util.rs:30-60): all timeouts ->
    AllProvidersTimedOut, else AllProvidersFailed.

    Returns ``(winner_name, value)``.
    """
    if not calls:
        raise UnsupportedError(capability)
    ex = ThreadPoolExecutor(
        max_workers=len(calls), thread_name_prefix="borsa-race"
    )
    errors: list[BorsaSparkError] = []
    try:
        futs = {
            ex.submit(
                provider_call_with_timeout, name, capability,
                provider_timeout, fn,
            ): name
            for name, fn in calls
        }
        for fut in as_completed(futs):
            name = futs[fut]
            try:
                return name, fut.result()
            except BorsaSparkError as e:
                e.connector = e.connector or name
                errors.append(e)
    finally:
        ex.shutdown(wait=False, cancel_futures=True)
    raise collapse_errors(len(calls), errors, capability)


class Deadline:
    """Whole-request budget (config.rs:142): hands each provider call the
    min of its own timeout and the remaining request budget, and raises
    ``RequestTimeout`` once exhausted (util.rs:12-21 semantics over a
    sequential fan-out)."""

    def __init__(self, seconds: float | None, capability: str = "request"):
        self.capability = capability
        self._budget = seconds
        self._t0 = time.monotonic()

    def remaining(self) -> float | None:
        if self._budget is None:
            return None
        return self._budget - (time.monotonic() - self._t0)

    def clamp(self, provider_timeout: float | None) -> float | None:
        """Per-call budget: min(provider_timeout, remaining), raising if the
        request budget is already spent."""
        rem = self.remaining()
        if rem is None:
            return provider_timeout
        if rem <= 0:
            raise RequestTimeout(self.capability)
        if provider_timeout is None:
            return rem
        return min(provider_timeout, rem)

"""Streaming supervisor state machine (T4-T7) — the control plane.

A pure (state, event) -> (state, actions) function, semantics ported from
the reference (borsa/src/router/streaming/supervisor_sm.rs:96-463). In our
engine it drives Spark `StreamingQuery` lifecycles from the driver: actions
request query starts/stops, schedule backoff ticks, and preempt
lower-priority sessions — Spark executes the data plane, this machine only
decides *which per-provider streaming queries should be running*.

Provider states: idle / idle_from_cooldown / connecting / active /
in_cooldown. Events: start succeeded/failed, session ended, backoff tick,
downstream closed, shutdown. Coverage planning: a provider only subscribes
symbols that are required, allowed for it, and not already covered by an
earlier-in-chain (higher priority) provider (supervisor_sm.rs:304-328);
on activation, lower-priority sessions with overlapping symbols are
preempted (:250-271, :346-352).

Backoff (T5): multiply by `factor` up to `max_ms`, reset to `min_ms` on a
success that follows a cooldown (:337-339, :457-462); jitter adds
rand(0..base*jitter%/100) ms (backoff.rs:4-12; defaults 500ms..30s x2 +20%,
borsa-types/src/config.rs:108-117).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, replace
from enum import Enum
from typing import Any

from borsa_spark.errors import (
    AllProvidersFailed,
    BorsaSparkError,
    UnsupportedError,
)


class PState(Enum):
    IDLE = "idle"
    IDLE_FROM_COOLDOWN = "idle_from_cooldown"
    CONNECTING = "connecting"
    ACTIVE = "active"
    IN_COOLDOWN = "in_cooldown"


class Phase(Enum):
    STARTUP = "startup"
    RUNNING = "running"
    SHUTTING_DOWN = "shutting_down"
    TERMINATED = "terminated"


@dataclass(frozen=True)
class Provider:
    state: PState = PState.IDLE
    symbols: tuple[str, ...] = ()  # planned/active subscription set
    #: True when this Connecting attempt was issued from IdleFromCooldown.
    #: Documented divergence from the reference: supervisor_sm.rs:11-14 says
    #: "next success may reset backoff", but its compute_needed_starts
    #: overwrites IdleFromCooldown with Connecting before the success event
    #: can observe it, so the reset only fires on an event race. We carry the
    #: provenance through Connecting so the documented intent always holds.
    from_cooldown: bool = False


# -- events -----------------------------------------------------------------


@dataclass(frozen=True)
class StartSucceeded:
    id: int
    symbols: tuple[str, ...]


@dataclass(frozen=True)
class StartFailed:
    id: int
    error: BorsaSparkError


@dataclass(frozen=True)
class SessionEnded:
    id: int


@dataclass(frozen=True)
class BackoffTick:
    pass


@dataclass(frozen=True)
class Shutdown:
    pass


@dataclass(frozen=True)
class DownstreamClosed:
    pass


# -- actions ----------------------------------------------------------------


@dataclass(frozen=True)
class RequestStart:
    id: int
    symbols: tuple[str, ...]


@dataclass(frozen=True)
class StopAll:
    pass


@dataclass(frozen=True)
class NotifyInitial:
    ok: bool
    error: BorsaSparkError | None = None


@dataclass(frozen=True)
class ScheduleBackoffTick:
    delay_ms: int


@dataclass(frozen=True)
class PreemptSessions:
    provider_ids: tuple[int, ...]


def jitter_wait(base_ms: int, jitter_percent: int, rng: random.Random | None = None) -> int:
    """base + rand(0..max(1, base*jitter%/100)) (backoff.rs:4-12)."""
    rng = rng or random
    jitter_range = 1 if jitter_percent == 0 else max(1, base_ms * jitter_percent // 100)
    return base_ms + rng.randrange(0, jitter_range)


def collapse_stream_errors(capability: str, errors: list[BorsaSparkError]) -> BorsaSparkError:
    """Flatten nested aggregates, keep only ACTIONABLE errors, then
    0 -> Unsupported, 1 -> itself, n -> AllProvidersFailed
    (streaming/error.rs:3-16 + error.rs:155-178)."""
    from borsa_spark.errors import flatten, is_actionable

    actionable = [
        e for err in errors for e in flatten(err) if is_actionable(e)
    ]
    if not actionable:
        return UnsupportedError(capability)
    if len(actionable) == 1:
        return actionable[0]
    return AllProvidersFailed(actionable)


@dataclass(frozen=True)
class Supervisor:
    """Immutable supervisor state. `handle(event)` returns (state', actions)."""

    providers: tuple[Provider, ...]
    provider_instruments: tuple[tuple[str, ...], ...]  # symbols per provider
    provider_allow: tuple[frozenset[str], ...]
    required_symbols: frozenset[str]
    capability: str = "stream_quotes"

    start_index: int = 0
    scan_cursor: int = 0
    round_exhausted: bool = False
    backoff_ms: int = 500
    min_backoff_ms: int = 500
    max_backoff_ms: int = 30_000
    factor: int = 2

    attempted_since_last_tick: bool = False
    phase: Phase = Phase.STARTUP
    startup_notified: bool = False
    accumulated_errors: tuple[BorsaSparkError, ...] = ()

    # -- public API ---------------------------------------------------------

    def handle(self, event: Any) -> tuple[Supervisor, list[Any]]:
        nxt, actions = self._transition(event)
        if nxt._should_attempt_starts():
            nxt, reqs = nxt._compute_needed_starts()
            if reqs:
                nxt = replace(nxt, attempted_since_last_tick=True)
                actions.extend(reqs)
        return nxt, actions

    # -- transitions --------------------------------------------------------

    def _transition(self, event: Any) -> tuple[Supervisor, list[Any]]:
        if self.phase in (Phase.TERMINATED, Phase.SHUTTING_DOWN):
            return self, []
        if isinstance(event, (Shutdown, DownstreamClosed)):
            return replace(self, phase=Phase.SHUTTING_DOWN), [StopAll()]
        if isinstance(event, StartSucceeded):
            nxt, actions = self._activate(event.id, event.symbols)
            if nxt.phase is Phase.STARTUP and not nxt.startup_notified:
                actions.insert(0, NotifyInitial(ok=True))
                nxt = replace(nxt, phase=Phase.RUNNING, startup_notified=True)
            return nxt, actions
        if isinstance(event, StartFailed):
            if self.phase is Phase.STARTUP:
                return self._startup_failure(event.id, event.error)
            return self._cursor_failure(event.id), []
        if isinstance(event, SessionEnded):
            providers = list(self.providers)
            providers[event.id] = replace(
                providers[event.id], state=PState.IN_COOLDOWN
            )
            return replace(self, providers=tuple(providers)), []
        if isinstance(event, BackoffTick):
            return self._backoff_tick()
        raise TypeError(f"unknown event {event!r}")

    # -- coverage planning (supervisor_sm.rs:158-194, 304-328) --------------

    def _coverage_count(self, sym: str) -> int:
        return sum(
            1
            for p in self.providers
            if p.state in (PState.ACTIVE, PState.CONNECTING) and sym in p.symbols
        )

    def _has_symbol_before(self, provider_idx: int, sym: str) -> bool:
        return any(
            j < provider_idx
            and p.state in (PState.ACTIVE, PState.CONNECTING)
            and sym in p.symbols
            for j, p in enumerate(self.providers)
        )

    def _should_include(self, pid: int, sym: str) -> bool:
        if sym not in self.provider_allow[pid] or sym not in self.required_symbols:
            return False
        if self._coverage_count(sym) == 0:
            return True
        return not self._has_symbol_before(pid, sym)

    def compute_needed_symbols_for(self, pid: int) -> tuple[str, ...]:
        return tuple(
            s for s in self.provider_instruments[pid] if self._should_include(pid, s)
        )

    # -- start scheduling (supervisor_sm.rs:200-241) ------------------------

    @staticmethod
    def _is_idle(p: Provider) -> bool:
        return p.state in (PState.IDLE, PState.IDLE_FROM_COOLDOWN)

    def _has_idle_with_work(self) -> bool:
        return any(
            self._is_idle(p) and self.compute_needed_symbols_for(i)
            for i, p in enumerate(self.providers)
        )

    def _should_attempt_starts(self) -> bool:
        return not self.round_exhausted and self._has_idle_with_work()

    def _compute_needed_starts(self) -> tuple[Supervisor, list[Any]]:
        n = len(self.providers)
        if n == 0 or self.round_exhausted:
            return self, []
        providers = list(self.providers)
        actions: list[Any] = []
        i = self.scan_cursor % n
        start = self.start_index % n
        first = True
        cur = replace(self, providers=tuple(providers))
        while True:
            p = providers[i]
            if self._is_idle(p):
                syms = cur.compute_needed_symbols_for(i)
                if syms:
                    providers[i] = Provider(
                        state=PState.CONNECTING,
                        symbols=syms,
                        from_cooldown=p.state is PState.IDLE_FROM_COOLDOWN,
                    )
                    cur = replace(cur, providers=tuple(providers))
                    actions.append(RequestStart(id=i, symbols=syms))
            if not first and i == start:
                break
            first = False
            i = (i + 1) % n
        return cur, actions

    # -- activation / failure / ticks ---------------------------------------

    def _activate(self, pid: int, symbols: tuple[str, ...]) -> tuple[Supervisor, list[Any]]:
        prev = self.providers[pid]
        from_cooldown = (
            prev.state is PState.IDLE_FROM_COOLDOWN
            or (prev.state is PState.CONNECTING and prev.from_cooldown)
        )
        providers = list(self.providers)
        providers[pid] = Provider(state=PState.ACTIVE, symbols=symbols)
        nxt = replace(
            self,
            providers=tuple(providers),
            backoff_ms=self.min_backoff_ms if from_cooldown else self.backoff_ms,
            start_index=(pid + 1) % len(providers),
            scan_cursor=(pid + 1) % len(providers),
            round_exhausted=False,
        )
        actions: list[Any] = []
        lower = nxt.compute_lower_priority_overlaps(pid, symbols)
        if lower:
            actions.append(PreemptSessions(provider_ids=tuple(lower)))
        actions.append(ScheduleBackoffTick(delay_ms=nxt.backoff_ms))
        return nxt, actions

    def compute_lower_priority_overlaps(
        self, higher_id: int, symbols: tuple[str, ...]
    ) -> list[int]:
        out = []
        for j in range(higher_id + 1, len(self.providers)):
            p = self.providers[j]
            if p.state is PState.ACTIVE and any(s in symbols for s in p.symbols):
                out.append(j)
        return out

    def _cursor_failure(self, pid: int) -> Supervisor:
        providers = list(self.providers)
        providers[pid] = replace(providers[pid], state=PState.IN_COOLDOWN)
        next_cursor = (pid + 1) % len(providers)
        return replace(
            self,
            providers=tuple(providers),
            scan_cursor=next_cursor,
            round_exhausted=next_cursor == self.start_index,
        )

    def _has_any_active(self) -> bool:
        return any(p.state is PState.ACTIVE for p in self.providers)

    def _startup_failure(
        self, pid: int, error: BorsaSparkError
    ) -> tuple[Supervisor, list[Any]]:
        nxt = self._cursor_failure(pid)
        nxt = replace(
            nxt, accumulated_errors=nxt.accumulated_errors + (error,)
        )
        if not nxt._has_any_active() and nxt.round_exhausted and not nxt.startup_notified:
            err = collapse_stream_errors(
                nxt.capability, list(nxt.accumulated_errors)
            )
            return (
                replace(nxt, phase=Phase.TERMINATED, startup_notified=True),
                [NotifyInitial(ok=False, error=err)],
            )
        return nxt, []

    def _backoff_tick(self) -> tuple[Supervisor, list[Any]]:
        providers = tuple(
            replace(p, state=PState.IDLE_FROM_COOLDOWN)
            if p.state is PState.IN_COOLDOWN
            else p
            for p in self.providers
        )
        nxt = replace(self, providers=providers)

        if nxt.attempted_since_last_tick:
            if nxt._has_any_active():
                nxt = nxt._increase_backoff()
            else:
                if (
                    nxt.round_exhausted
                    and nxt.phase is Phase.STARTUP
                    and not nxt.startup_notified
                ):
                    err = collapse_stream_errors(
                        nxt.capability, list(nxt.accumulated_errors)
                    )
                    return (
                        replace(nxt, phase=Phase.TERMINATED, startup_notified=True),
                        [NotifyInitial(ok=False, error=err)],
                    )
                nxt = nxt._increase_backoff()
                nxt = replace(nxt, start_index=0)

        nxt = replace(
            nxt,
            attempted_since_last_tick=False,
            scan_cursor=nxt.start_index,
            round_exhausted=False,
        )
        return nxt, [ScheduleBackoffTick(delay_ms=nxt.backoff_ms)]

    def _increase_backoff(self) -> Supervisor:
        return replace(
            self, backoff_ms=min(self.backoff_ms * self.factor, self.max_backoff_ms)
        )


def make_supervisor(
    provider_symbols: list[list[str]],
    provider_allow: list[set[str]] | None = None,
    required: set[str] | None = None,
    capability: str = "stream_quotes",
    min_backoff_ms: int = 500,
    max_backoff_ms: int = 30_000,
    factor: int = 2,
) -> Supervisor:
    n = len(provider_symbols)
    all_syms = {s for syms in provider_symbols for s in syms}
    return Supervisor(
        providers=tuple(Provider() for _ in range(n)),
        provider_instruments=tuple(tuple(s) for s in provider_symbols),
        provider_allow=tuple(
            frozenset(a)
            for a in (provider_allow or [set(s) for s in provider_symbols])
        ),
        required_symbols=frozenset(required if required is not None else all_syms),
        capability=capability,
        backoff_ms=min_backoff_ms,
        min_backoff_ms=min_backoff_ms,
        max_backoff_ms=max_backoff_ms,
        factor=factor,
    )

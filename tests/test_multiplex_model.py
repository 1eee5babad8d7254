"""Delivered-updates invariant model for the streaming multiplex — the port
of borsa/tests/router/stream/router_stream_model_multiplex_prop.rs (326 LoC):
random provider send/fail/burst/partition sequences against a thin Python
reference model of assignments + per-(provider, symbol) monotonic state.

System under test (nothing mocked in the decision path):
- the REAL Supervisor state machine (`handle`) decides assignments,
  failover, preemption, and cooldown;
- the REAL gate kernel (`MonotonicGate.keep`, the static method the Spark
  function calls) decides per-update delivery, driven through Py4J one
  micro-batch at a time; the test keeps each key's high-water mark the way
  the Spark function keeps it in its GroupState (the ts of the last kept
  row);
- a controller replica translates PreemptSessions -> SessionEnded exactly
  like streaming/controller.py:105-113.

Reference model (the invariant): an update from provider p for symbol s at
ts is delivered iff p's session is live, s is in the session's symbol set
(tracked from the OBSERVED RequestStart/StartSucceeded protocol, the analog
of get_stream_requests), and ts >= the last delivered ts for (p, s) within
the current session — equal allowed, state reset when the session ends
(filters.rs:12-74 via the multiplex model's last_ts_by_provider).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from borsa_spark import jvm
from borsa_spark.errors import ProviderTimeout
from borsa_spark.streaming import (
    BackoffTick,
    PreemptSessions,
    PState,
    RequestStart,
    SessionEnded,
    StartFailed,
    StartSucceeded,
    make_supervisor,
)

N_PROVIDERS = 3
SYMBOLS = ["AAPL", "MSFT", "BTC-USD"]


#: The HWM of a key with no state (the Spark function's starting value).
NO_STATE = -(2**63)


@pytest.fixture(scope="module")
def keep(spark):
    """``keep(ts, seq, hwm)`` -> kept row indices, from the Java kernel."""
    gate = jvm.monotonic_gate(spark)
    gw = spark.sparkContext._gateway

    def longs(xs: list[int]):
        arr = gw.new_array(gw.jvm.long, len(xs))
        for i, x in enumerate(xs):
            arr[i] = x
        return arr

    def run(ts: list[int], seq: list[int], hwm: int) -> list[int]:
        return list(gate.keep(longs(ts), longs(seq), hwm))

    return run


action_st = st.one_of(
    st.tuples(st.just("send"), st.integers(0, N_PROVIDERS - 1),
              st.integers(0, len(SYMBOLS) - 1), st.integers(0, 10_000)),
    st.tuples(st.just("burst"), st.integers(0, N_PROVIDERS - 1),
              st.integers(0, len(SYMBOLS) - 1), st.integers(0, 10_000),
              st.integers(1, 5)),
    st.tuples(st.just("fail_session"), st.integers(0, N_PROVIDERS - 1)),
    st.tuples(st.just("start_fail"), st.integers(0, N_PROVIDERS - 1)),
    st.tuples(st.just("start_ok"), st.integers(0, N_PROVIDERS - 1)),
    st.tuples(st.just("partition"),
              st.lists(st.integers(0, N_PROVIDERS - 1), min_size=1,
                       max_size=3, unique=True)),
    st.just(("tick",)),
)


@settings(max_examples=100, deadline=None)
@given(
    pre_steps=st.lists(action_st, min_size=0, max_size=20),
    post_steps=st.lists(action_st, min_size=0, max_size=10),
)
def test_downstream_drop_always_terminates(pre_steps, post_steps):
    """downstream_drop_prop.rs: the consumer going away at ANY point puts
    the supervisor into shutdown (StopAll emitted exactly once) and no
    event delivered afterwards ever requests a new session start."""
    from borsa_spark.streaming import DownstreamClosed, StopAll

    sm = make_supervisor(
        [list(SYMBOLS) for _ in range(N_PROVIDERS)],
        min_backoff_ms=1, max_backoff_ms=1, factor=1,
    )
    sm, _ = sm.handle(BackoffTick())

    def feed(sm, step):
        kind = step[0]
        if kind == "tick":
            return sm.handle(BackoffTick())
        if kind == "start_ok":
            pid = step[1]
            if sm.providers[pid].state is PState.CONNECTING:
                return sm.handle(
                    StartSucceeded(id=pid, symbols=sm.providers[pid].symbols)
                )
        elif kind == "start_fail":
            pid = step[1]
            if sm.providers[pid].state is PState.CONNECTING:
                return sm.handle(StartFailed(id=pid, error=ProviderTimeout("x")))
        elif kind in ("fail_session", "partition"):
            pids = [step[1]] if kind == "fail_session" else step[1]
            actions = []
            for pid in pids:
                if sm.providers[pid].state is PState.ACTIVE:
                    sm, a = sm.handle(SessionEnded(id=pid))
                    actions.extend(a)
            return sm, actions
        return sm, []

    for step in pre_steps:
        sm, _ = feed(sm, step)

    was_terminal = sm.phase.value in ("terminated", "shutting_down")
    sm, actions = sm.handle(DownstreamClosed())
    if was_terminal:
        # startup already collapsed (all providers failed) or a prior
        # shutdown: the drop is a no-op on a dead supervisor.
        assert not any(isinstance(a, StopAll) for a in actions)
    else:
        assert sum(isinstance(a, StopAll) for a in actions) == 1
        assert sm.phase.value == "shutting_down"

    for step in post_steps:
        sm, actions = feed(sm, step)
        assert not any(isinstance(a, RequestStart) for a in actions), (
            f"start requested after downstream drop: {step}"
        )


@settings(max_examples=250, deadline=None)
@given(steps=st.lists(action_st, min_size=1, max_size=60))
def test_delivered_updates_match_reference_model(keep, steps):
    sm = make_supervisor(
        [list(SYMBOLS) for _ in range(N_PROVIDERS)],
        min_backoff_ms=1, max_backoff_ms=1, factor=1,
    )

    # --- reference model state (dicts only) ---
    pending: dict[int, tuple[str, ...]] = {}
    live: dict[int, tuple[str, ...] | None] = {p: None for p in range(N_PROVIDERS)}
    last_ts: dict[tuple[int, str], int] = {}
    # --- system-side session gate state: (provider, symbol) -> HWM ---
    gate_state: dict[tuple[int, str], int] = {}
    seq = 0

    def end_session(pid: int) -> None:
        live[pid] = None
        for key in [k for k in last_ts if k[0] == pid]:
            del last_ts[key]
        for key in [k for k in gate_state if k[0] == pid]:
            del gate_state[key]  # filters.rs:65-73 — fresh state per session

    def run(event):
        nonlocal sm
        sm, actions = sm.handle(event)
        out = list(actions)
        # controller replica: preemption becomes SessionEnded feedback
        for a in out:
            if isinstance(a, RequestStart):
                pending[a.id] = a.symbols
            elif isinstance(a, PreemptSessions):
                for pid in a.provider_ids:
                    end_session(pid)
                    run(SessionEnded(id=pid))
        return out

    def push(pid: int, sym: str, ts_list: list[int]) -> int:
        """Feed one micro-batch through the real gate kernel for this
        session's (provider, symbol) state; returns rows delivered."""
        nonlocal seq
        seqs = list(range(seq, seq + len(ts_list)))
        seq += len(ts_list)
        hwm = gate_state.get((pid, sym), NO_STATE)
        kept = keep(ts_list, seqs, hwm)
        if kept:
            gate_state[(pid, sym)] = ts_list[kept[-1]]
        return len(kept)

    run(BackoffTick())  # arm startup round

    for step in steps:
        kind = step[0]
        if kind == "tick":
            run(BackoffTick())
        elif kind == "start_ok":
            pid = step[1]
            if sm.providers[pid].state is PState.CONNECTING:
                syms = sm.providers[pid].symbols
                run(StartSucceeded(id=pid, symbols=syms))
                if sm.providers[pid].state is PState.ACTIVE:
                    # model: session live with the protocol-observed set
                    live[pid] = pending.get(pid, syms)
        elif kind == "start_fail":
            pid = step[1]
            if sm.providers[pid].state is PState.CONNECTING:
                run(StartFailed(id=pid, error=ProviderTimeout("x")))
        elif kind == "fail_session":
            pid = step[1]
            if sm.providers[pid].state is PState.ACTIVE:
                end_session(pid)
                run(SessionEnded(id=pid))
        elif kind == "partition":
            # NetworkPartition: several providers fail together
            for pid in step[1]:
                if sm.providers[pid].state is PState.ACTIVE:
                    end_session(pid)
                    run(SessionEnded(id=pid))
        elif kind in ("send", "burst"):
            pid, sidx, ts0 = step[1], step[2], step[3]
            count = step[4] if kind == "burst" else 1
            sym = SYMBOLS[sidx]
            ts_list = [ts0 + i for i in range(count)]

            session_syms = live[pid]
            sys_live = sm.providers[pid].state is PState.ACTIVE
            # invariant: model liveness from the observed protocol must
            # agree with SM state (the analog of sync_assignments)
            assert (session_syms is not None) == sys_live
            if session_syms is None or sym not in session_syms:
                # no live session for this symbol: nothing to push through
                continue

            delivered = push(pid, sym, ts_list)

            # reference model: monotonic per (provider, symbol), equal
            # allowed, within-burst cumulative HWM
            expect = 0
            hwm = last_ts.get((pid, sym))
            for t in ts_list:
                if hwm is None or t >= hwm:
                    expect += 1
                    hwm = t if hwm is None else max(hwm, t)
            if hwm is not None:
                last_ts[(pid, sym)] = hwm

            assert delivered == expect, (
                f"provider {pid} sym {sym} ts {ts_list}: "
                f"gate delivered {delivered}, model expected {expect}"
            )

    # terminal coherence: every live model session maps to an ACTIVE
    # provider with the same symbol set
    for pid, syms in live.items():
        if syms is not None:
            assert sm.providers[pid].state is PState.ACTIVE
            assert tuple(sm.providers[pid].symbols) == tuple(syms)

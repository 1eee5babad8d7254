"""Streaming layer tests: supervisor SM scenarios (ports of the reference's
supervisor_sm_tests / failover / startup-fail suites), plus real Structured
Streaming runs of the monotonic gate, fan-in, and candle windowing using
file sources + availableNow triggers.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from borsa_spark.errors import AllProvidersFailed, ProviderTimeout, UnsupportedError
from borsa_spark.streaming import (
    BackoffTick,
    NotifyInitial,
    PreemptSessions,
    PState,
    RequestStart,
    ScheduleBackoffTick,
    SessionEnded,
    Shutdown,
    StartFailed,
    StartSucceeded,
    StopAll,
    candle_stream,
    collapse_stream_errors,
    fan_in,
    jitter_wait,
    make_supervisor,
    streaming_monotonic_gate,
)


class TestSupervisorSM:
    def test_startup_first_success_notifies(self):
        sm = make_supervisor([["AAPL"], ["AAPL"]])
        sm, actions = sm.handle(BackoffTick())  # kick off first round
        starts = [a for a in actions if isinstance(a, RequestStart)]
        assert starts and starts[0].id == 0 and starts[0].symbols == ("AAPL",)
        # provider 1 must NOT start for AAPL: provider 0 (earlier in chain)
        # is already Connecting it (coverage planning, T7)
        assert all(a.id == 0 for a in starts)
        sm, actions = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        assert any(isinstance(a, NotifyInitial) and a.ok for a in actions)
        assert sm.providers[0].state is PState.ACTIVE

    def test_startup_all_fail_collapses(self):
        # router_stream_startup_all_fail.rs
        sm = make_supervisor([["AAPL"], ["AAPL"]])
        sm, actions = sm.handle(BackoffTick())
        sm, actions = sm.handle(StartFailed(id=0, error=ProviderTimeout("p0")))
        # failure of 0 frees AAPL -> provider 1 starts
        starts = [a for a in actions if isinstance(a, RequestStart)]
        assert [a.id for a in starts] == [1]
        sm, actions = sm.handle(StartFailed(id=1, error=ProviderTimeout("p1")))
        notify = [a for a in actions if isinstance(a, NotifyInitial)]
        assert notify and not notify[0].ok
        assert isinstance(notify[0].error, AllProvidersFailed)

    def test_failover_then_failback_preempts(self):
        # router_stream_failover_failback.rs: primary fails, backup takes
        # over; primary recovers -> backup session preempted.
        sm = make_supervisor([["AAPL"], ["AAPL"]])
        sm, _ = sm.handle(BackoffTick())
        sm, actions = sm.handle(StartFailed(id=0, error=ProviderTimeout("p0")))
        sm, actions = sm.handle(StartSucceeded(id=1, symbols=("AAPL",)))
        assert sm.providers[1].state is PState.ACTIVE
        # tick clears provider 0's cooldown and retries it
        sm, actions = sm.handle(BackoffTick())
        starts = [a for a in actions if isinstance(a, RequestStart)]
        assert [a.id for a in starts] == [0]  # primary retried
        sm, actions = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        pre = [a for a in actions if isinstance(a, PreemptSessions)]
        assert pre and pre[0].provider_ids == (1,)

    def test_backoff_growth_and_reset(self):
        # get past startup with a success, then fail repeatedly while RUNNING
        sm = make_supervisor([["AAPL"]], min_backoff_ms=500, factor=2,
                             max_backoff_ms=4000)
        sm, _ = sm.handle(BackoffTick())
        sm, _ = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        sm, _ = sm.handle(SessionEnded(id=0))
        for expect in (1000, 2000, 4000, 4000):
            sm, actions = sm.handle(BackoffTick())  # retries the provider
            ticks = [a for a in actions if isinstance(a, ScheduleBackoffTick)]
            assert ticks[-1].delay_ms == expect
            sm, _ = sm.handle(StartFailed(id=0, error=ProviderTimeout("x")))
        # success from cooldown resets to min (supervisor_sm.rs:337-339)
        sm, _ = sm.handle(BackoffTick())
        sm, _ = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        assert sm.backoff_ms == 500

    def test_session_end_cooldown_and_restart(self):
        # router_stream_cooldown.rs
        sm = make_supervisor([["AAPL"]])
        sm, _ = sm.handle(BackoffTick())
        sm, _ = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        sm, actions = sm.handle(SessionEnded(id=0))
        assert sm.providers[0].state is PState.IN_COOLDOWN
        assert not any(isinstance(a, RequestStart) for a in actions)
        sm, actions = sm.handle(BackoffTick())
        starts = [a for a in actions if isinstance(a, RequestStart)]
        assert [a.id for a in starts] == [0]

    def test_per_provider_symbol_subsets(self):
        # router_stream_per_provider_subsets.rs: each provider only gets its
        # allowed symbols; uncovered symbols go to the next in chain.
        sm = make_supervisor(
            [["AAPL", "MSFT"], ["AAPL", "MSFT", "GOOG"]],
            provider_allow=[{"AAPL"}, {"MSFT", "GOOG"}],
        )
        sm, actions = sm.handle(BackoffTick())
        starts = {a.id: a.symbols for a in actions if isinstance(a, RequestStart)}
        assert starts[0] == ("AAPL",)
        assert set(starts[1]) == {"MSFT", "GOOG"}

    def test_shutdown_stops_all(self):
        sm = make_supervisor([["AAPL"]])
        sm, _ = sm.handle(BackoffTick())
        sm, actions = sm.handle(Shutdown())
        assert any(isinstance(a, StopAll) for a in actions)
        # terminal: further events are no-ops
        sm2, actions2 = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        assert actions2 == []

    def test_collapse_rules(self):
        assert isinstance(collapse_stream_errors("s", []), UnsupportedError)
        e = ProviderTimeout("x")
        assert collapse_stream_errors("s", [e]) is e
        assert isinstance(
            collapse_stream_errors("s", [e, e]), AllProvidersFailed
        )

    def test_downstream_closed_stops_all_sessions(self):
        # T9 downstream-drop: the consumer going away shuts the supervisor
        # down (session.rs:80-85 -> supervisor DownstreamClosed -> StopAll);
        # no further session-end bookkeeping is expected.
        from borsa_spark.streaming import DownstreamClosed

        sm = make_supervisor([["AAPL"]])
        sm, _ = sm.handle(BackoffTick())
        sm, _ = sm.handle(StartSucceeded(id=0, symbols=("AAPL",)))
        sm, actions = sm.handle(DownstreamClosed())
        assert any(isinstance(a, StopAll) for a in actions)
        assert sm.phase.value == "shutting_down"

    def test_jitter_bounds(self):
        rng = random.Random(42)
        for _ in range(100):
            v = jitter_wait(1000, 20, rng)
            assert 1000 <= v < 1200
        assert jitter_wait(1000, 0, rng) == 1000


@pytest.fixture()
def stream_rows(spark, tmp_path):
    """A deterministic out-of-order tick feed written as a file source."""
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    rows = [
        # (provider, symbol, ts, price, seq) — AAPL arrives out of order
        ("p0", "AAPL", ts(0), 10.0, 0),
        ("p0", "AAPL", ts(30), 11.0, 1),
        ("p0", "AAPL", ts(10), 9.0, 2),   # older than HWM(30) -> dropped
        ("p0", "AAPL", ts(30), 12.0, 3),  # equal -> allowed
        ("p0", "AAPL", ts(95), 13.0, 4),
        ("p0", "MSFT", ts(5), 20.0, 5),
        ("p0", "MSFT", ts(4), 19.0, 6),   # older -> dropped
        ("p1", "GOOG", ts(7), 30.0, 7),
    ]
    df = spark.createDataFrame(
        rows, "provider string, symbol string, ts timestamp, price double, seq long"
    )
    path = str(tmp_path / "ticks")
    df.repartition(1).write.parquet(path)
    return path, df.schema


def _run_stream(spark, stream_df, tmp_path, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


class TestStructuredStreaming:
    def test_streaming_monotonic_gate(self, spark, stream_rows, tmp_path):
        path, schema = stream_rows
        src = spark.readStream.schema(schema).parquet(path)
        gated = streaming_monotonic_gate(src)
        out = _run_stream(spark, gated, tmp_path, "gate_out", "append")
        kept = sorted(r.seq for r in out.collect())
        assert kept == [0, 1, 3, 4, 5, 7]

    def test_fan_in_with_allow_sets(self, spark, stream_rows, tmp_path):
        path, schema = stream_rows
        s0 = spark.readStream.schema(schema).parquet(path).filter(
            F.col("provider") == "p0"
        )
        s1 = spark.readStream.schema(schema).parquet(path).filter(
            F.col("provider") == "p1"
        )
        merged = fan_in([s0, s1], allowed={0: ["AAPL"], 1: ["GOOG"]})
        out = _run_stream(spark, merged, tmp_path, "fanin_out")
        symbols = {r.symbol for r in out.collect()}
        assert symbols == {"AAPL", "GOOG"}  # MSFT pruned by allow-set

    def test_candle_stream_final_bars(self, spark, stream_rows, tmp_path):
        path, schema = stream_rows
        src = spark.readStream.schema(schema).parquet(path)
        bars = candle_stream(src, interval_seconds=60, watermark="10 seconds")
        out = _run_stream(spark, bars, tmp_path, "bars_out", "append")
        rows = {(r.symbol, r.ts.second + r.ts.minute * 60): r for r in out.collect()}
        aapl0 = rows[("AAPL", 0)]
        # window [0,60): ticks at 0,30,10,30 -> open by event time=10.0@t0,
        # high=12, low=9, close = max event-time (30, seq 3) -> 12
        assert (float(aapl0.open), float(aapl0.high), float(aapl0.low),
                float(aapl0.close), aapl0.n_ticks) == (10.0, 12.0, 9.0, 12.0, 4)
        # the [60,120) bar is NOT final: max event time 95 puts the watermark
        # at 85 < 120, so append mode withholds it — is_final semantics
        assert ("AAPL", 60) not in rows
        assert rows[("MSFT", 0)].n_ticks == 2

    def test_candle_stream_update_mode_partial_bars(
        self, spark, tmp_path
    ):
        """T12 update mode (reference is_final=false CandleUpdate
        semantics, connector.rs:270-288): partial bars re-emit as ticks
        arrive, every emission carries is_final=false, and the LAST
        re-emission of a bar equals the append-mode (watermark-closed)
        final bar — the keyed-upsert contract candle_stream's docstring
        promises."""
        import datetime as dt

        def ts(sec):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

        schema = "symbol string, ts timestamp, price double, seq long"
        batches = [
            [("AAPL", ts(0), 10.0, 0), ("AAPL", ts(30), 11.0, 1)],
            [("AAPL", ts(10), 9.0, 2), ("AAPL", ts(30), 12.0, 3)],
            [("AAPL", ts(95), 13.0, 4)],  # moves the watermark past 60
        ]
        path = tmp_path / "upd_ticks"
        path.mkdir()
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).repartition(1).write.parquet(
                str(path / f"batch_{i}")
            )
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(path / "batch_*"))
        )
        bars = candle_stream(
            src, interval_seconds=60, watermark="10 seconds",
            final_mode=False,
        )
        emissions: list[tuple[int, list]] = []
        q = (
            bars.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_upd"))
            .trigger(availableNow=True)
            .foreachBatch(
                lambda df, bid: emissions.append((bid, df.collect()))
            )
            .start()
        )
        q.awaitTermination(120)

        w0 = dt.datetime(2024, 1, 1)
        history = [
            r
            for _, rows in sorted(emissions)
            for r in rows
            if r.symbol == "AAPL" and r.ts == w0
        ]
        # the [0,60) bar re-emitted at least twice (each batch that
        # touched it), every time marked non-final
        assert len(history) >= 2
        assert all(r.is_final is False for r in history)
        # intermediate partials show the pre-revision state...
        first = history[0]
        assert (float(first.open), float(first.high), float(first.low),
                float(first.close), first.n_ticks) == (10.0, 11.0, 10.0,
                                                       11.0, 2)
        # ...and the last re-emission equals the append-mode final bar
        # over the same complete feed
        final_src = spark.readStream.schema(schema).parquet(
            str(path / "batch_*")
        )
        final_bars = candle_stream(
            final_src, interval_seconds=60, watermark="10 seconds"
        )
        out = _run_stream(spark, final_bars, tmp_path, "upd_final", "append")
        final = {
            (r.symbol, r.ts): r for r in out.collect()
        }[("AAPL", w0)]
        last = history[-1]
        assert (
            float(last.open), float(last.high), float(last.low),
            float(last.close), last.n_ticks,
        ) == (
            float(final.open), float(final.high), float(final.low),
            float(final.close), final.n_ticks,
        )
        assert final.is_final is True and last.is_final is False


class TestOptionStream:
    """S11: OptionUpdate multiplex — fan-in + allow-sets + per-underlying
    monotonic gate, mirroring router_stream_candles.rs's delivered-updates
    shape for the option update type (connector.rs:235-249,
    streaming/mod.rs:44-56)."""

    @pytest.fixture()
    def option_rows(self, spark, tmp_path):
        import datetime as dt
        from decimal import Decimal

        from borsa_spark import schemas

        def ts(sec):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

        def upd(provider, sym, contract, right, strike, sec, price, seq):
            return (
                provider, sym, contract, right, Decimal(strike),
                dt.date(2024, 6, 21), ts(sec), Decimal(price),
                Decimal(price) - Decimal("0.05"),
                Decimal(price) + Decimal("0.05"),
                100, 5000, 0.25, seq,
            )

        rows = [
            # p0: AAPL contracts interleave; gate is per UNDERLYING, so the
            # C150 update at t=10 arrives after the P140 at t=30 -> dropped
            # even though it is a different contract (reference gates on
            # stream_symbol, not contract).
            upd("p0", "AAPL", "AAPL240621C150", "CALL", "150", 0, "5.00", 0),
            upd("p0", "AAPL", "AAPL240621P140", "PUT", "140", 30, "3.00", 1),
            upd("p0", "AAPL", "AAPL240621C150", "CALL", "150", 10, "5.10", 2),
            upd("p0", "AAPL", "AAPL240621C150", "CALL", "150", 30, "5.20", 3),
            upd("p0", "MSFT", "MSFT240621C400", "CALL", "400", 5, "7.00", 4),
            # p1 streams TSLA, but the allow-set only admits GOOG from p1
            upd("p1", "TSLA", "TSLA240621C200", "CALL", "200", 7, "9.00", 5),
            upd("p1", "GOOG", "GOOG240621P100", "PUT", "100", 8, "2.00", 6),
        ]
        df = spark.createDataFrame(rows, schema=schemas.OPTION_UPDATES)
        path = str(tmp_path / "opts")
        df.repartition(1).write.parquet(path)
        return path, schemas.OPTION_UPDATES

    def test_fan_in_allow_set_and_gate(self, spark, option_rows, tmp_path):
        from borsa_spark.streaming import option_stream

        path, schema = option_rows
        src = spark.readStream.schema(schema).parquet(path)
        p0 = src.filter(F.col("provider") == "p0")
        p1 = src.filter(F.col("provider") == "p1")
        out_df = option_stream([p0, p1], allowed={1: ["GOOG"]})
        out = _run_stream(spark, out_df, tmp_path, "opt_out", "append")
        kept = sorted(r.seq for r in out.collect())
        # seq 2 dropped (older than AAPL HWM 30); seq 3 kept (equal ts);
        # seq 5 dropped by p1's allow-set.
        assert kept == [0, 1, 3, 4, 6]
        by_seq = {r.seq: r for r in out.collect()}
        assert by_seq[3].contract_symbol == "AAPL240621C150"
        assert float(by_seq[6].strike) == 100.0

    def test_ungated_passthrough_keeps_all_allowed(
        self, spark, option_rows, tmp_path
    ):
        from borsa_spark.streaming import option_stream

        path, schema = option_rows
        src = spark.readStream.schema(schema).parquet(path)
        out_df = option_stream([src], gate=False)
        out = _run_stream(spark, out_df, tmp_path, "opt_raw", "append")
        assert sorted(r.seq for r in out.collect()) == list(range(7))


class TestClockSkew:
    def test_per_symbol_clocks_do_not_interfere(self, spark, tmp_path):
        """router_stream_clock_skew.rs: symbols with wildly different clock
        bases each keep their own high-water mark — one symbol's 'future'
        clock never drops another's updates."""
        import datetime as dt

        def ts(sec):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

        rows = [
            ("FAST", ts(1_000_000), 1.0, 0),   # clock far ahead
            ("SLOW", ts(10), 2.0, 1),          # clock far behind: still passes
            ("FAST", ts(1_000_010), 1.1, 2),
            ("SLOW", ts(5), 2.1, 3),           # older within SLOW -> dropped
            ("SLOW", ts(20), 2.2, 4),
        ]
        df = spark.createDataFrame(
            rows, "symbol string, ts timestamp, price double, seq long"
        )
        path = str(tmp_path / "skew")
        df.repartition(1).write.parquet(path)
        src = spark.readStream.schema(df.schema).parquet(path)
        gated = streaming_monotonic_gate(src)
        out = _run_stream(spark, gated, tmp_path, "skew_out")
        assert sorted(r.seq for r in out.collect()) == [0, 1, 2, 4]


class TestRocksDBStateStore:
    def test_gate_on_rocksdb_provider(self, spark, stream_rows, tmp_path):
        """The stateful gate must run on RocksDBStateStoreProvider — the
        off-heap state backend for production scale (HDFSBacked keeps all
        state on the JVM heap; at millions of symbols that's the first thing
        to fall over)."""
        path, schema = stream_rows
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", ""
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            src = spark.readStream.schema(schema).parquet(path)
            gated = streaming_monotonic_gate(src)
            out = _run_stream(spark, gated, tmp_path, "gate_rocks", "append")
            assert sorted(r.seq for r in out.collect()) == [0, 1, 3, 4, 5, 7]
        finally:
            if prev:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )


class TestDropDuplicatesWithinWatermark:
    """Streaming dedup with bounded state: ``streaming_exact_dedup`` keeps
    the dedup key only while it can still collide (the watermark
    horizon), so a replay is dropped within one micro-batch and across
    micro-batches alike."""

    def test_in_window_duplicates_dropped(self, spark, tmp_path):
        import datetime as dt

        from borsa_spark.streaming.fanin import streaming_exact_dedup

        schema = "symbol string, seq long, ts timestamp, price double"

        def ts(sec):
            return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

        batches = [
            [("AAPL", 1, ts(0), 10.0), ("AAPL", 1, ts(1), 10.0)],  # dup seq
            [("AAPL", 1, ts(2), 10.0), ("AAPL", 2, ts(3), 11.0)],  # replay + new
        ]
        path = tmp_path / "ddw"
        path.mkdir()
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).repartition(1).write.parquet(
                str(path / f"b{i}")
            )
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(path / "b*"))
        )
        dedup = streaming_exact_dedup(src, ["symbol", "seq"])
        out = _run_stream(spark, dedup, tmp_path, "ddw_out", "append")
        rows = out.collect()
        seqs = sorted((r.symbol, r.seq) for r in rows)
        assert seqs == [("AAPL", 1), ("AAPL", 2)]  # replays dropped


class _TickBacklog:
    """Three providers' tick files for fan_in -> gate -> candle_stream
    drains, and the bars a drain wrote."""

    SCHEMA = ("provider string, symbol string, ts timestamp, "
              "price double, seq long")
    N_FILES = 4

    def _write_backlog(self, spark, root, files):
        """File ``k`` of each provider holds ticks from minute ``2k`` to
        ``2k + 2``; about one tick in six arrives out of order."""
        import datetime as dt

        rng = random.Random(11)
        t0 = dt.datetime(2024, 1, 1)
        for p in range(3):
            for k in files:
                rows = []
                for i in range(24):
                    sec = k * 120 + i * 5 + p
                    if rng.random() < 0.17:
                        sec -= rng.randint(6, 40)
                    rows.append((
                        f"p{p}", rng.choice(["AAPL", "MSFT", "GOOG"]),
                        t0 + dt.timedelta(seconds=sec),
                        round(rng.uniform(90, 110), 2),
                        (k * 3 + p) * 100 + i,
                    ))
                spark.createDataFrame(rows, self.SCHEMA).repartition(
                    1).write.parquet(str(root / f"p{p}" / f"f{k}"))

    def _bars(self, spark, out):
        return sorted(
            tuple(r) for r in spark.read.parquet(str(out)).select(
                "symbol", "ts", "open", "high", "low", "close", "n_ticks"
            ).collect()
        )


class TestFrozenPartitionCount(_TickBacklog):
    """A stateful stream keeps the shuffle partition count of its
    checkpoint (Structured Streaming stores it in the offset log), so a
    stream started under one count restarts under it whatever the session
    says now, and still produces the bars of a one-shot drain. A new
    checkpoint takes the session's count, which ``get_spark`` sets to one
    partition per core."""

    def _drain(self, spark, root, out, ckpt):
        sources = [
            spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", "2")
            .parquet(str(root / f"p{p}" / "f*"))
            for p in range(3)
        ]
        bars = candle_stream(
            streaming_monotonic_gate(fan_in(sources)),
            interval_seconds=60, watermark="10 seconds",
        )
        q = (
            bars.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        assert q.exception() is None
        counts = {
            op["numShufflePartitions"]
            for p in q.recentProgress for op in p["stateOperators"]
        }
        n_ops = {len(p["stateOperators"]) for p in q.recentProgress}
        assert n_ops == {2}  # the gate and the candle aggregate
        return counts

    def test_restart_keeps_checkpoint_partition_count(self, spark, tmp_path):
        key = "spark.sql.shuffle.partitions"
        session_parts = spark.conf.get(key)
        assert session_parts == "4"
        ticks, out, ckpt = (tmp_path / n for n in ("ticks", "out", "ckpt"))
        half = self.N_FILES // 2
        self._write_backlog(spark, ticks, range(half))
        spark.conf.set(key, "8")
        try:
            assert self._drain(spark, ticks, out, ckpt) == {8}
        finally:
            spark.conf.set(key, session_parts)
        self._write_backlog(spark, ticks, range(half, self.N_FILES))
        assert self._drain(spark, ticks, out, ckpt) == {8}
        restarted = self._bars(spark, out)

        fresh_out = tmp_path / "fresh_out"
        assert self._drain(
            spark, ticks, fresh_out, tmp_path / "fresh_ckpt") == {4}
        one_shot = self._bars(spark, fresh_out)
        assert len(one_shot) > 3 * self.N_FILES
        assert restarted == one_shot

    def test_default_is_one_partition_per_core(self):
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, SPARK_GRAFT_CPUS="2",
                   SPARK_GRAFT_DRIVER_MEM="1g")
        env.pop("SPARK_GRAFT_MASTER", None)
        probe = (
            "from borsa_spark.session import get_spark\n"
            "s = get_spark('partition-default')\n"
            "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
            "s.stop()\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe], cwd=repo, env=env,
            capture_output=True, text=True, timeout=300, check=True,
        )
        assert out.stdout.strip().splitlines()[-1] == "2"


class TestStopMidDrain(_TickBacklog):
    """Stop the fan_in -> gate -> candle_stream query after its first
    committed micro-batch and restart it from the same checkpoint: the gate's
    high-water marks and the candle state come back from the checkpoint, so
    the bars equal those of a one-shot drain."""

    N_FILES = 6

    def _start(self, spark, root, out, ckpt):
        sources = [
            spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(root / f"p{p}" / "f*"))
            for p in range(3)
        ]
        bars = candle_stream(
            streaming_monotonic_gate(fan_in(sources)),
            interval_seconds=60, watermark="10 seconds",
        )
        return (
            bars.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def _finish(self, q):
        assert q.awaitTermination(300)
        assert q.exception() is None

    def test_restart_mid_drain_gives_one_shot_bars(self, spark, tmp_path):
        import time

        ticks, out, ckpt = (tmp_path / n for n in ("ticks", "out", "ckpt"))
        self._write_backlog(spark, ticks, range(self.N_FILES))
        q = self._start(spark, ticks, out, ckpt)
        deadline = time.monotonic() + 300
        while not (ckpt / "commits" / "0").exists():
            assert q.isActive and time.monotonic() < deadline
            time.sleep(0.01)
        q.stop()
        committed = [f for f in (ckpt / "commits").iterdir()
                     if f.name.isdigit()]
        assert len(committed) < self.N_FILES  # stopped mid-drain
        self._finish(self._start(spark, ticks, out, ckpt))
        restarted = self._bars(spark, out)

        fresh_out = tmp_path / "fresh_out"
        self._finish(
            self._start(spark, ticks, fresh_out, tmp_path / "fresh_ckpt"))
        one_shot = self._bars(spark, fresh_out)
        assert len(one_shot) > 3 * self.N_FILES
        assert restarted == one_shot


class TestGateTTL:
    """``ttl_ms`` reaps an idle symbol's state (filters.rs:16-36): once the
    high-water mark of a symbol that saw no tick for ``ttl_ms`` has expired,
    an older tick for it passes again, while a symbol that keeps ticking
    still rejects older ticks."""

    SCHEMA = ("provider string, symbol string, ts timestamp, "
              "price double, seq long")
    TTL_MS = 5000

    def test_idle_symbol_state_expires(self, spark, tmp_path):
        import datetime as dt
        import itertools
        import json
        import os
        import time

        ticks = tmp_path / "ticks"
        ticks.mkdir()
        seq = itertools.count()

        def write(*rows):
            """One JSON file of (symbol, second) ticks, renamed into place
            so the file source never lists a partial file."""
            k = next(seq)
            body = "".join(json.dumps({
                "provider": "p0", "symbol": sym, "price": 1.0,
                "ts": (dt.datetime(2024, 1, 1)
                       + dt.timedelta(seconds=sec)).isoformat(),
                "seq": k * 10 + i,
            }) + "\n" for i, (sym, sec) in enumerate(rows))
            (ticks / f".f{k}").write_text(body)
            os.replace(ticks / f".f{k}", ticks / f"f{k}.json")

        src = spark.readStream.schema(self.SCHEMA).json(str(ticks))
        q = (
            streaming_monotonic_gate(src, ttl_ms=self.TTL_MS)
            .writeStream.format("memory").queryName("gate_ttl")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            write(("AAPL", 100), ("MSFT", 100))
            deadline = time.monotonic() + 120
            for sec in itertools.count(101):
                assert q.isActive and time.monotonic() < deadline
                removed = sum(
                    p["stateOperators"][0]["numRowsRemoved"]
                    for p in q.recentProgress if p["stateOperators"]
                )
                if removed:
                    break
                write(("MSFT", sec))  # keeps MSFT's state alive
                time.sleep(0.25)
            # Both old ticks share one file, so one micro-batch gates them.
            # A processing-time timeout runs a batch on every trigger, so
            # processAllAvailable would never return: poll the sink.
            write(("AAPL", 50), ("MSFT", 50))
            while True:
                kept = {(r.symbol, r.ts.second + 60 * r.ts.minute)
                        for r in spark.table("gate_ttl").collect()}
                if ("AAPL", 50) in kept or time.monotonic() > deadline:
                    break
                assert q.isActive
                time.sleep(0.25)
        finally:
            q.stop()
        assert ("AAPL", 100) in kept and ("MSFT", 100) in kept
        assert ("AAPL", 50) in kept  # AAPL's expired HWM no longer gates
        assert ("MSFT", 50) not in kept  # MSFT's live HWM still does

    def test_non_positive_ttl_is_rejected(self, spark, stream_rows):
        path, schema = stream_rows
        src = spark.readStream.schema(schema).parquet(path)
        with pytest.raises(ValueError, match="ttl_ms"):
            streaming_monotonic_gate(src, ttl_ms=0)


class TestDefaultDriverHeap:
    """``get_spark`` sizes the driver heap from the host when
    ``SPARK_GRAFT_DRIVER_MEM`` is unset, so a long-lived router cannot
    grow its heap past physical memory."""

    def test_unset_default_is_below_physical_memory(self):
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, SPARK_GRAFT_CPUS="2")
        env.pop("SPARK_GRAFT_DRIVER_MEM", None)
        env.pop("SPARK_GRAFT_MASTER", None)
        probe = (
            "from borsa_spark.session import get_spark\n"
            "s = get_spark('heap-default')\n"
            "print(s.conf.get('spark.driver.memory'))\n"
            "print(s.sparkContext._jvm.java.lang.Runtime.getRuntime()"
            ".maxMemory())\n"
            "s.stop()\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe], cwd=repo, env=env,
            capture_output=True, text=True, timeout=300, check=True,
        )
        conf, jvm_max = out.stdout.strip().splitlines()[-2:]
        physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        assert conf.endswith("m")
        assert 0 < int(conf[:-1]) * 2**20 < physical
        assert 0 < int(jvm_max) < physical

"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import threading
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
from harness import (HostSpeed, RequestRecord, Tracer, cpu_s,  # noqa: E402
                     percentile, percentiles, poisson_schedule,
                     run_open_loop, summarize)


class TestGenerator:
    def test_same_seed_same_market(self, tmp_path):
        a = gen.make_market(5, str(tmp_path / "a"))
        b = gen.make_market(5, str(tmp_path / "b"))
        c = gen.make_market(6, str(tmp_path / "c"))
        assert a.checksum == b.checksum
        assert a.checksum != c.checksum
        assert a.by_popularity == b.by_popularity
        assert a.history_rows > 0

    def test_same_seed_same_ticks(self, tmp_path):
        a = gen.make_ticks(5, str(tmp_path / "a"), 3, 500)
        b = gen.make_ticks(5, str(tmp_path / "b"), 3, 500)
        c = gen.make_ticks(6, str(tmp_path / "c"), 3, 500)
        assert a.checksum == b.checksum != c.checksum
        assert a.n_ticks == 1500

    def test_timestamps_are_utc_aware(self, tmp_path):
        import pyarrow.parquet as pq

        m = gen.make_market(1, str(tmp_path / "m"))
        t = gen.make_ticks(1, str(tmp_path / "t"), 1, 100)
        for path in (os.path.join(m.history_dirs["alpha"], "part-0.parquet"),
                     os.path.join(t.dirs["feed_a"], "part-00000.parquet")):
            assert str(pq.read_schema(path).field("ts").type) == \
                "timestamp[us, tz=UTC]"

    def test_decimal_prices_are_exact(self):
        import pyarrow as pa

        arr = gen.cents_to_decimal(np.array([12345, -7, 0]))
        assert arr.type == pa.decimal128(38, 9)
        assert [str(v) for v in arr.to_pylist()] == \
            ["123.450000000", "-0.070000000", "0E-9"]


class TestPercentiles:
    def test_interpolated_with_sample_count(self):
        p = percentiles([float(x) for x in range(1, 11)])
        assert p.p50 == pytest.approx(5.5)
        assert p.p90 == pytest.approx(9.1)
        assert p.n == 10
        assert p.beyond_p90 == 1
        assert "n=10" in p.line("lat", "ms")

    def test_single_sample(self):
        p = percentiles([3.0])
        assert (p.p50, p.p90, p.n, p.beyond_p90) == (3.0, 3.0, 1, 0)

    def test_empty_is_an_error(self):
        with pytest.raises(ValueError):
            percentile([], 50)


class TestOpenLoop:
    def test_schedule_is_seeded_and_spans_n_over_rate(self):
        a = poisson_schedule(np.random.default_rng(1), 4.0, 40)
        b = poisson_schedule(np.random.default_rng(1), 4.0, 40)
        assert a == b
        assert a == sorted(a) and 0 <= a[0] and a[-1] <= 10.0

    def test_latency_counts_from_the_scheduled_time(self):
        recs = [
            RequestRecord(0, scheduled=0.0, submitted=0.0, started=0.0, ended=1.0),
            # sent 0.5 s late, then queued behind request 0
            RequestRecord(1, scheduled=0.1, submitted=0.6, started=1.0,
                          ended=1.5, backlog=1),
        ]
        s = summarize(recs, workers=2)
        assert recs[1].latency == pytest.approx(1.4)
        assert recs[1].queue_wait == pytest.approx(0.9)
        assert s.gen_lag_ms_max == pytest.approx(500.0)
        assert s.backlog_max == 1
        assert s.latency_ms.n == 2
        # two requests served in 1.0 + 0.5 s by two workers
        assert s.capacity_per_s == pytest.approx(2 * 2 / 1.5)

    def test_failed_requests_count_and_keep_their_latency(self):
        recs = [RequestRecord(0, 0.0, 0.0, 0.0, 0.2, error=RuntimeError("x"))]
        s = summarize(recs, workers=1)
        assert (s.attempted, s.failed) == (1, 1)
        assert s.latency_ms.p50 == pytest.approx(200.0)

    def test_slow_server_builds_a_queue_the_schedule_ignores(self):
        # one worker, 50 ms of service, arrivals every 10 ms: the sender
        # keeps its schedule and later requests wait in the queue
        def handler(i):
            time.sleep(0.05)
            return i

        recs = run_open_loop([0.01 * i for i in range(6)], handler, workers=1)
        assert [r.result for r in recs] == list(range(6))
        assert max(r.gen_lag for r in recs) < 0.03
        assert recs[-1].queue_wait > 0.15
        assert recs[-1].latency > recs[-1].ended - recs[-1].started
        assert max(r.backlog for r in recs) >= 3

    def test_handler_errors_are_recorded(self):
        def handler(i):
            if i == 1:
                raise ValueError("boom")
            return i

        recs = run_open_loop([0.0, 0.0, 0.0], handler, workers=2)
        assert [r.error is None for r in recs] == [True, False, True]


class TestCpuTime:
    def test_reaped_child_counts_and_sleep_does_not(self):
        import subprocess

        own0, reaped0 = cpu_s("self")
        subprocess.run([sys.executable, "-c",
                        "import time\nt = time.process_time()\n"
                        "while time.process_time() - t < 0.3: pass"],
                       check=True)
        time.sleep(0.3)
        own1, reaped1 = cpu_s("self")
        assert reaped1 - reaped0 >= 0.25
        assert own1 - own0 < 0.25

    def test_host_speed_samples_and_accounts_its_own_cpu(self):
        speed = HostSpeed()
        speed.start()
        time.sleep(0.8)
        task_s = speed.stop()
        assert not speed._thread.is_alive()
        assert len(speed.samples) >= 2
        assert min(speed.samples) <= task_s <= max(speed.samples)
        assert speed.cpu_s >= sum(speed.samples)


class TestTracer:
    def test_self_time_subtracts_children(self):
        t = Tracer(True)
        with t.span("outer", request=7):
            time.sleep(0.02)
            with t.span("inner"):
                time.sleep(0.03)
        self_t = t.self_times()
        assert self_t["inner"] == pytest.approx(0.03, abs=0.02)
        assert self_t["outer"] == pytest.approx(0.02, abs=0.02)
        inner = next(s for s in t.spans if s.name == "inner")
        outer = next(s for s in t.spans if s.name == "outer")
        assert inner.parent == outer.id and inner.request == 7

    def test_threads_keep_separate_parents(self):
        t = Tracer(True)

        def work(i):
            with t.span("req", request=i):
                with t.span("leaf"):
                    pass

        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=5)
            assert not th.is_alive()
        by_id = {s.id: s for s in t.spans}
        for s in t.spans:
            if s.name == "leaf":
                assert by_id[s.parent].request == s.request

    def test_disabled_tracer_records_nothing(self):
        t = Tracer(False)
        with t.span("x"):
            t.count("c")
        assert t.spans == [] and t.counts == {}


class TestStreamReference:
    def test_gate_drops_older_keeps_equal(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = gen.DAY0_US
        ts = [base, base + 2, base + 1, base + 2, base + 120_000_000]
        pq.write_table(pa.table({
            "symbol": ["A"] * 5,
            "ts": pa.array(ts, pa.int64()).cast(gen.TS_TYPE),
            "price": gen.cents_to_decimal(np.array([100, 101, 99, 102, 103])),
            "volume": pa.array([1, 1, 1, 1, 1], pa.int64()),
            "seq": pa.array(range(5), pa.int64()),
        }), str(tmp_path / "t.parquet"))
        ref = oracle.stream_reference(oracle.connect(), str(tmp_path / "t.parquet"),
                                      batch_ticks=1, bar_seconds=60,
                                      watermark_s=0)
        assert ref["gated_ticks"] == 4  # seq 2 is older than seq 1
        bars = ref["bars"]
        assert len(bars) == 1  # the last tick's window is still open
        assert bars.iloc[0][["open", "close", "n_ticks"]].tolist() == [100, 102, 3]

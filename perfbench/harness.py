"""Benchmark plumbing shared by the workloads: percentiles, the open-loop
load generator, span tracing, process memory and CPU time, and the Spark
session's lifetime. Nothing here imports pyspark at module level."""

from __future__ import annotations

import itertools
import math
import os
import signal
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import numpy as np


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), 0 <= q <= 100."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


@dataclass
class Percentiles:
    p50: float
    p90: float
    n: int
    #: how many samples lie strictly above the p90 value
    beyond_p90: int

    def line(self, name: str, unit: str) -> str:
        return (f"{name}: p50={self.p50:.3f} {unit} p90={self.p90:.3f} {unit} "
                f"(n={self.n}, {self.beyond_p90} beyond p90)")


def percentiles(samples: list[float]) -> Percentiles:
    p90 = percentile(samples, 90)
    return Percentiles(
        p50=percentile(samples, 50),
        p90=p90,
        n=len(samples),
        beyond_p90=sum(1 for x in samples if x > p90),
    )


def median(samples: list[float]) -> float:
    return percentile(samples, 50)


# ---------------------------------------------------------------------------
# Open-loop load
# ---------------------------------------------------------------------------


def poisson_schedule(rng: np.random.Generator, rate_per_s: float,
                     n: int) -> list[float]:
    """Send times (seconds from the start) of a Poisson process at
    ``rate_per_s`` conditioned on ``n`` arrivals in ``n / rate_per_s``
    seconds: sorted uniform times over that span. Fixing the span keeps
    the offered load per run the same across seeds."""
    return np.sort(rng.uniform(0.0, n / rate_per_s, size=n)).tolist()


@dataclass
class RequestRecord:
    """One open-loop request. Times are seconds on the generator's clock,
    measured from the start of the run."""

    index: int
    scheduled: float
    submitted: float = math.nan
    started: float = math.nan
    ended: float = math.nan
    error: BaseException | None = None
    result: object = None
    #: requests submitted but not yet started, seen when this one was sent
    backlog: int = 0

    @property
    def latency(self) -> float:
        """From the scheduled send time to completion, so a stall also
        charges the requests queued behind it."""
        return self.ended - self.scheduled

    @property
    def queue_wait(self) -> float:
        return self.started - self.scheduled

    @property
    def gen_lag(self) -> float:
        return self.submitted - self.scheduled


@dataclass
class LoadSummary:
    latency_ms: Percentiles
    queue_wait_ms: float
    backlog_max: int
    gen_lag_ms_max: float
    gen_lag_ms_p50: float
    capacity_per_s: float
    attempted: int
    failed: int


def summarize(records: list[RequestRecord], workers: int) -> LoadSummary:
    """Latency, queueing and generator-lateness figures for one window.

    Every request counts in the latency figures, failed ones too: a failed
    request has missed any latency limit, and its time is still the time
    the user waited for the answer.

    ``capacity_per_s`` is what ``workers`` threads complete per second at
    the window's mean service time (start to end, queueing excluded). The
    completion rate itself would only repeat the offered rate of an open
    loop below capacity.
    """
    if not records:
        raise ValueError("no requests")
    lat = [r.latency * 1000 for r in records]
    service = sum(r.ended - r.started for r in records)
    lags = [r.gen_lag * 1000 for r in records]
    return LoadSummary(
        latency_ms=percentiles(lat),
        queue_wait_ms=median([r.queue_wait * 1000 for r in records]),
        backlog_max=max(r.backlog for r in records),
        gen_lag_ms_max=max(lags),
        gen_lag_ms_p50=median(lags),
        capacity_per_s=len(records) * workers / max(service, 1e-9),
        attempted=len(records),
        failed=sum(1 for r in records if r.error is not None),
    )


def run_open_loop(schedule: list[float], handler: Callable[[int], object],
                  workers: int) -> list[RequestRecord]:
    """Send request ``i`` at ``schedule[i]`` seconds whether or not earlier
    ones have finished, and serve them on ``workers`` threads.

    ``handler(i)`` performs request ``i``; its return value is kept in the
    record and an exception it raises is recorded as the request's failure.
    Returns once every request has completed.
    """
    records = [RequestRecord(i, t) for i, t in enumerate(schedule)]
    lock = threading.Lock()
    waiting = 0
    t0 = time.perf_counter()

    def serve(rec: RequestRecord) -> None:
        nonlocal waiting
        with lock:
            waiting -= 1
        rec.started = time.perf_counter() - t0
        try:
            rec.result = handler(rec.index)
        except Exception as e:  # a failed request is data, not a crash
            rec.error = e
        rec.ended = time.perf_counter() - t0

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = []
        for rec in records:
            delay = rec.scheduled - (time.perf_counter() - t0)
            if delay > 0:
                time.sleep(delay)
            with lock:
                rec.backlog = waiting
                waiting += 1
            rec.submitted = time.perf_counter() - t0
            futures.append(pool.submit(serve, rec))
        for f in futures:
            f.result()
    return records


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    id: int


class Tracer:
    """In-memory spans with parent links, per thread.

    ``span(name)`` is a context manager; spans opened inside it on the same
    thread become its children. A disabled tracer records nothing and
    costs one attribute check per span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count()  # next() on a count is atomic

    def span(self, name: str, request: int | None = None):
        return _SpanCtx(self, name, request)

    def count(self, name: str) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + 1

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration minus
        the part of it its direct children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = (child_cover.get(s.parent, 0.0)
                                         + s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child_cover.get(s.id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + max(own, 0.0)
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "spans": [s.__dict__ for s in self.spans],
                "counts": self.counts,
            }, f)


class _SpanCtx:
    __slots__ = ("tracer", "name", "request", "start", "id", "parent")

    def __init__(self, tracer: Tracer, name: str, request: int | None):
        self.tracer = tracer
        self.name = name
        self.request = request

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self.parent = stack[-1].id if stack else None
        if self.request is None and stack:
            self.request = stack[-1].request
        self.id = next(t._ids)
        stack.append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._local.stack.pop()
        with t._lock:
            t.spans.append(Span(self.name, self.start, end, self.parent,
                                self.request, self.id))
        return False


# ---------------------------------------------------------------------------
# Processes and memory
# ---------------------------------------------------------------------------


def peak_rss_kb(pid: int | str) -> int:
    """VmHWM (peak resident set) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS (Linux >= 4.0),
    so input generation does not count toward this process's peak."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def cpu_s(pid: int | str) -> tuple[float, float]:
    """CPU seconds (user + system) spent so far by process ``pid`` itself,
    and by the children it has already reaped. Time the host gave to other
    processes, or took for itself (steal), is in neither."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    tick = os.sysconf("SC_CLK_TCK")
    return (utime + stime) / tick, (cutime + cstime) / tick


#: Iterations of the reference task, and how often the sampler runs it.
REFERENCE_ITERS = 50_000
SAMPLE_EVERY_S = 0.25


def reference_task() -> None:
    """A fixed piece of interpreted work: dict stores of fresh strings,
    about 10 ms of CPU on a 2.1 GHz Xeon core."""
    d = {}
    for i in range(REFERENCE_ITERS):
        d[i & 4095] = str(i)


class HostSpeed:
    """How fast the host runs a fixed task while a window is measured.

    A background thread runs ``reference_task`` every ``SAMPLE_EVERY_S``
    and records the thread CPU time it took. Other processes taking turns
    on the cores do not change that figure; how fast the cores run the work
    they do get (clock, caches and memory shared with the hypervisor's other
    guests) does. ``cpu_s`` is the sampler's own CPU time, for callers that
    must leave it out of what they measure."""

    def __init__(self):
        self.samples: list[float] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        start = time.thread_time()
        while not self._stop.wait(SAMPLE_EVERY_S):
            t0 = time.thread_time()
            reference_task()
            self.samples.append(time.thread_time() - t0)
        self.cpu_s = time.thread_time() - start

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the median task time in seconds."""
        self._stop.set()
        self._thread.join()
        return median(self.samples)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        if live:
            time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if live:
        time.sleep(0.2)


@dataclass
class SetupTimes:
    session_s: float
    mount_s: float
    warmup_s: float

    @property
    def total_s(self) -> float:
        return self.session_s + self.mount_s + self.warmup_s

    def line(self) -> str:
        return (f"set-up: session {self.session_s:.2f} s + mount "
                f"{self.mount_s:.2f} s + warm-up {self.warmup_s:.2f} s")

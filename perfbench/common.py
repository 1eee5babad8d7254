"""What every workload shares: the run context, the outcome it reports,
and the probes a traced run adds around calls into the program."""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from harness import HostSpeed, Tracer, cpu_s, descendants, peak_rss_kb
from session import SparkHost


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str
    host: SparkHost
    tracer: Tracer


@dataclass
class Outcome:
    attempted: int
    failed: int
    wrong: int
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    #: human-readable lines printed before the result line
    lines: list[str] = field(default_factory=list)


def peak_rss_mb(host: SparkHost) -> float:
    """Peak RSS of this driver process plus its JVM, in MB."""
    return (peak_rss_kb("self") + peak_rss_kb(host.jvm_pid)) / 1024.0


#: CPU time of ``harness.reference_task`` on the 4-core host the benchmark
#: was tuned on, when that host ran at its usual speed.
REFERENCE_TASK_S = 0.010
#: How much the workloads' CPU time per operation moves with the reference
#: task's time: the slope of log CPU per operation on log reference time,
#: 0.61 over 16 tick_stream runs and 0.63 over 10 point_requests runs of the
#: same code on that host (correlations 0.88 and 0.68). Half of tick_stream's
#: CPU is in the JVM, whose compiled code a slower host slows less than it
#: slows the interpreted reference task.
HOST_SPEED_ELASTICITY = 0.6


def cpu_by_process(host: SparkHost) -> dict[str, float]:
    """CPU seconds spent so far by this driver process, by its JVM, and by
    the processes below the JVM (the Python workers, live or exited)."""
    jvm_own, workers = cpu_s(host.jvm_pid)
    for pid in descendants(host.jvm_pid):
        try:
            workers += sum(cpu_s(pid))
        except OSError:
            pass  # exited since it was listed
    return {"driver": cpu_s("self")[0], "jvm": jvm_own, "workers": workers}


class CpuWindow:
    """CPU time per operation over a measured window: ``start()``, run
    the window, then ``per_op_ms(ops)``."""

    def __init__(self, host: SparkHost):
        self.host = host
        self.speed = HostSpeed()
        self.before: dict[str, float] = {}

    def start(self) -> None:
        self.before = cpu_by_process(self.host)
        self.speed.start()

    def per_op_ms(self, ops: int) -> dict[str, float]:
        """Milliseconds of CPU per operation: by process, their ``total``,
        and ``scaled``, the total expected on the host when its reference
        task takes ``REFERENCE_TASK_S``. Also ``reference_ms``, the window's
        median reference task time."""
        task_s = self.speed.stop()
        after = cpu_by_process(self.host)
        after["driver"] -= self.speed.cpu_s
        out = {k: (after[k] - self.before[k]) * 1000 / ops for k in after}
        out["total"] = sum(out.values())
        speed = REFERENCE_TASK_S / task_s
        out["scaled"] = out["total"] * speed ** HOST_SPEED_ELASTICITY
        out["reference_ms"] = task_s * 1000
        return out


def cpu_layers(per_op_ms: dict[str, float]) -> dict[str, float]:
    """``cpu.<process>_ms_per_op`` for the per-layer report."""
    out = {f"cpu.{k}_ms_per_op": per_op_ms[k]
           for k in ("driver", "jvm", "workers", "total")}
    out["host.reference_ms"] = per_op_ms["reference_ms"]
    return out


def cpu_line(per_op_ms: dict[str, float], op: str) -> str:
    return (f"CPU per {op}: {per_op_ms['total']:.1f} ms = driver "
            f"{per_op_ms['driver']:.1f} + JVM {per_op_ms['jvm']:.1f} + Python "
            f"workers {per_op_ms['workers']:.1f}; reference task "
            f"{per_op_ms['reference_ms']:.2f} ms (median), so "
            f"{per_op_ms['scaled']:.1f} ms at {REFERENCE_TASK_S * 1000:g} ms")


class JobCounter:
    """Spark jobs, stages and tasks launched by one request, counted through
    a job group set on the calling thread and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def count(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks


@contextmanager
def trace_planning(tracer: Tracer):
    """Record a ``plans.plan`` span around every ``plan_history`` call the
    router makes inside the ``with`` block (``history`` and ``download``
    look the function up on its module at call time)."""
    import importlib

    # the package re-exports a function named ``history``, so reach the
    # module itself through the import system
    history_mod = importlib.import_module("borsa_spark.router.history")
    plan = history_mod.plan_history

    def traced_plan(catalog, req):
        with tracer.span("plans.plan"):
            return plan(catalog, req)

    history_mod.plan_history = traced_plan
    try:
        yield
    finally:
        history_mod.plan_history = plan


def self_time_layers(tracer: Tracer, per: int) -> dict[str, float]:
    """``self.<span>_ms``: each span name's self time per request."""
    return {f"self.{name}_ms": secs * 1000.0 / max(per, 1)
            for name, secs in tracer.self_times().items()}

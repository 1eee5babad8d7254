"""tick_stream: three providers' tick backlogs drained through
``fan_in`` -> ``streaming_monotonic_gate`` -> ``candle_stream``.

Each provider's backlog is a directory of parquet files read as a file
stream with the same ``maxFilesPerTrigger``; the query runs in append mode
with a watermark and drains with ``availableNow``. About 5 % of ticks arrive
out of order and symbol popularity is Zipf. The backlog holds as many
micro-batches as the run's seconds allow at ``NOMINAL_TICKS_PER_S``.
"""

from __future__ import annotations

import math
import os
import time

import gen
import oracle
from common import Ctx, CpuWindow, Outcome, cpu_layers, cpu_line, peak_rss_mb
from harness import median, percentiles, reset_peak_rss
from session import set_up

CHUNK_TICKS = 4_000
FILES_PER_TRIGGER = 2
BATCH_TICKS = CHUNK_TICKS * FILES_PER_TRIGGER
#: about the drain rate on a 4-core host, so a run drains for about
#: ``--seconds``
NOMINAL_TICKS_PER_S = 3_200
BAR_SECONDS = 60
WATERMARK_S = 10
#: The warm-up drains three micro-batches. After a one-batch warm-up the
#: measured drain's CPU per batch spread by 0.10 between runs; after three,
#: by 0.07.
WARM_CHUNKS = 3 * FILES_PER_TRIGGER
TICK_SCHEMA = ("provider string, symbol string, ts timestamp, "
               "price decimal(38,9), volume bigint, seq bigint")


class Drain:
    """One availableNow drain of a backlog into a memory sink."""

    def __init__(self, spark, backlog: gen.TickBacklog, name: str,
                 checkpoint: str, observe_gate: bool = False):
        from pyspark.sql import functions as F

        from borsa_spark.streaming import (candle_stream, fan_in,
                                           streaming_monotonic_gate)

        sources = [
            spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(d)
            for d in backlog.dirs.values()
        ]
        gated = streaming_monotonic_gate(fan_in(sources))
        if observe_gate:
            gated = gated.observe("gate", F.count(F.lit(1)).alias("rows"))
        bars = candle_stream(gated, BAR_SECONDS,
                             watermark=f"{WATERMARK_S} seconds")
        self.spark = spark
        self.name = name
        self.writer = (bars.writeStream.format("memory").queryName(name)
                       .outputMode("append")
                       .option("checkpointLocation", checkpoint)
                       .trigger(availableNow=True))

    def run(self) -> tuple[float, list[dict]]:
        t0 = time.perf_counter()
        q = self.writer.start()
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream {self.name} failed: {q.exception()}")
        return wall, q.recentProgress

    def output(self):
        return self.spark.table(self.name).toPandas()


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0]


def run(ctx: Ctx) -> Outcome:
    data = os.path.join(ctx.work, "data")
    n_batches = max(math.ceil(ctx.seconds * NOMINAL_TICKS_PER_S / BATCH_TICKS), 4)
    backlog = gen.make_ticks(ctx.seed, os.path.join(data, "stream"),
                             n_batches * FILES_PER_TRIGGER, CHUNK_TICKS)
    warm = gen.make_ticks(ctx.seed + 1, os.path.join(data, "warm"),
                          WARM_CHUNKS, CHUNK_TICKS)
    reset_peak_rss()
    spark, setup = set_up(
        ctx.host, mount=lambda s: s,
        warm_up=lambda s: Drain(s, warm, "warm",
                                os.path.join(ctx.work, "ckpt-warm")).run())
    drain = Drain(spark, backlog, "bars", os.path.join(ctx.work, "ckpt"))
    cpu = CpuWindow(ctx.host)
    cpu.start()
    wall, progress = drain.run()
    batches = data_batches(progress)
    cpu_ms = cpu.per_op_ms(len(batches))
    rss = peak_rss_mb(ctx.host)
    lat = percentiles([p["durationMs"]["triggerExecution"] for p in batches])
    got = oracle.normalize_bars(drain.output())

    con = oracle.connect()
    ref = oracle.stream_reference(
        con, os.path.join(backlog.root, "ticks", "*", "*.parquet"),
        BATCH_TICKS, BAR_SECONDS, WATERMARK_S)
    wrong = int(not oracle.same_rows(got, ref["bars"], oracle.BAR_COLS))
    input_rows = sum(p["numInputRows"] for p in progress)
    wrong += int(input_rows != backlog.n_ticks)

    layers: dict[str, float] = {}
    if ctx.trace:
        traced = traced_pass(ctx, spark, backlog, ref, lat)
        wrong += traced.pop("wrong")
        layers.update(traced)
        layers.update(progress_layers(batches))
    layers.update({
        "session.start_s": setup.session_s,
        "setup.warmup_s": setup.warmup_s,
        "streaming.ticks_per_s": backlog.n_ticks / wall,
        **cpu_layers(cpu_ms),
    })
    lines = [
        setup.line(),
        lat.line("micro-batch triggerExecution", "ms") + " in order: " + ",".join(
            str(p["durationMs"]["triggerExecution"]) for p in batches),
        f"{backlog.n_ticks} ticks in {len(batches)} batches of {BATCH_TICKS} "
        f"drained in {wall:.2f} s ({backlog.n_ticks / wall:.0f} ticks/s); "
        f"{len(got)} bars "
        f"(reference {len(ref['bars'])}); gate kept {ref['gated_ticks']}, "
        f"watermark dropped {ref['watermark_dropped']}",
        cpu_line(cpu_ms, "micro-batch"),
        f"backlog checksum {backlog.checksum}",
    ]
    return Outcome(
        attempted=len(batches), failed=0, wrong=wrong,
        e2e={
            "setup_s": setup.total_s,
            "scaled_cpu_ms_per_op": cpu_ms["scaled"],
            "peak_rss_mb": rss,
        },
        layers=layers, lines=lines)


def progress_layers(batches: list[dict]) -> dict[str, float]:
    """Per-batch durations and state-store figures from ``recentProgress``."""
    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in batches])

    last = batches[-1]["stateOperators"]
    return {
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.state_commit_ms": median([
            sum(op.get("commitTimeMs", 0) for op in p["stateOperators"])
            for p in batches]),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in last),
        "streaming.state_mem_bytes": sum(op["memoryUsedBytes"] for op in last),
    }


def traced_pass(ctx: Ctx, spark, backlog, ref: dict, before) -> dict:
    """Drain the backlog again with the gate's output counted, and compare
    the gate and watermark counts with the reference; then drain it once
    more as the untraced run does.

    The stream opens no spans: the ``observe`` on the gate's output is the
    traced run's only change to the query, so ``trace.overhead_ms`` is the
    cost of that observer per micro-batch: the observed drain's p50 minus
    the mean p50 of the plain drains before and after it."""
    drain = Drain(spark, backlog, "bars_traced",
                  os.path.join(ctx.work, "ckpt-traced"), observe_gate=True)
    _, progress = drain.run()
    batches = data_batches(progress)
    gate_rows = sum(p["observedMetrics"]["gate"]["rows"] for p in batches)
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress for op in p["stateOperators"])
    traced = percentiles([p["durationMs"]["triggerExecution"] for p in batches])
    _, after = Drain(spark, backlog, "bars_after",
                     os.path.join(ctx.work, "ckpt-after")).run()
    after_p50 = percentiles([p["durationMs"]["triggerExecution"]
                             for p in data_batches(after)]).p50
    return {
        "trace.overhead_ms": traced.p50 - (before.p50 + after_p50) / 2,
        "streaming.gate_keep_ratio": gate_rows / backlog.n_ticks,
        "streaming.watermark_dropped": dropped,
        "wrong": int(gate_rows != ref["gated_ticks"])
        + int(dropped != ref["watermark_dropped"]),
    }

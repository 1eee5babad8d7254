"""Top-level streaming API: `stream_updates` + the `stream_quotes` /
`stream_candles` / `stream_options` wrappers (reference Borsa::stream_*,
borsa/src/router/stream.rs:377-521 over the generic engine at :16-326).

Ties the pieces together end-to-end:
planner (grouping, eligibility, strict rejection, primary assignment) ->
one supervisor+controller per plan -> per-provider Spark streaming queries,
each reading the provider's stream source, filtered to the session's
allow-set (P6), gated monotonic (T8, when enforced), writing APPEND into a
shared sink directory — the Spark-native fan-in (T1): the merged stream IS
the sink, readable as a batch table or a downstream readStream.

Why sink-level fan-in instead of a single union query: failover/preemption
(T4-T7) must start/stop *individual provider* sources at runtime; a static
union query cannot drop a member. One query per provider session, all
appending to one location, preserves both the supervision semantics and a
single merged consumer view.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from borsa_spark.errors import BorsaSparkError, ProviderTimeout
from borsa_spark.router.history import _BIG  # noqa: F401 (doc cross-ref)
from borsa_spark.sources.provider import Catalog
from borsa_spark.streaming.controller import StreamController, launch_plan
from borsa_spark.streaming.gate import GATE_TTL_MS, streaming_monotonic_gate
from borsa_spark.streaming.planner import StreamInstrument, plan_stream


@dataclass
class StreamHandle:
    """Graceful shutdown handle (T10 — borsa-core/src/stream.rs:54-160)."""

    controllers: list[StreamController]
    sink_path: str
    spark: SparkSession
    schema: object = None
    session_paths: list[str] = field(default_factory=list)

    def output(self) -> DataFrame:
        """The merged fan-in as a batch view of everything delivered so far.

        Each provider session owns a sink SUBDIRECTORY (session_*): a
        FileStreamSink keeps a per-query `_spark_metadata` commit log, and
        two concurrent queries appending to one directory race on batch
        ids (observed: "Race while writing batch 0" the moment a plan has
        two live sessions, e.g. per-symbol primary mode). Reading the list
        of session dirs unions them through each query's own commit log —
        same merged view, no shared-log write point."""
        live = [p for p in self.session_paths if os.path.isdir(p)]
        if not live:
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), self.schema
            )
        return self.spark.read.schema(self.schema).parquet(*live)

    def process_available(self, timeout_s: int = 120) -> None:
        """Drain all currently-available source data (availableNow sessions)."""
        for ctl in self.controllers:
            for q in list(ctl.sessions.values()):
                if hasattr(q, "awaitTermination"):
                    q.awaitTermination(timeout_s)

    def stop(self) -> None:
        for ctl in self.controllers:
            ctl.shutdown()

    def progress(self) -> list[dict]:
        """Per-session lastProgress snapshots (batch id, input rows, state
        rows/memory per stateful operator) — the observability surface a
        production stream needs for state-growth and lag alerts."""
        out = []
        for ctl in self.controllers:
            for pid, q in ctl.sessions.items():
                lp = getattr(q, "lastProgress", None)
                if not lp:
                    continue
                out.append(
                    {
                        "provider": ctl.providers[pid],
                        "batch_id": lp.get("batchId"),
                        "num_input_rows": lp.get("numInputRows"),
                        "state": [
                            {
                                "rows": so.get("numRowsTotal"),
                                "mem_bytes": so.get("memoryUsedBytes"),
                            }
                            for so in lp.get("stateOperators", [])
                        ],
                    }
                )
        return out

    @property
    def ok(self) -> bool:
        return all(
            ctl.initial_result is not None and ctl.initial_result[0]
            for ctl in self.controllers
        )


def stream_updates(
    spark: SparkSession,
    catalog: Catalog,
    instruments: list[StreamInstrument],
    sink_dir: str,
    capability: str = "stream_quotes",
    enforce_monotonic: bool = True,
    dedup_within_watermark: str | None = None,
    trigger_available_now: bool = True,
    min_backoff_ms: int = 500,
    max_backoff_ms: int = 30_000,
) -> StreamHandle:
    """Plan + supervise + run a multi-provider update stream.

    The generic engine behind stream_quotes / stream_candles /
    stream_options (stream.rs:16-326 + the StreamUpdateKind adapters,
    streaming/mod.rs:72-130): the machinery is update-type-agnostic, only
    the capability (and therefore each source's table schema — QUOTE /
    CANDLE / OPTION _UPDATES) changes. Each Source must expose a
    ``capability`` table entry that is a zero-arg factory returning a
    *streaming* DataFrame in the matching shape.
    ``stream_enforce_monotonic_timestamps`` maps to ``enforce_monotonic``
    (borsa-types/src/config.rs:145-149, default on); for options the gate
    keys on the UNDERLYING symbol, matching stream_symbol(). With
    ``trigger_available_now=False`` a symbol's gate state expires after
    ``GATE_TTL_MS`` without an update (the reference's reaper,
    filters.rs:16-36); an ``availableNow`` drain gates with no timeout, so
    that it ends once the data is drained.

    ``dedup_within_watermark`` (e.g. ``"1 hour"``) is the comparison mode
    the reference's T8 semantics note contrasts with the gate
    (filters.rs:12-74 note): replay protection via
    `dropDuplicatesWithinWatermark` on (symbol, ts) instead of per-key
    monotonicity. The difference is observable with out-of-order data — an
    older-but-new update is KEPT by dedup mode (only exact re-deliveries
    drop) but DROPPED by the monotonic gate. Dedup state is bounded by the
    watermark horizon. Mutually exclusive with ``enforce_monotonic``.
    """
    if dedup_within_watermark is not None and enforce_monotonic:
        raise ValueError(
            "dedup_within_watermark replaces the monotonic gate; pass "
            "enforce_monotonic=False"
        )
    plans = plan_stream(catalog, instruments, capability)

    os.makedirs(sink_dir, exist_ok=True)
    controllers: list[StreamController] = []
    schema_holder: dict = {}
    session_paths: list[str] = []
    qid = [0]

    def make_start_fn(plan):
        def start_fn(provider: str, symbols: tuple[str, ...]):
            source = catalog.get(provider)
            df = source.table(capability)
            if not df.isStreaming:
                raise ProviderTimeout(
                    f"{provider}: {capability} table is not streaming",
                    connector=provider,
                )
            df = df.filter(F.col("symbol").isin(list(symbols)))  # P6
            if enforce_monotonic:
                # The reference's 24 h reaper (filters.rs:16-36) for
                # continuous sessions; a processing-time timeout would keep
                # an availableNow drain from ending.
                df = streaming_monotonic_gate(
                    df, key="symbol",
                    ttl_ms=None if trigger_available_now else GATE_TTL_MS,
                )
            elif dedup_within_watermark is not None:
                from borsa_spark.streaming.fanin import streaming_exact_dedup

                df = streaming_exact_dedup(
                    df, ["symbol", "ts"],
                    watermark=dedup_within_watermark,
                )
            schema_holder.setdefault("schema", df.schema)
            qid[0] += 1
            # One subdir per session: concurrent FileStreamSink queries
            # must not share a `_spark_metadata` log (see StreamHandle.
            # output); failover restarts get a fresh dir + checkpoint.
            path = os.path.join(sink_dir, f"session_{provider}_{qid[0]}")
            session_paths.append(path)
            writer = (
                df.writeStream.format("parquet")
                .option("path", path)
                .option(
                    "checkpointLocation",
                    os.path.join(sink_dir, f"_ckpt_{provider}_{qid[0]}"),
                )
                .outputMode("append")
            )
            if trigger_available_now:
                writer = writer.trigger(availableNow=True)
            return writer.start()

        return start_fn

    def stop_fn(name, q):
        # stop() only SIGNALS the query; in-flight micro-batch tasks may
        # still be committing state-store deltas when it returns, and a
        # caller that deletes the checkpoint/sink right after shutdown
        # (examples, tests, tempdir contexts) races those writes
        # (round-10: example 17's tempdir cleanup hit a mid-commit
        # HDFSBackedStateStore). Await termination — bounded, and
        # swallowing the query's own exception: a deliberate shutdown of
        # an already-failed session must not raise out of stop().
        if q.isActive:
            q.stop()
        try:
            q.awaitTermination(30)
        except Exception:  # noqa: BLE001 — failure surfaced elsewhere
            pass

    for plan in plans:
        controllers.append(
            launch_plan(
                plan,
                make_start_fn(plan),
                stop_fn=stop_fn,
                min_backoff_ms=min_backoff_ms,
                max_backoff_ms=max_backoff_ms,
            )
        )

    handle = StreamHandle(
        controllers=controllers,
        sink_path=sink_dir,
        spark=spark,
        schema=schema_holder.get("schema"),
        session_paths=session_paths,
    )
    if not handle.ok:
        errors = [
            ctl.initial_result[1]
            for ctl in controllers
            if ctl.initial_result and not ctl.initial_result[0]
        ]
        handle.stop()
        raise errors[0] if errors else BorsaSparkError("stream startup failed")
    return handle


def stream_quotes(
    spark: SparkSession,
    catalog: Catalog,
    instruments: list[StreamInstrument],
    sink_dir: str,
    **kw,
) -> StreamHandle:
    """Borsa::stream_quotes (stream.rs:377-406): tick updates."""
    return stream_updates(
        spark, catalog, instruments, sink_dir,
        capability="stream_quotes", **kw,
    )


def stream_candles(
    spark: SparkSession,
    catalog: Catalog,
    instruments: list[StreamInstrument],
    sink_dir: str,
    **kw,
) -> StreamHandle:
    """Borsa::stream_candles (stream.rs:408-478): provider bar streams in
    CANDLE_UPDATES shape (is_final per provider). For Spark-computed bars
    from ticks, compose `streaming.candle_stream` on a tick stream
    instead."""
    return stream_updates(
        spark, catalog, instruments, sink_dir,
        capability="stream_candles", **kw,
    )


def stream_options(
    spark: SparkSession,
    catalog: Catalog,
    instruments: list[StreamInstrument],
    sink_dir: str,
    **kw,
) -> StreamHandle:
    """Borsa::stream_options (stream.rs:480-521): OPTION_UPDATES streams,
    gated per UNDERLYING symbol (streaming/mod.rs:44-56)."""
    return stream_updates(
        spark, catalog, instruments, sink_dir,
        capability="stream_options", **kw,
    )

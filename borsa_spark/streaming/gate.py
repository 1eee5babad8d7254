"""Streaming monotonic gate (T8) — keyed state over a live stream.

Semantics (borsa/src/router/streaming/filters.rs:12-74): per symbol, drop an
update strictly older than the high-water-mark timestamp; equal allowed;
first always passes; entries expire after 24h idle (reaper :16-36); state is
dropped when a session ends (:65-73) so a restarted provider starts fresh.

Spark mapping: ``flatMapGroupsWithState`` keyed by symbol, in the JVM
(``MonotonicGate.java``, compiled on first use by ``borsa_spark.jvm``), so no
Python worker touches a micro-batch. The state is one long per symbol: the
HWM in microseconds. This is NOT ``dropDuplicatesWithinWatermark`` (which
dedups exact keys) nor a watermark filter (which drops by global delay): the
rule is *per-key monotonicity with equals allowed*, and the reference applies
it in arrival order — so the gate processes each key's micro-batch rows in
``seq`` order. The rule itself is the static ``MonotonicGate.keep``, which
the Spark function calls and the tests drive through Py4J. TTL via
ProcessingTimeTimeout: a timed-out key's state is removed and nothing is
emitted.

Opening the gate also routes the session's ``file:`` checkpoints through
``LocalCheckpointFileManager.java`` (see ``borsa_spark.jvm.load``): the
offset and commit logs and the gate's state deltas are written with
``java.nio``, with the checksum files Hadoop's local file system would
write, and no forked process.

A checkpoint written by the earlier Pandas gate holds another stateful
operator with another state layout. Spark refuses to restart from it
(``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``, naming both
operators): restart such a stream from a fresh checkpoint.

At scale: state is one long per symbol — millions of symbols fit trivially;
the shuffle is keyed by symbol (matches the natural stream partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from borsa_spark import jvm

GATE_TTL_MS = 24 * 60 * 60 * 1000  # filters.rs ENTRY_TTL = 24h


def streaming_monotonic_gate(
    updates: DataFrame,
    key: str = "symbol",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Apply the drop-older-keep-equal gate to a streaming DataFrame.

    ``updates`` carries event time in ``ts`` and the fan-in sequence
    number in ``seq``, which fixes intra-batch arrival order.

    ``ttl_ms`` enables the reference's 24h idle-state reaper
    (pass GATE_TTL_MS) for CONTINUOUS production streams. Leave None for
    bounded runs: ProcessingTimeTimeout makes every trigger run a batch to
    check for timeouts, so an availableNow drain does not terminate once the
    data is drained.
    """
    if ttl_ms is not None and ttl_ms <= 0:
        raise ValueError(f"ttl_ms must be positive, got {ttl_ms}")
    spark = updates.sparkSession
    gate = jvm.monotonic_gate(spark)
    jdf = gate.apply(updates._jdf, key, -1 if ttl_ms is None else int(ttl_ms))
    return DataFrame(jdf, spark)

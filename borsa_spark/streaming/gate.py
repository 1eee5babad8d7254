"""Streaming monotonic gate (T8) — keyed state over a live stream.

Semantics (borsa/src/router/streaming/filters.rs:12-74): per symbol, drop an
update strictly older than the high-water-mark timestamp; equal allowed;
first always passes; entries expire after 24h idle (reaper :16-36); state is
dropped when a session ends (:65-73) so a restarted provider starts fresh.

Spark mapping: ``applyInPandasWithState`` keyed by symbol holding one i64
(the HWM, microseconds). This is NOT ``dropDuplicatesWithinWatermark``
(which dedups exact keys) nor a watermark filter (which drops by global
delay): the rule is *per-key monotonicity with equals allowed*, and the
reference applies it in arrival order — so the gate processes each
micro-batch in ``seq`` order within a key. TTL via ProcessingTimeTimeout.

At scale: state is one long per symbol — millions of symbols fit trivially;
the shuffle is keyed by symbol (matches the natural stream partitioning).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GATE_TTL_MS = 24 * 60 * 60 * 1000  # filters.rs ENTRY_TTL = 24h


def _gate_fn(out_schema_cols: list[str], ttl_ms: int | None):
    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        hwm = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values("seq", kind="stable")
            ts = pdf["ts"].astype("int64").to_numpy()  # ns since epoch
            if len(ts) == 0:
                continue
            # Vectorized drop-older-keep-equal: the HWM before row i is
            # max(initial_hwm, ts[:i].max()) — a shifted cumulative max.
            init = hwm if hwm is not None else np.iinfo(np.int64).min
            running = np.maximum.accumulate(
                np.concatenate(([init], ts))
            )
            keep = ts >= running[:-1]
            hwm = int(running[-1])
            out = pdf[keep]
            if len(out):
                yield out[out_schema_cols]
        if hwm is not None:
            state.update((int(hwm),))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return fn


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
    bounded runs: ProcessingTimeTimeout makes an availableNow/once trigger
    wait on wall-clock timeouts instead of terminating after the data is
    drained (measured: a 4s drain becomes an un-terminating query).
    """
    cols = updates.columns
    schema = updates.schema
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return updates.groupBy(key).applyInPandasWithState(
        _gate_fn(cols, ttl_ms),
        outputStructType=schema,
        stateStructType="hwm long",
        outputMode="append",
        timeoutConf=timeout,
    )

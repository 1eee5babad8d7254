"""First-class Spark integration for the live-provider layer: a PySpark 4
Python Data Source, so provider data mounts as ``spark.read.format("borsa_history")``
and ``spark.readStream.format("borsa_quote_stream")`` instead of a
driver-built DataFrame.

Reference shape: borsa-yfinance/src/lib.rs (HistoryProvider/QuoteProvider
impls over one client) and adapter.rs:352-382 (YfStream::start — websocket
stream with `StreamMethod::WebsocketWithFallback`, a polling fallback when
the socket cannot be established). This module is the Spark-native mount
point for that layer:

- **Batch** (`BorsaHistoryDataSource`): one ``InputPartition`` per symbol,
  so a 10k-symbol universe fans out as 10k independent partition reads
  executed ON EXECUTORS — the driver never sees a row. Each partition read
  yields Arrow ``RecordBatch``es (zero-copy into Spark's columnar path,
  no per-row Python). At 1000 executors this is the right scale shape:
  fetch parallelism == partition count, and Spark's scheduler handles
  stragglers/retries per symbol instead of one driver loop.
- **Streaming** (`BorsaQuoteStreamDataSource`): a
  ``SimpleDataSourceStreamReader`` whose offset is a plain ``{"seq": n}``
  dict over a totally-ordered tick log. ``readBetweenOffsets`` replays any
  committed range deterministically, which is what gives Structured
  Streaming exactly-once over this source. The reference's
  WebsocketWithFallback becomes: try the socket transport at
  ``initialOffset`` time; on transport failure fall back to polling and
  record ``"method": "polling"`` in the offset so the degradation is
  visible in every StreamingQueryProgress event, not swallowed.

The transport behind both is pluggable exactly like rest.py's: the gate
runs a parquet fixture feed (options are plain strings, so the fixture dir
rides in ``option("path", ...)``); production implements the same
``read_symbol`` contract over HTTP. Everything downstream — partition
planning, Arrow batching, offset bookkeeping, fallback — is transport-
independent and is what these tests pin.
"""

from __future__ import annotations

import os
from typing import Iterator, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from borsa_spark.errors import InvalidArgError, ProviderError

#: Canonical tick schema served by both sources. ts is emitted as epoch
#: micros (BIGINT) per the repo-wide cross-engine timestamp convention.
TICK_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ]
)

_ARROW_TICK_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("ts_us", pa.int64()),
        ("price", pa.float64()),
        ("seq", pa.int64()),
    ]
)


def _events_path(path: str) -> str:
    """`path` is the fixture dir (sf dir) or a direct parquet file."""
    if path.endswith(".parquet"):
        return path
    return os.path.join(path, "events.parquet")


def _read_symbol_ticks(path: str, symbol: str) -> pa.Table:
    """The fixture feed: the events table as a tick log (symbol :=
    event_type, price := value, seq := event_id — same mapping the whole
    query registry uses). The symbol predicate is handed to pyarrow as a
    parquet filter, so row groups that cannot contain the symbol are
    pruned at the file footer — the per-partition read is selective I/O,
    not scan-then-filter."""
    tbl = pq.read_table(
        _events_path(path),
        columns=["event_type", "ts", "value", "event_id"],
        filters=[("event_type", "=", symbol)],
    )
    return pa.table(
        {
            "symbol": tbl.column("event_type"),
            # normalize the unit before the int cast so second/nano files
            # still emit epoch MICROS
            "ts_us": pc.cast(
                pc.cast(tbl.column("ts"), pa.timestamp("us")), pa.int64()
            ),
            "price": tbl.column("value"),
            "seq": tbl.column("event_id"),
        },
        schema=_ARROW_TICK_SCHEMA,
    )


def _discover_symbols(path: str) -> list[str]:
    """``symbols=auto``: resolve the symbol universe from the feed itself
    (production analog: an index-membership / screener endpoint). Reads
    only the symbol column's dictionary pages — cheap even on large
    fixtures — and happens ONCE at planning time on the driver, so the
    per-symbol partition fan-out still runs on executors."""
    col = pq.read_table(_events_path(path), columns=["event_type"])
    return sorted(set(col.column("event_type").to_pylist()))


def _parse_symbols(options: dict) -> list[str]:
    raw = options.get("symbols", "")
    if raw.strip().lower() == "auto":
        path = options.get("path", "")
        if not path:
            raise InvalidArgError("symbols=auto requires option 'path'")
        return _discover_symbols(path)
    symbols = [s.strip() for s in raw.split(",") if s.strip()]
    if not symbols:
        raise InvalidArgError(
            "borsa data source requires option 'symbols' (csv, non-empty, "
            "or 'auto' to discover the universe from the feed)"
        )
    return symbols


class _SymbolPartition(InputPartition):
    def __init__(self, symbol: str):
        self.symbol = symbol


class _HistoryReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path", "")
        if not self.path:
            raise InvalidArgError("borsa_history requires option 'path'")
        self.symbols = _parse_symbols(options)

    def partitions(self) -> list[InputPartition]:
        # One partition per symbol: fetch parallelism == symbol count, and
        # a failed symbol retries alone (Spark task retry) instead of
        # poisoning a shared loop.
        return [_SymbolPartition(s) for s in self.symbols]

    def read(self, partition: _SymbolPartition) -> Iterator[pa.RecordBatch]:
        # Executor-side: yields Arrow batches straight into Spark's
        # columnar ingest — no per-row Python, no driver round-trip.
        yield from _read_symbol_ticks(self.path, partition.symbol).to_batches()


class BorsaHistoryDataSource(DataSource):
    """``spark.read.format("borsa_history").option("path", sf_dir)
    .option("symbols", "a,b,c").load()`` — per-symbol partitioned
    provider-history scan (lib.rs HistoryProvider, Spark-mounted)."""

    @classmethod
    def name(cls) -> str:
        return "borsa_history"

    def schema(self) -> T.StructType:
        return TICK_SCHEMA

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return _HistoryReader(self.options)


# ---------------------------------------------------------------------------
# Streaming: quote ticks with websocket->polling fallback semantics
# ---------------------------------------------------------------------------


class WebsocketUnavailable(ProviderError):
    """Raised by the socket transport when a live socket cannot be
    established (adapter.rs maps this from the yfinance stream builder).
    In this container there is no network egress, so the stub socket
    transport always raises — which is exactly the path
    WebsocketWithFallback exists to absorb."""


def _try_websocket(options: dict) -> None:
    # Production: open the socket here and return a handle. The fixture
    # build has no socket; honour an override hook for tests that want the
    # "socket came up" branch.
    if options.get("_force_websocket_ok", "").lower() == "true":
        return
    raise WebsocketUnavailable(
        "websocket transport unavailable", connector="borsa_stream"
    )


class _QuoteStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"seq": n, "method": ...} over the totally-ordered tick
    log (ordered by (ts_us, seq); seq is globally unique so the order is
    total and replay is deterministic)."""

    def __init__(self, options: dict):
        self.path = options.get("path", "")
        if not self.path:
            raise InvalidArgError("borsa_quote_stream requires option 'path'")
        self.symbols = _parse_symbols(options)
        self.batch_rows = int(options.get("batch_rows", "500"))
        self.method = options.get("method", "websocket_with_fallback")
        if self.method not in ("websocket", "polling", "websocket_with_fallback"):
            raise InvalidArgError(f"unknown stream method {self.method!r}")
        self._options = dict(options)
        self._log: pa.Table | None = None
        self._resolved: str | None = None

    # -- transport resolution (adapter.rs:364-368 WebsocketWithFallback) --
    def _resolve_method(self) -> str:
        if self._resolved is None:
            if self.method == "polling":
                self._resolved = "polling"
            else:
                try:
                    _try_websocket(self._options)
                    self._resolved = "websocket"
                except WebsocketUnavailable:
                    if self.method == "websocket":
                        raise  # explicit websocket: fail loudly, no fallback
                    self._resolved = "polling"
        return self._resolved

    def _ticks(self) -> pa.Table:
        if self._log is None:
            parts = [_read_symbol_ticks(self.path, s) for s in self.symbols]
            log = pa.concat_tables(parts)
            self._log = log.sort_by([("ts_us", "ascending"), ("seq", "ascending")])
        return self._log

    def initialOffset(self) -> dict:
        return {"seq": 0, "method": self._resolve_method()}

    def _slice_rows(self, start: int, end: int) -> Iterator[Tuple]:
        log = self._ticks()
        chunk = log.slice(start, max(0, end - start))
        cols = [chunk.column(n).to_pylist() for n in ("symbol", "ts_us", "price", "seq")]
        return iter(zip(*cols))

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        s = int(start.get("seq", 0))
        total = self._ticks().num_rows
        e = min(total, s + self.batch_rows)
        end = {"seq": e, "method": start.get("method", self._resolve_method())}
        return self._slice_rows(s, e), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # Deterministic replay of a committed range — the exactly-once
        # contract. The fixture log is immutable parquet so this is exact;
        # a production feed journals raw socket frames to get the same.
        return self._slice_rows(int(start.get("seq", 0)), int(end.get("seq", 0)))


class BorsaQuoteStreamDataSource(DataSource):
    """``spark.readStream.format("borsa_quote_stream")...`` — S9 quote
    tick stream as a real Structured Streaming source with replayable
    offsets and visible websocket->polling degradation."""

    @classmethod
    def name(cls) -> str:
        return "borsa_quote_stream"

    def schema(self) -> T.StructType:
        return TICK_SCHEMA

    def simpleStreamReader(self, schema: T.StructType) -> SimpleDataSourceStreamReader:
        return _QuoteStreamReader(self.options)


def register_datasources(spark) -> None:
    """Idempotent per-session registration of the three provider-layer
    formats: ``borsa_history``, ``borsa_quote_stream`` and
    ``borsa_tick_sink``."""
    spark.dataSource.register(BorsaHistoryDataSource)
    spark.dataSource.register(BorsaQuoteStreamDataSource)
    spark.dataSource.register(BorsaTickSinkDataSource)


# ---------------------------------------------------------------------------
# Sink: exactly-once micro-batch writer with a commit manifest
# ---------------------------------------------------------------------------


class _TickCommitMessage(WriterCommitMessage):
    def __init__(self, file: str, rows: int):
        self.file = file
        self.rows = rows


class _TickStreamWriter(DataSourceStreamWriter):
    """Per-task parquet part files + a per-batch MANIFEST commit — the
    classic two-phase commit a real sink (object store, warehouse table)
    needs for exactly-once:

    - ``write`` (executor): stage rows to ``part-{batch}-{uuid}.parquet``
      under ``_staging/`` and return (path, rowcount) as the commit message.
    - ``commit`` (driver): move every staged part into the data dir and
      write ``manifest-{batch}.json`` LAST — readers treat a part file
      without a manifest entry as invisible, so a crash between moves
      leaves garbage, never phantom rows.
    - ``abort``: delete staged parts; a retried batch re-stages cleanly.
    """

    def __init__(self, options: dict):
        self.path = options.get("path", "")
        if not self.path:
            raise InvalidArgError("borsa_tick_sink requires option 'path'")

    def write(self, iterator) -> _TickCommitMessage:
        import json as _json
        import uuid

        from pyspark import TaskContext

        rows = list(iterator)
        part = f"part-{TaskContext.get().partitionId()}-{uuid.uuid4().hex}.parquet"
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fpath = os.path.join(staging, part)
        if rows:
            tbl = pa.table(
                {
                    "symbol": [r[0] for r in rows],
                    "ts_us": [r[1] for r in rows],
                    "price": [r[2] for r in rows],
                    "seq": [r[3] for r in rows],
                },
                schema=_ARROW_TICK_SCHEMA,
            )
            pq.write_table(tbl, fpath)
        else:
            fpath = ""
        return _TickCommitMessage(fpath, len(rows))

    def commit(self, messages, batchId: int) -> None:
        import json as _json
        import shutil

        manifest = os.path.join(self.path, f"manifest-{batchId}.json")
        if os.path.exists(manifest):
            # Replayed batch (restart raced the checkpoint): already
            # committed — drop the re-staged parts, keep the first commit.
            self.abort(messages, batchId)
            return
        entries = []
        for m in messages:
            if m is None or not m.file:
                continue
            final = os.path.join(self.path, os.path.basename(m.file))
            shutil.move(m.file, final)
            entries.append({"file": os.path.basename(final), "rows": m.rows})
        with open(manifest, "w") as f:
            _json.dump({"batch": batchId, "parts": entries}, f)

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is not None and m.file and os.path.exists(m.file):
                os.remove(m.file)


class BorsaTickSinkDataSource(DataSource):
    """``df.writeStream.format("borsa_tick_sink").option("path", dir)`` —
    the S13 DataFrame sink generalized to a transactional streaming sink."""

    @classmethod
    def name(cls) -> str:
        return "borsa_tick_sink"

    def schema(self) -> T.StructType:
        return TICK_SCHEMA

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        return _TickStreamWriter(self.options)


def read_tick_sink(spark, path: str):
    """Manifest-aware read-back: only parts named in a manifest are
    visible (the exactly-once read side of the two-phase commit)."""
    import glob as _glob
    import json as _json

    files = []
    for mf in sorted(_glob.glob(os.path.join(path, "manifest-*.json"))):
        with open(mf) as f:
            doc = _json.load(f)
        files.extend(os.path.join(path, e["file"]) for e in doc["parts"])
    if not files:
        return spark.createDataFrame([], TICK_SCHEMA)
    return spark.read.schema(TICK_SCHEMA).parquet(*files)

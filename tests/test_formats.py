"""Source-format loaders: explicit-schema CSV/JSON round-trips and the
rate-source synthetic stream."""

from __future__ import annotations

import pytest

from borsa_spark.sources.formats import (
    load_candles_csv,
    load_candles_json,
    rate_quote_stream,
)
from tests.conftest import candle, make_candles


class TestFormatLoaders:
    def test_csv_round_trip(self, spark, tmp_path):
        df = make_candles(spark, [candle("provA", sec=0, o=1.5, volume=10),
                                  candle("provA", sec=86_400, o=2.5, seq=1)])
        path = str(tmp_path / "candles_csv")
        df.write.option("header", "true").csv(path)
        back = load_candles_csv(spark, path)
        # explicit schema, no inference (CSV reads force nullable=True, so
        # compare names and types)
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ]
        rows = back.orderBy("ts").collect()
        assert [float(r.open) for r in rows] == [1.5, 2.5]
        assert rows[0].volume == 10 and rows[1].volume is None

    def test_json_round_trip_with_missing_fields(self, spark, tmp_path):
        df = make_candles(spark, [candle("provA", sec=0, o=3.0)])
        path = str(tmp_path / "candles_json")
        # drop a nullable column on write: loader must fill it with null
        df.drop("close_unadj").write.json(path)
        back = load_candles_json(spark, path)
        row = back.collect()[0]
        assert float(row.open) == 3.0 and row.close_unadj is None

    def test_rate_stream_shape_and_run(self, spark, tmp_path):
        stream = rate_quote_stream(spark, ["AAPL", "MSFT"], rows_per_second=50)
        assert stream.isStreaming
        assert [f.name for f in stream.schema.fields] == [
            "symbol", "ts", "price", "seq",
        ]
        q = (
            stream.writeStream.format("memory")
            .queryName("rate_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
            .start()
        )
        try:
            import time

            deadline = time.time() + 30
            while time.time() < deadline:
                rows = spark.table("rate_out").collect()
                if len(rows) >= 4:
                    break
                time.sleep(0.5)
            assert len(rows) >= 4
            # round-robin symbols, deterministic prices
            by_seq = {r.seq: r for r in rows}
            assert by_seq[0].symbol == "AAPL" and by_seq[1].symbol == "MSFT"
            assert by_seq[1].price == 100.0 + 0.07
        finally:
            q.stop()


class TestLiveFacade:
    def test_rate_feed_through_stream_quotes_facade(self, spark, tmp_path):
        """The full live path with zero infrastructure: rate-source feed ->
        planner -> supervised per-provider query -> allow filter -> gate ->
        parquet sink fan-in. The continuous session's gate has the
        reference's idle-state timeout."""
        import time

        from borsa_spark.router.stream import stream_quotes
        from borsa_spark.sources.provider import Catalog, Source
        from borsa_spark.streaming import StreamInstrument as I

        cat = Catalog().register(
            Source(
                name="live",
                tables={
                    "stream_quotes": lambda: rate_quote_stream(
                        spark, ["AAPL", "MSFT"], rows_per_second=200
                    )
                },
            )
        )
        handle = stream_quotes(
            spark,
            cat,
            [I("AAPL")],
            sink_dir=str(tmp_path / "live_sink"),
            trigger_available_now=False,  # continuous micro-batches
        )
        assert handle.ok
        try:
            deadline = time.time() + 60
            rows = []
            while time.time() < deadline:
                try:
                    rows = handle.output().collect()
                except Exception:  # noqa: BLE001 - sink not yet materialized
                    rows = []
                if len(rows) >= 5:
                    break
                time.sleep(1)
            assert len(rows) >= 5
            assert {r.symbol for r in rows} == {"AAPL"}  # MSFT pruned (P6)
            # monotonic gate held: per-symbol ts never decreases in seq order
            ordered = sorted(rows, key=lambda r: r.seq)
            assert all(
                a.ts <= b.ts for a, b in zip(ordered, ordered[1:])
            )
            # a continuous session's gate reaps idle symbols (GATE_TTL_MS)
            plans = [q._jsq.explainInternal(True)
                     for ctl in handle.controllers
                     for q in ctl.sessions.values()]
            assert plans
            assert all("ProcessingTimeTimeout" in p for p in plans)
        finally:
            handle.stop()

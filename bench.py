"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1). Two output channels (round 10 — the
single full-JSON line outgrew the driver's ~2000-char stdout tail and
r8/r9 artifacts recorded parsed:null):

- stdout: ONE compact JSON line that always fits the tail capture —
  {"metric": ..., "value": total_sec, "unit": "sec", "tier2_total":
   ..., "probe_s": ..., "total_ratio": ..., "sf": ..., "n_queries":
   ..., "n_tier2": ..., "detail": "bench_out.json"}
- bench_out.json (repo root, GITIGNORED as of round 11): the full
  payload — per-query walls ("queries", "tier2_queries") and
  "ratios", the data BASELINE.md's regression rule reads. The file is
  a scratch output so the driver's own post-round invocation never
  dirties HEAD (round-10 verdict finding #2); the canonical run of
  each round is committed by the builder as BENCH_FULL_r{N}.json (a
  verbatim copy of this file).

Each query is executed to completion through the noop sink
(`df.write.format("noop")`), which materializes EVERY output column.
count() — the pre-round-8 sink — is wrong for projection-shaped queries:
Catalyst prunes columns count() doesn't need, so a pure-scan operator
like a regex text extraction would be optimized away and the "wall" would
measure an empty scan.

Host-speed calibration (round 8): the shared host's wall-clock band for
the identical binary is 22-32s (~1.45x) — totals stopped being usable
round-over-round evidence (r6->r7 artifacts differed 24% on
byte-untouched plans; two judge re-runs confirmed host shift). The
harness therefore runs a FIXED pure-JVM probe first (generated rows,
codegen hash + shuffle agg — no disk, no Python, no testdata
dependence) and reports every query as wall AND wall/probe ratio. The
regression rule (BASELINE.md) reads the RATIOS: a query whose ratio
moves >1.3x against a flat field is a real plan regression; a round
where walls move together while ratios hold is the host.

Round 12 adds a SECOND probe leg (`arrow_probe`: a fixed mapInPandas
round-trip) because the JVM probe is blind to the Python-worker +
Arrow-serialization path where the tier-2 heavy hitters spend their
walls — three consecutive rounds needed a probe-vs-field adjudication
for exactly that. The artifact carries both legs plus a blended
(geometric-mean) denominator; adjudicate per-query moves against the
leg matching the query's execution path.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: relational core, time-series ops, dedup/similarity pipeline.
HEADLINE = [
    "rel_q1_pricing_summary",
    "rel_q3_top_orders",
    "rel_q5_region_revenue",
    "rel_q6_revenue_filter",
    "hist_e2e_daily_merge",
    "a2_ohlc_daily",
    "a4_ohlc_hourly",
    "j1_merge_first_wins",
    "a9_attribution_spans",
    "p7_monotonic_gate",
    "s3_latest_quote",
    "a5_tz_daily",
    "f1_exact_dedup",
    "f2_text_stats",
    "f32_intra_doc_repetition",
    "f7_minhash_dedup_pairs",
    "f8_simhash",
    "f10_cosine_topk",
    "f11_lsh_ann_topk",
    # round 4: connector mount + retrieval ops
    "c1_datasource_history",
    "f44_doc_chunks",
    "f45_bm25_topk",
    # round 4 continued: admission, training order, window + TPC-H shapes
    "f53_blocklist_filter",
    "f54_training_order",
    "w11_bollinger",
    "rel_q17_small_qty_revenue",
    "rel_q22_dormant_balance",
]

# Second headline tier (round 8): the round-3-7 operator families the
# 29-query tier-1 set predates — clustering, packing, SemDeDup, spans,
# in-engine training (logreg/BPE/PCA), paragraph dedup, and the
# incremental-rollup subsystem. Previously only timed in SCALE.md
# drills, so the per-round artifact could not see a regression in them.
TIER2 = [
    "f17_dup_clusters",
    "f38_sequence_packing",
    "f52_semdedup",
    "f61_substring_spans",
    "f72_paragraph_dedup",
    "f77_logreg_quality_score",
    "f80_bpe_train",
    "f81_bpe_compression",
    "f82_embedding_covariance",
    "c6_incremental_rollup",
    "c7_streaming_rollup_exactly_once",
    # round 8 additions (first-baselined in BENCH_r08)
    "f85_langid_nb",
    "f87_pq_adc_topk",
    "f88_pq_rerank_topk",
    "f89_ivfpq_topk",
    "f90_image_dhash_pairs",
    # round 9 additions (first-baselined in BENCH_r09): the two round-8
    # queries no tier carried, plus the guarded image band join
    "f86_c4_line_filter",
    "c10_tiered_rollup",
    "f91_image_band_guard",
    "f92_audio_envelope_pairs",
    "c12_training_mix",
    "f93_candidate_substring_spans",
    # round 10 additions (first-baselined in BENCH_r10): span-removal
    # rewrite and the crawl-profile minhash default, oracle-faced
    "f94_span_removal_rewrite",
    "f95_minhash_crawl_guard",
    "c13_image_crawl_clusters",
    # round 11 addition (first-baselined in BENCH_FULL_r11)
    "f97_ivfpq_residual_topk",
]


def calibration_probe(spark) -> float:
    """Host-speed denominator: 800M generated longs -> codegen xxhash64
    + modulo -> 8192-key shuffle agg. Pure JVM, no disk, no testdata —
    the same binary computes the same plan every round, so its wall
    moves ONLY with host speed (CPU contention from sibling builds).
    min-of-3 after one discarded warmup."""
    import time as _t

    def once() -> float:
        t0 = _t.time()
        (
            spark.range(0, 800_000_000, 1, 32)
            .selectExpr("xxhash64(id) % 8192 as k", "id")
            .groupBy("k")
            .agg({"id": "sum"})
            .count()
        )
        return _t.time() - t0

    once()  # warmup: first touch pays codegen compilation
    return round(min(once() for _ in range(3)), 3)


def _arrow_probe_fn(batches):
    """Fixed pandas transform for `arrow_probe` (module-level so the
    closure pickles identically every round)."""
    for pdf in batches:
        yield type(pdf)({"v": pdf["id"] * 2 + 1})


def arrow_probe(spark) -> float:
    """SECOND probe leg (round-12, r11 verdict "What's wrong" #3): a
    fixed mapInPandas round-trip — 20M generated longs through Arrow
    batches to a trivial pandas transform and back to a JVM sum. The
    JVM probe cancels JVM host noise, but the tier-2 heavy hitters
    spend their walls in Python workers + Arrow serialization, whose
    throughput moves INDEPENDENTLY of the JVM's under host load (the
    r9/r10/r11 probe-vs-field divergences were exactly this blind
    spot). Same discipline: pure generated input, no disk, no
    testdata; min-of-3 after one discarded warmup (the first Arrow
    exchange pays Python-worker startup + serializer imports)."""
    import time as _t

    def once() -> float:
        t0 = _t.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .mapInPandas(_arrow_probe_fn, "v long")
            .selectExpr("sum(v)")
            .collect()
        )
        return _t.time() - t0

    once()
    return round(min(once() for _ in range(3)), 3)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def stream_gate_bench(spark, sf_dir: str, state_store: str | None = None) -> float:
    """Structured Streaming headline: events as a file stream through the
    stateful monotonic gate (applyInPandasWithState) + watermark candle
    bars, availableNow trigger. Measures the stream-processor path the
    batch queries can't."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table
    from borsa_spark.streaming import candle_stream, streaming_monotonic_gate

    work = tempfile.mkdtemp(prefix="bench_stream_", dir=os.path.dirname(
        os.path.abspath(__file__)))
    try:
        src = os.path.join(work, "src")
        ev = load_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("symbol"),
            "ts",
            F.col("value").alias("price"),
            F.col("event_id").alias("seq"),
        )
        ev.write.parquet(src)
        schema = spark.read.parquet(src).schema

        # the stateful path keys on ~5 symbols here; 32 shuffle partitions
        # would be 27 empty state-store tasks per batch
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        prev_store = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", ""
        )
        if state_store:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", state_store
            )

        t0 = time.time()
        stream = spark.readStream.schema(schema).parquet(src)
        gated = streaming_monotonic_gate(stream, key="symbol")
        bars = candle_stream(gated, interval_seconds=3600,
                             watermark="60 seconds")
        q = (
            bars.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        dt = round(time.time() - t0, 3)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if state_store:
            if prev_store:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev_store
                )
            else:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
        return dt
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Production hash profile: shingle hashing via Spark-native xxhash64
    # (~3-4x cheaper at scan time than the md5 fold). The correctness gate
    # runs the md5 default because DuckDB must replay the identical hash;
    # the two modes differ only in LSH bucket assignment, never in
    # verified-pair semantics (pinned by TestShingleHashModes), so the
    # bench measures the plan a real cluster would run.
    os.environ.setdefault("BORSA_SPARK_SHINGLE_HASH", "xxhash64")
    from borsa_spark.queries import QUERIES
    from borsa_spark.session import get_spark

    spark = get_spark("bench")
    # Warm the JVM/codegen path so per-query numbers measure the plan, not
    # first-touch class loading.
    spark.range(1000).selectExpr("sum(id)").collect()

    probe_s = calibration_probe(spark)
    probe_arrow_s = arrow_probe(spark)
    # blended denominator: geometric mean of the two legs — a single
    # number that moves when EITHER execution path's host throughput
    # moves, for the totals line; per-query adjudication should read
    # the leg matching the query's path (ratios = JVM, ratios_arrow =
    # Python/Arrow; BASELINE.md's rule)
    probe_blend_s = round((probe_s * probe_arrow_s) ** 0.5, 3)

    # min of two runs per query: the machine hosts concurrent builders, and
    # a single sample can be 2-4x off under load; min-of-2 reports the plan,
    # not the neighbors. release_all_cached runs INSIDE every sample: many
    # library paths persist() multi-consumer intermediates, and Spark's
    # CacheManager matches cached plans structurally across separately
    # constructed DataFrames — without the per-sample clear, sample 2
    # would read sample 1's live caches and min-of-2 would report a
    # warm-cache wall, not the plan (round-9 review finding). The
    # release also unpersists RDD-layer blocks (localCheckpoints from
    # kmeans/_band_near_pairs/bloom) that clearCache alone leaves to
    # accumulate over a full bench run (round-9 ADVICE).
    from borsa_spark.session import release_all_cached

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        release_all_cached(spark)
        return dt

    def time_set(names: list[str], slow_retry: float) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            best = min(run_once(fn) for _ in range(2))
            # Outlier guard: the machine hosts sibling builds whose bursts
            # can inflate BOTH samples of one query by 10-100x (observed: a
            # 1.9s query at 127s). If the best sample is implausibly slow,
            # give the query one more chance after the burst has passed.
            if best > slow_retry:
                best = min(best, run_once(fn))
            out[name] = round(best, 3)
        return out

    timings = time_set(HEADLINE, slow_retry=15.0)
    # tier 2 runs genuinely heavier plans; the heaviest quiet walls sit
    # at ~7-9s (f17, f90), so 15s still gives >1.7x headroom while
    # catching the mid-run bursts 25s let through (BENCH_r10 draft: a
    # tier-2 query read 17.4s against three 7.4-7.5s hand samples)
    tier2 = time_set(TIER2, slow_retry=15.0)

    # Warm the Structured Streaming + Arrow/pandas-UDF path on the tiny sf
    # before timing: the first streaming drain in a process pays one-time
    # Python-side imports and Arrow serializer setup (observed ~6s of a 9.5s
    # sample, vs 3s steady-state). Timed samples should measure the stream
    # processor, not interpreter warmup.
    stream_gate_bench(spark, "/root/testdata/sf0.001")
    # min-of-2 like the batch queries: a single stream sample can eat a
    # one-off cost (BENCH_r10's first RocksDB drain paid native-lib +
    # column-family init and read 6.7s where min-of-3 hand samples read
    # 1.9-2.3s) — the artifact should record the plan, not first-touch
    timings["t1_stream_gate_candles"] = min(
        stream_gate_bench(spark, sf_dir) for _ in range(2)
    )
    # same drain on the production state backend (off-heap RocksDB) — at
    # 100 TB the HDFS-backed heap store is the first scale risk; this pins
    # both that the config works and what it costs locally.
    timings["t1_stream_gate_candles_rocksdb"] = min(
        stream_gate_bench(spark, sf_dir, state_store=ROCKSDB_PROVIDER)
        for _ in range(2)
    )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    all_walls = {**timings, **tier2}
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "tier2_queries": tier2,
        "tier2_total": round(sum(tier2.values()), 3),
        "probe_s": probe_s,
        "probe_arrow_s": probe_arrow_s,
        "probe_blend_s": probe_blend_s,
        "ratios": {
            k: round(v / probe_s, 2) for k, v in all_walls.items()
        },
        "ratios_arrow": {
            k: round(v / probe_arrow_s, 2) for k, v in all_walls.items()
        },
        "ratios_blend": {
            k: round(v / probe_blend_s, 2) for k, v in all_walls.items()
        },
        "total_ratio": round(sum(timings.values()) / probe_s, 2),
        "total_ratio_blend": round(
            sum(timings.values()) / probe_blend_s, 2
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "shingle_hash": os.environ["BORSA_SPARK_SHINGLE_HASH"],
    }
    # Two channels (round-10 fix): the driver captures only the TAIL of
    # stdout (~2000 chars), and by round 8 the single full-JSON line had
    # outgrown it — BENCH_r08/r09 recorded "parsed": null and r9's
    # artifact lost the tier-1 walls dict off the FRONT of the line. So
    # the full payload goes to bench_out.json (gitignored scratch; the
    # builder commits the round's canonical run as BENCH_FULL_r{N}.json
    # — the durable record BASELINE.md's ratio rule reads), and stdout
    # gets ONE compact line that fits the tail capture.
    #
    # Round 14 (r13 verdict "What's wrong" #2): the compact line MUST
    # carry per-query walls again — the driver computes its per-query
    # speedup table, geomean, and low-core/high-core scaling from the
    # parsed line, and the totals-only r13 line left PERF_r13's
    # per_query/n_common/geomean empty. All 70 walls fit the 2000-char
    # tail at reduced precision (~1.95k chars; full precision stays in
    # bench_out.json); if a pathological load window stretches the
    # encoding past the tail, precision degrades one step and then
    # TIER-2 entries drop from the end (count recorded in
    # "queries_omitted") — the line itself must never outgrow the tail,
    # or the driver parses nothing at all (the r8/r9 failure).
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    print(format_stdout_line(full, all_walls, len(timings), len(tier2)))
    spark.stop()


def _compact_wall(v: float, coarse: bool) -> float:
    """Tail-budget wall encoding: >=10s integral, 2-10s 1dp, <2s 2dp
    (1dp when ``coarse``). Full precision stays in bench_out.json."""
    if v >= 10:
        return round(v)
    if v >= 2 or coarse:
        return round(v, 1)
    return round(v, 2)


def format_stdout_line(
    full: dict, all_walls: dict, n_queries: int, n_tier2: int,
    budget: int = 1990,
) -> str:
    """The ONE stdout JSON line, guaranteed under ``budget`` chars."""

    def attempt(n_drop: int, coarse: bool) -> str:
        names = list(all_walls)
        kept = names[: len(names) - n_drop] if n_drop else names
        payload = {
            "metric": full["metric"],
            "value": full["value"],
            "unit": "sec",
            "queries": {
                k: _compact_wall(all_walls[k], coarse) for k in kept
            },
            "tier2_total": full["tier2_total"],
            "probe_s": full["probe_s"],
            "probe_arrow_s": full["probe_arrow_s"],
            "sf": full["sf"],
            "n_queries": n_queries,
            "n_tier2": n_tier2,
        }
        if n_drop:
            payload["queries_omitted"] = n_drop
        return json.dumps(payload, separators=(",", ":"))

    line = attempt(0, False)
    if len(line) > budget:
        line = attempt(0, True)
    n_drop = 0
    while len(line) > budget and n_drop < n_tier2:
        n_drop += 1
        line = attempt(n_drop, True)
    return line


if __name__ == "__main__":
    main()

"""Round-14 stage attribution: time CUMULATIVE PREFIXES of a pipeline
through the bench methodology (noop sink, min-of-N, release_all_cached
between samples) so the marginal cost of each stage = the difference of
adjacent prefix walls. Families:

  minhash  — shingle-array build -> signatures -> band candidates ->
             verified pairs (f7's pipeline on the raw corpus)
  f95      — the same pipeline over the f95 boilerplate fixture (capped)
  f17      — verified pairs vs. full star-contraction clustering
  rollup   — per-protocol-step walls for c6 / c7 / c10 (VERDICT item 6)

Usage: python tools/stage_profile.py <family> [--runs 2] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

os.environ.setdefault("BORSA_SPARK_SHINGLE_HASH", "xxhash64")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("family")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from borsa_spark.session import get_spark, release_all_cached

    spark = get_spark("stage-profile")
    spark.range(1000).selectExpr("sum(id)").collect()

    # Round-robin sampling: one sample of EVERY stage per round, rounds
    # repeated --runs times, min per stage. Back-to-back per-stage
    # sampling lets a decaying host burst inflate whichever stages ran
    # first and make the attribution non-monotone (observed: a prefix
    # "cheaper" than its own sub-prefix); spreading samples across
    # rounds hits all stages with roughly the same load profile — the
    # ab_toggle interleaving rule applied to attribution.
    _pending: list[tuple[str, object]] = []
    _samples: dict[str, list[float]] = {}

    def timed(label: str, build) -> None:
        _pending.append((label, build))

    def _run_rounds() -> None:
        for _ in range(args.runs):
            for label, build in _pending:
                release_all_cached(spark)
                spark.sparkContext.setJobDescription(f"stage:{label}")
                t0 = time.time()
                build().write.format("noop").mode("overwrite").save()
                _samples.setdefault(label, []).append(
                    round(time.time() - t0, 3))
        release_all_cached(spark)
        for label, _ in _pending:
            out[label] = min(_samples[label])
            print(f"{label}: {out[label]}  (samples {_samples[label]})",
                  flush=True)

    out: dict[str, float] = {}

    if args.family in ("minhash", "f95"):
        import borsa_spark.functions.dedup as dd
        from borsa_spark.queries import QUERIES, load_table, _f95_fixture

        cap = None if args.family == "minhash" else dd.CRAWL_MAX_BUCKET

        def corpus():
            if args.family == "minhash":
                return load_table(spark, args.sf, "documents")
            return _f95_fixture(spark, args.sf)

        from pyspark.sql import functions as F

        def arr_of(df):
            return dd.shingle_array(
                dd.widen_if_narrow(df).filter(dd.has_min_words("text", 3)),
                3, "text", "doc_id")

        out["arr"] = timed("arr", lambda: arr_of(corpus()))

        def upto_sig():
            arr = arr_of(corpus()).persist()
            return dd.signature_from_array(arr, assume_nonempty=True)

        out["arr+sig"] = timed("arr+sig", upto_sig)

        def upto_cands():
            arr = arr_of(corpus()).persist()
            sig = dd.signature_from_array(
                arr, assume_nonempty=True).persist()
            return dd.minhash_candidates(sig, max_bucket_size=cap)

        out["arr+sig+cands"] = timed("arr+sig+cands", upto_cands)
        out["full"] = timed(
            "full",
            lambda: dd.minhash_dedup_pairs(
                corpus(), 3, 0.5, max_bucket_size=cap),
        )

    elif args.family == "f17":
        from borsa_spark.queries import QUERIES, load_table
        from borsa_spark.queries import _lsh_verified_pairs
        from pyspark.sql import functions as F

        out["pairs"] = timed(
            "pairs",
            lambda: _lsh_verified_pairs(
                load_table(spark, args.sf, "documents")),
        )
        out["full_f17"] = timed(
            "full_f17", lambda: QUERIES["f17_dup_clusters"](spark, args.sf))

    elif args.family == "rollup":
        import tempfile

        from pyspark.sql import functions as F

        from borsa_spark.queries import QUERIES, _event_candles

        def c10_steps():
            from borsa_spark.streaming.rollup import TieredRollupMaintainer

            ev = _event_candles(spark, args.sf)
            c1 = F.lit("2024-01-20").cast("timestamp")
            c2 = F.lit("2024-01-26").cast("timestamp")
            steps: list[tuple[str, float]] = []
            with tempfile.TemporaryDirectory() as work:
                tm = TieredRollupMaintainer(spark, work)
                b0 = ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2))
                b1 = ev.filter(F.col("ts") >= c2)
                for label, fn in (
                    ("build", lambda: tm.build(ev.filter(F.col("ts") < c1))),
                    ("batch0", lambda: tm.process_batch(b0, 0)),
                    ("batch0_replay", lambda: tm.process_batch(b0, 0)),
                    ("batch1_hourly", lambda: tm.hourly.process_batch(b1, 1)),
                    ("batch1_replay", lambda: tm.process_batch(b1, 1)),
                    ("finalized_collect",
                     lambda: tm.finalized().collect()),
                ):
                    t0 = time.time()
                    fn()
                    steps.append((label, round(time.time() - t0, 3)))
            return steps

        for _ in range(args.runs):
            release_all_cached(spark)
            for label, sec in c10_steps():
                key = f"c10.{label}"
                out[key] = min(out.get(key, 1e9), sec)
        for k, v in out.items():
            print(f"{k}: {v}", flush=True)

    else:
        raise SystemExit(f"unknown family {args.family}")

    if _pending:
        _run_rounds()
    print(json.dumps({"family": args.family, "sf": args.sf,
                      "runs": args.runs, "walls": out}))
    spark.stop()


if __name__ == "__main__":
    main()

"""Interleaved A/B for the round-13 widen decision: alternate OFF/ON
samples in ONE process (A,B,A,B,...) so host bursts hit both arms
equally; report per-arm sample lists and minima.

OFF = widen_if_narrow patched to identity; ON = the committed behavior.
Timing is the bench methodology (noop sink, release_all_cached between
samples).

Usage: python tools/ab_toggle.py <query> [n_pairs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

os.environ.setdefault("BORSA_SPARK_SHINGLE_HASH", "xxhash64")


def main() -> None:
    name = sys.argv[1]
    n_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import borsa_spark.functions.dedup as dd
    from borsa_spark.queries import QUERIES
    from borsa_spark.session import get_spark, release_all_cached

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-toggle")
    spark.range(1000).selectExpr("sum(id)").collect()

    real_widen = dd.widen_if_narrow

    def set_arm(on: bool) -> None:
        dd.widen_if_narrow = real_widen if on else (lambda df: df)
        # queries.py binds the module, so patching dd covers _dd too

    fn = QUERIES[name]

    def sample() -> float:
        release_all_cached(spark)
        spark.sparkContext.setJobDescription(f"ab:{name}")
        t0 = time.time()
        df = fn(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # one unmeasured warmup per arm so codegen/worker spawn costs do
    # not land on the first measured OFF sample
    for on in (False, True):
        set_arm(on)
        sample()

    off, on = [], []
    for _ in range(n_pairs):
        set_arm(False)
        off.append(sample())
        set_arm(True)
        on.append(sample())

    out = {
        "query": name,
        "off": off,
        "on": on,
        "off_min": min(off),
        "on_min": min(on),
        "off_med": sorted(off)[len(off) // 2],
        "on_med": sorted(on)[len(on) // 2],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

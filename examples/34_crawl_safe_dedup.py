"""34 — Crawl-safe dedup defaults + corpus-wide span removal (round
10): what a 100-TB user gets WITHOUT tuning anything.

Three demonstrations, each from its own oracled operator:

    1. The minhash candidate join under the shipped default cap
       (CRAWL_MAX_BUCKET=256, the f95 query): an 80%-boilerplate
       corpus's band buckets are excluded with ACCOUNTING
       (`oversized_buckets`), planted near-copies still pair.
    2. The image lifecycle under the bare crawl profile (the c13
       query): decode -> dhash_near_pairs() with no arguments ->
       star-contraction clusters -> keep-first representatives; the
       flat cohort stays singleton, planted pairs form 2-clusters.
    3. Corpus-wide span removal (the f94 query): winnow screen ->
       pair-gated exact spans -> "remove the duplicate span from all
       but one document" (Lee et al. 2022), then a rerun proving the
       rewrite converged.

Run: python examples/34_crawl_safe_dedup.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from borsa_spark.session import get_spark, release_all_cached  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from pyspark.sql import functions as F

    from borsa_spark.functions import dedup as dd
    from borsa_spark.queries import QUERIES, _f95_fixture

    spark = get_spark("example-34")

    # -- 1. guarded minhash default on a boilerplate-heavy corpus ----
    fixture = _f95_fixture(spark, SF)
    n_docs = fixture.count()
    n_boiler = fixture.filter("doc_id % 5 != 0").count()
    pairs = dd.minhash_dedup_pairs(fixture, 3, 0.5)  # default cap
    sig = dd.minhash_signature_inrow(fixture)
    over = dd.oversized_buckets(sig, dd.CRAWL_MAX_BUCKET)
    print(f"[1] corpus: {n_docs} docs, {n_boiler} boilerplate")
    print(f"    guarded pairs (default cap {dd.CRAWL_MAX_BUCKET}): "
          f"{pairs.count()} — every one a planted near-copy")
    print(f"    excluded buckets accounted: {over.count()} "
          f"(the never-a-silent-cap contract)")
    if n_boiler <= dd.CRAWL_MAX_BUCKET:
        print("    (cohort under the cap at this SF — run at sf0.01+ "
              "to see the guard bind)")
    release_all_cached(spark)

    # -- 2. image lifecycle under the bare crawl profile -------------
    clusters = QUERIES["c13_image_crawl_clusters"](spark, SF)
    agg = clusters.groupBy("component").count()
    n_multi = agg.filter("count > 1").count()
    n_single = agg.filter("count = 1").count()
    kept = clusters.filter("kept").count()
    print(f"[2] image clusters (bare dhash_near_pairs() defaults): "
          f"{n_multi} planted 2-clusters, {n_single} singletons "
          f"(flat cohort routed to exact dedup), {kept} representatives")
    release_all_cached(spark)

    # -- 3. corpus-wide span removal, then convergence ----------------
    rewrite = QUERIES["f94_span_removal_rewrite"](spark, SF)
    stats = rewrite.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens_removed").alias("tokens_removed"),
        F.count(F.when(F.col("n_tokens_removed") > 0, 1)).alias("cut"),
    ).collect()[0]
    print(f"[3] span removal: {stats.docs} docs, {stats.cut} rewritten, "
          f"{stats.tokens_removed} tokens removed (keep-first)")
    from borsa_spark.functions.text import winnow_pairs

    again = dd.repeated_substring_spans_for_pairs(
        rewrite.select("doc_id", "text"),
        winnow_pairs(rewrite.select("doc_id", "text"),
                     k=3, w=4, min_shared=2, max_fp_df=50),
        k=5, min_len=8,
    )
    print(f"    rerun on the rewrite finds {again.count()} spans "
          f"(converged)")
    release_all_cached(spark)
    spark.stop()


if __name__ == "__main__":
    main()

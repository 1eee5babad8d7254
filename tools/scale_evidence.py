"""Scale evidence for the LLM-pipeline operators (VERDICT r1, next #7).

Generates a deterministic 10x corpus (sf1-equivalent: 50k documents, 20k
embeddings) from the driver's sf0.1 tables, then runs the three scale-path
pipelines — f7 MinHash+LSH dedup, f11 hyperplane-LSH ANN, f15 IVF ANN — at
sf0.01 / sf0.1 / sf1x10 and prints one JSON line per (query, sf) with
wall-clock and output size. Also exercises the LSH hot-bucket guard for
real: the generated corpus embeds a 300-member near-identical boilerplate
cohort whose band buckets blow past ``max_bucket_size=64``, so
``oversized_buckets`` must report non-empty accounting while the capped
candidate join stays bounded.

Usage: python tools/scale_evidence.py [out_json] [--100x]

``--100x`` adds the decade-further dedup-chain drill: a 500k-document
corpus (100 replicas of sf0.1) at REALISTIC dup density — 97% of replica
docs get fresh hash-derived text of the same length, ~3% stay verbatim
(cliques of ~4), plus the boilerplate cohort. The 10x corpus deliberately
measures OUTPUT explosion (30% verbatim retention -> all-pairs replica
cliques); at 100 replicas that construction would make C(100,2)-sized
cliques and the drill would measure pair-emission bandwidth, not
candidate discipline. The 100x tier instead validates the trend that
matters one decade up: candidate-to-true-pair ratios for f7 (banded LSH)
and f40 (PPJoin prefix) staying within ~2x of their 10x values while
input grows 10x.

Writes scale_data/ under the repo (gitignored); results land in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SCALE_DIR = os.path.join(os.path.dirname(__file__), "..", "scale_data", "sf1")
SCALE_DIR_100 = os.path.join(
    os.path.dirname(__file__), "..", "scale_data", "sf100x"
)
REPLICAS = 10
REPLICAS_100 = 100
BOILERPLATE_N = 300


def generate(spark) -> None:
    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table

    # completion sentinel written LAST (round-8 review: existence of an
    # individual artifact does not prove the whole tier generated)
    if os.path.exists(os.path.join(SCALE_DIR, "_COMPLETE")):
        return

    base = "/root/testdata/sf0.1"
    docs = load_table(spark, base, "documents")
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))

    # 10x documents: replica 0 keeps the original text (so every original
    # near-dup pair survives); replicas 1..9 append a replica-specific token
    # to 70% of docs (fresh content) and keep 30% verbatim (exact+near dups
    # across replicas — the tail dedup must find). doc_id namespaced by
    # replica. Deterministic: everything derives from (doc_id, rep).
    d10 = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.when(
                (F.col("rep") == 0) | (F.col("doc_id") % 10 < 3),
                F.col("text"),
            )
            .otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep"))
            )
            .alias("text"),
            "lang",
            "source",
        )
    )
    # Hot-bucket cohort: B near-identical boilerplate docs (identical but
    # for a trailing counter token, so 3-gram shingle sets overlap almost
    # completely -> same MinHash bands -> one bucket of size ~B).
    boiler_text = (
        "this document is boilerplate generated text used to exercise the "
        "hot bucket guard of the lsh dedup pipeline at corpus scale"
    )
    boiler = spark.range(BOILERPLATE_N).select(
        (F.col("id") + 90_000_000).alias("doc_id"),
        F.concat(F.lit(boiler_text), F.lit(" v"), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("boiler").alias("source"),
    )
    out_docs = (
        d10.unionByName(boiler)
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    out_docs.repartition(8).write.mode("overwrite").parquet(
        os.path.join(SCALE_DIR, "documents.parquet")
    )

    # 10x embeddings: deterministic per-(vec_id, rep) perturbation of each
    # component, scaled small so cluster structure (labels) survives.
    emb = load_table(spark, base, "embeddings")
    e10 = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(1000)
                        ).cast("float")
                        / 1000.0
                        - 0.5
                    )
                    * 0.01
                    * F.when(F.col("rep") == 0, 0.0).otherwise(1.0)
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    e10.repartition(8).write.mode("overwrite").parquet(
        os.path.join(SCALE_DIR, "embeddings.parquet")
    )
    with open(os.path.join(SCALE_DIR, "_COMPLETE"), "w") as f:
        f.write("sf1 tier complete\n")


def generate_100x(spark) -> None:
    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table

    if os.path.exists(os.path.join(SCALE_DIR_100, "_COMPLETE")):
        return

    base = "/root/testdata/sf0.1"
    docs = load_table(spark, base, "documents")
    reps = spark.range(REPLICAS_100).select(F.col("id").alias("rep"))

    # Realistic dup density (see module docstring): rep 0 keeps the
    # original; for rep >= 1, ~3% of (doc_id, rep) draws stay verbatim
    # (expected clique ~4 per base doc) and the rest get FRESH synthetic
    # text — same token count as the original, every token hash-derived
    # from (doc_id, rep, position) over a 30k vocabulary, so 3-gram
    # shingles essentially never collide across fresh docs. True pairs
    # therefore grow ~linearly with input, and the drill measures
    # candidate discipline, not pair-emission bandwidth.
    n_tok = F.size(F.split(F.col("text"), " "))
    fresh = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(F.col("doc_id"), F.col("rep"), i),
                    F.lit(30_000),
                ).cast("string"),
            ),
        ),
    )
    keep = (F.col("rep") == 0) | (
        F.pmod(F.xxhash64("doc_id", "rep"), F.lit(100)) < 3
    )
    d100 = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
            F.when(keep, F.col("text")).otherwise(fresh).alias("text"),
            "lang",
            "source",
        )
    )
    boiler_text = (
        "this document is boilerplate generated text used to exercise the "
        "hot bucket guard of the lsh dedup pipeline at corpus scale"
    )
    boiler = spark.range(BOILERPLATE_N).select(
        (F.col("id") + 900_000_000).alias("doc_id"),
        F.concat(F.lit(boiler_text), F.lit(" v"), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("boiler").alias("source"),
    )
    (
        d100.unionByName(boiler)
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(SCALE_DIR_100, "documents.parquet"))
    )

    # 100x embeddings (200k vectors, dim 64): the 10x perturbation scheme
    # one decade further — rep 0 keeps originals, later reps jitter each
    # component deterministically by <= 0.5% so the label/cluster
    # structure survives and ANN recall stays measurable.
    emb = load_table(spark, base, "embeddings")
    e100 = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.col("rep"), i),
                            F.lit(1000),
                        ).cast("float")
                        / 1000.0
                        - 0.5
                    )
                    * 0.01
                    * F.when(F.col("rep") == 0, 0.0).otherwise(1.0)
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    e100.repartition(16).write.mode("overwrite").parquet(
        os.path.join(SCALE_DIR_100, "embeddings.parquet")
    )
    with open(os.path.join(SCALE_DIR_100, "_COMPLETE"), "w") as f:
        f.write("sf100x tier complete\n")


def generate_events10x(spark) -> str:
    """10x-dense events tier (scale_data/events10x): every event
    replicated 10x with event_id/user_id namespaced and ts shifted by
    +rep MICROSECONDS — keeps the registry's globally-unique-ts
    convention while making every bucket/symbol series 10x denser (the
    market-data stress: same output keys, 10x input collapsing
    map-side). Other tables symlink to sf0.1. Returns the dir."""
    import os as _os

    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table

    p = _os.path.join(
        _os.path.dirname(__file__), "..", "scale_data", "events10x"
    )
    p = _os.path.abspath(p)
    if not _os.path.exists(_os.path.join(p, "_COMPLETE")):
        ev = load_table(spark, "/root/testdata/sf0.1", "events")
        reps = spark.range(10).select(F.col("id").alias("rep"))
        e10 = ev.crossJoin(F.broadcast(reps)).select(
            (F.col("event_id") + F.col("rep") * 10_000_000).alias(
                "event_id"
            ),
            (F.col("ts") + F.make_interval(secs=F.col("rep") / 1e6)).alias(
                "ts"
            ),
            (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        e10.repartition(16).write.mode("overwrite").parquet(
            _os.path.join(p, "events.parquet")
        )
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "documents", "embeddings",
        ]:
            dst = _os.path.join(p, f"{t}.parquet")
            if not _os.path.exists(dst):
                _os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
        with open(_os.path.join(p, "_COMPLETE"), "w") as f:
            f.write("events10x tier complete\n")
    return p


def generate_events100x(spark) -> str:
    """100x-dense events tier (scale_data/events100x): the events10x
    construction with 100 replicas (10M events, same 30-day span, same
    globally-unique-ts convention)."""
    import os as _os

    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table

    p = _os.path.abspath(
        _os.path.join(
            _os.path.dirname(__file__), "..", "scale_data", "events100x"
        )
    )
    if not _os.path.exists(_os.path.join(p, "_COMPLETE")):
        ev = load_table(spark, "/root/testdata/sf0.1", "events")
        reps = spark.range(100).select(F.col("id").alias("rep"))
        (
            ev.crossJoin(F.broadcast(reps))
            .select(
                (F.col("event_id") + F.col("rep") * 10_000_000).alias(
                    "event_id"
                ),
                (
                    F.col("ts") + F.make_interval(secs=F.col("rep") / 1e6)
                ).alias("ts"),
                (F.col("user_id") + F.col("rep") * 1_000_000).alias(
                    "user_id"
                ),
                "event_type", "value", "props",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(_os.path.join(p, "events.parquet"))
        )
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "documents", "embeddings",
        ]:
            dst = _os.path.join(p, f"{t}.parquet")
            if not _os.path.exists(dst):
                _os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
        with open(_os.path.join(p, "_COMPLETE"), "w") as f:
            f.write("events100x tier complete\n")
    return p


def generate_rel10x(spark) -> str:
    """10x relational tier (scale_data/rel10x): lineitem + orders
    replicated 10x with namespaced orderkeys (6M line items); dimension
    tables symlink to sf0.1 — broadcast sides deliberately keep their
    real-world size. Used for the SCALE.md TPC-H drill table."""
    import os as _os

    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table

    p = _os.path.abspath(
        _os.path.join(_os.path.dirname(__file__), "..", "scale_data", "rel10x")
    )
    if not _os.path.exists(_os.path.join(p, "_COMPLETE")):
        reps = spark.range(10).select(F.col("id").alias("rep"))
        li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
        (
            li.crossJoin(F.broadcast(reps))
            .withColumn(
                "l_orderkey",
                F.col("l_orderkey") + F.col("rep") * 1_000_000_000,
            )
            .drop("rep")
            .repartition(16)
            .write.mode("overwrite")
            .parquet(_os.path.join(p, "lineitem.parquet"))
        )
        od = load_table(spark, "/root/testdata/sf0.1", "orders")
        (
            od.crossJoin(F.broadcast(reps))
            .withColumn(
                "o_orderkey",
                F.col("o_orderkey") + F.col("rep") * 1_000_000_000,
            )
            .drop("rep")
            .repartition(8)
            .write.mode("overwrite")
            .parquet(_os.path.join(p, "orders.parquet"))
        )
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "events", "documents", "embeddings",
        ]:
            dst = _os.path.join(p, f"{t}.parquet")
            if not _os.path.exists(dst):
                _os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
        # completion sentinel, written LAST like every other tier —
        # without it the 6M-row build silently reran per invocation
        with open(_os.path.join(p, "_COMPLETE"), "w") as f:
            f.write("rel10x\n")
    return p


def generate_rel100x(spark) -> str:
    """100x relational tier (scale_data/rel100x, TPC-H sf10 fact
    scale): lineitem + orders replicated 100x with namespaced orderkeys
    (60M line items / 15M orders); dimension tables symlink to sf0.1 —
    broadcast sides deliberately keep their real-world size. The next
    decade after the round-7 sf1 oracle sweep (SCALE.md)."""
    import os as _os

    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table

    p = _os.path.abspath(
        _os.path.join(
            _os.path.dirname(__file__), "..", "scale_data", "rel100x"
        )
    )
    # completion sentinel, written LAST: a crashed first run must not
    # leave a partial dataset that reruns silently measure (round-8
    # review finding — existence of the first-written dir is not done)
    done = _os.path.join(p, "_COMPLETE")
    if not _os.path.exists(done):
        reps = spark.range(100).select(F.col("id").alias("rep"))
        li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
        (
            li.crossJoin(F.broadcast(reps))
            .withColumn(
                "l_orderkey",
                F.col("l_orderkey") + F.col("rep") * 1_000_000_000,
            )
            .drop("rep")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(_os.path.join(p, "lineitem.parquet"))
        )
        od = load_table(spark, "/root/testdata/sf0.1", "orders")
        (
            od.crossJoin(F.broadcast(reps))
            .withColumn(
                "o_orderkey",
                F.col("o_orderkey") + F.col("rep") * 1_000_000_000,
            )
            .drop("rep")
            .repartition(16)
            .write.mode("overwrite")
            .parquet(_os.path.join(p, "orders.parquet"))
        )
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "events", "documents", "embeddings",
        ]:
            dst = _os.path.join(p, f"{t}.parquet")
            if not _os.path.exists(dst):
                _os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
        with open(done, "w") as f:
            f.write("lineitem+orders x100 + dims\n")
    return p


REL_QUERIES = [
    "rel_q1_pricing_summary", "rel_q2_min_cost_supplier",
    "rel_q3_top_orders", "rel_q4_order_priority",
    "rel_q5_region_revenue", "rel_q6_revenue_filter",
    "rel_q7_nation_volume", "rel_q8_market_share",
    "rel_q9_nation_year_profit", "rel_q10_returned_revenue",
    "rel_q11_important_stock", "rel_q12_shipmode_priority",
    "rel_q13_customer_distribution", "rel_q14_promo_revenue",
    "rel_q15_top_supplier", "rel_q16_supplier_part_counts",
    "rel_q17_small_qty_revenue", "rel_q18_large_orders",
    "rel_q19_disjunctive_revenue", "rel_q20_part_promotion_suppliers",
    "rel_q21_returned_without_discount", "rel_q22_dormant_balance",
]


def run_rel100x(spark, results: list) -> None:
    """sf10 decade drill: wall-clock for all 22 TPC-H shapes at 60M
    lineitem (the correctness half — DuckDB oracle hash-match on the
    aggregate-heavy subset — runs via tools/check_oracle.py
    scale_data/rel100x, recorded in SCALE.md)."""
    from borsa_spark.queries import QUERIES

    p = generate_rel100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    for qname in REL_QUERIES:
        t0 = time.time()
        n = QUERIES[qname](spark, p).count()
        spark.catalog.clearCache()
        emit({"query": qname, "sf": "rel100x_sf10", "rows": n,
              "sec": round(time.time() - t0, 3)})


def run_100x(spark, results: list) -> None:
    """The decade-further dedup-chain drill: f7 / f40 / f35 wall + output
    at 500k docs, plus candidate-vs-true-pair accounting for f7 and f40
    at BOTH 10x and 100x so the ratios are directly comparable."""
    from pyspark.sql import functions as F

    from borsa_spark.functions import dedup as dd
    from borsa_spark.queries import QUERIES

    generate_100x(spark)
    dir10 = os.path.abspath(SCALE_DIR)
    dir100 = os.path.abspath(SCALE_DIR_100)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    for qname in ("f7_minhash_dedup_pairs", "f40_containment_pairs",
                  "f35_incremental_dedup"):
        fn = QUERIES[qname]
        t0 = time.time()
        n = fn(spark, dir100).count()
        spark.catalog.clearCache()
        emit({"query": qname, "sf": "sf100x", "rows": n,
              "sec": round(time.time() - t0, 3)})

    # Candidate accounting, same pipeline stages the queries run.
    for tier, path in (("sf1x10", dir10), ("sf100x", dir100)):
        from borsa_spark.sources import load_table

        docs = load_table(spark, path, "documents")
        arr = dd.shingle_array(docs, 3).filter(
            F.size("shingles") > 0
        ).persist()
        sig = dd.signature_from_array(arr).persist()

        t0 = time.time()
        # max_bucket_size=None mirrors f7's explicit opt-out (round-10
        # review: the library default flipped to capped, and this drill
        # claims the SAME stages the query runs — the 300-doc
        # boilerplate cohort would bind the 256 cap and silently
        # diverge from f7's own pair set)
        lsh_cands = dd.minhash_candidates(sig, max_bucket_size=None).count()
        lsh_true = dd.verify_jaccard_inrow(
            dd.minhash_candidates(sig, max_bucket_size=None), arr, 0.5
        ).count()
        emit({
            "query": "f7_candidate_ratio", "sf": tier,
            "candidates": lsh_cands, "true_pairs": lsh_true,
            "ratio": round(lsh_cands / max(1, lsh_true), 2),
            "sec": round(time.time() - t0, 3),
        })

        t0 = time.time()
        # f40's parameters exactly: n=3, containment threshold 0.9
        cont_cands = dd.containment_candidates(arr, 0.9).count()
        cont_true = dd.containment_pairs(docs, n=3, threshold=0.9).count()
        emit({
            "query": "f40_candidate_ratio", "sf": tier,
            "candidates": cont_cands, "true_pairs": cont_true,
            "ratio": round(cont_cands / max(1, cont_true), 2),
            "sec": round(time.time() - t0, 3),
        })
        arr.unpersist()
        sig.unpersist()
        spark.catalog.clearCache()


def run_f17_stages(spark, results: list) -> None:
    """f17 chain with PER-STAGE wall attribution at the 10x and 100x
    tiers (VERDICT r6 task 5): stage 1 = LSH pairs (shingle -> in-row
    signature -> banded candidates -> exact-Jaccard verify), pinned by a
    localCheckpoint so the contraction can't re-execute it; stage 2 =
    star-contraction rounds (per-round walls + canonical edge counts out
    of the convergence fingerprints — zero extra jobs); stage 3 = the
    final label join over the node universe. The edge_counts sequence is
    the ~log^2(n) evidence: it must shrink toward one star edge per
    non-singleton component within O(log^2 n) rounds."""
    from pyspark.sql import functions as F

    from borsa_spark.functions import dedup as dd
    from borsa_spark.sources import load_table

    generate_100x(spark)
    tiers = [
        ("sf1x10", os.path.abspath(SCALE_DIR)),
        ("sf100x", os.path.abspath(SCALE_DIR_100)),
    ]

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    for tier, path in tiers:
        docs = load_table(spark, path, "documents")
        t0 = time.time()
        # explicit None: this stage breakdown is attributed to f17,
        # whose _lsh_verified_pairs opts out of the capped default
        pairs = dd.minhash_dedup_pairs(docs, n=3, threshold=0.5,
                                       max_bucket_size=None) \
            .localCheckpoint(eager=True)
        n_pairs = pairs.count()
        t_pairs = round(time.time() - t0, 3)

        nodes = docs.select(F.col("doc_id").alias("id"))
        stats: dict = {}
        t0 = time.time()
        labeled = dd.dup_clusters(pairs, nodes, stats=stats)
        t_contract = round(sum(stats["round_secs"]), 3)
        t0 = time.time()
        n_docs = labeled.count()
        n_comps = labeled.select("comp").distinct().count()
        t_label = round(time.time() - t0, 3)

        emit({
            "query": "f17_stage_breakdown", "sf": tier,
            "pairs": n_pairs, "docs": n_docs, "components": n_comps,
            "sec_pairs": t_pairs, "sec_contraction": t_contract,
            "sec_label": t_label, "rounds": stats["rounds"],
            "round_secs": stats["round_secs"],
            "edge_counts": stats["edge_counts"],
        })
        spark.catalog.clearCache()


def run_r7_family(spark, results: list) -> None:
    """Round-7 crawl-pipeline family (f72-f78) across three document
    decades: sf0.1 (5k docs, the bench tier), sf1 (50.3k, 10x) and
    sf100x (500.3k, 100x). Each query runs end-to-end with a count()
    sink; walls are comparable across tiers because the plans are
    identical (plan-guarded single corpus scan for f73/f74)."""
    from borsa_spark.queries import QUERIES

    generate_100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1x10", os.path.abspath(SCALE_DIR)),
        ("sf100x", os.path.abspath(SCALE_DIR_100)),
    ]
    for qname in ("f72_paragraph_dedup",
                  "f73_unigram_lm_score", "f74_dsir_weights",
                  "f75_dsir_resample", "f76_bloom_decontaminate",
                  "f77_logreg_quality_score",
                  "f78_bigram_backoff_score"):
        fn = QUERIES[qname]
        for tier, path in tiers:
            t0 = time.time()
            n = fn(spark, path).count()
            spark.catalog.clearCache()
            emit({"query": qname, "sf": tier, "rows": n,
                  "sec": round(time.time() - t0, 3)})


def _run_decade_drill(
    spark,
    results: list,
    qnames: tuple,
    time_from_construction: bool = False,
) -> None:
    """Shared three-decade drill runner (r8/r9 families): noop sink,
    not count() — count() lets Catalyst prune projection-shaped work
    away; persist so the row count reads the materialized result
    instead of re-executing the plan untimed.
    ``time_from_construction`` includes the query fn() call in the
    timed window — required for queries that train/checkpoint at
    construction (c12's classifier), the bench run_once convention."""
    from borsa_spark.queries import QUERIES

    generate_100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1x10", os.path.abspath(SCALE_DIR)),
        ("sf100x", os.path.abspath(SCALE_DIR_100)),
    ]
    for qname in qnames:
        fn = QUERIES[qname]
        for tier, path in tiers:
            t0 = time.time()
            df = fn(spark, path).persist()
            if not time_from_construction:
                t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            n = df.count()
            df.unpersist()
            spark.catalog.clearCache()
            emit({"query": qname, "sf": tier, "rows": n, "sec": dt})


def run_r8_family(spark, results: list) -> None:
    """Round-8 family (f85 trained langid, f87/f88 PQ top-k) across
    three document decades — f85 is corpus-scan-shaped (one tf scan +
    broadcast model), so its walls should track corpus size
    ~linearly."""
    _run_decade_drill(
        spark, results,
        ("f85_langid_nb", "f87_pq_adc_topk", "f88_pq_rerank_topk"),
    )


def run_r9_family(spark, results: list) -> None:
    """Round-9 lifecycle family across three document decades: the
    composed c12 training mix against its dominant stage (f77), plus
    f93's two-stage substring dedup. The drill checks the
    COMPOSITION — c12 should track bare f77 (everything after its
    k=100 selection is O(k)) — and that f93's span OUTPUT follows true
    duplicate structure, not corpus size, while its walls stay
    sub-linear. Timing starts at fn() construction because c12 trains
    at construction time (the bench run_once convention, applied
    uniformly; for the lazy queries the construction cost inside the
    window is near-zero)."""
    _run_decade_drill(
        spark, results,
        ("f77_logreg_quality_score", "c12_training_mix",
         "f93_candidate_substring_spans"),
        time_from_construction=True,
    )


def run_r10_family(spark, results: list) -> None:
    """Round-10 lifecycle additions across three document decades:

    - f94 corpus-wide span removal next to the f93 extraction it
      composes with — its extra work is span-count-sized (interval
      merge) plus ONE row-local token-array filter, so walls should
      track f93 plus a near-linear rewrite scan; output is |documents|
      rows at every tier by construction.
    - f95, the capped minhash DEFAULT on the 80%-boilerplate analytic
      fixture — at every tier the boilerplate cohort (0.8n docs, one
      bucket) exceeds CRAWL_MAX_BUCKET, so candidate emission stays
      O(planted) while an uncapped run would be O((0.8n)²); walls
      should track the signature fold (~linear in docs).
    - c13, the bare-crawl-default image lifecycle — decode dominates
      (the f90 drill's cost model), pairing + star contraction ride
      planted-pair-sized relations; output is |documents| rows.
    """
    _run_decade_drill(
        spark, results,
        ("f93_candidate_substring_spans", "f94_span_removal_rewrite",
         "f95_minhash_crawl_guard"),
    )
    # c13 separately with the c12 convention: dup_clusters runs its
    # star-contraction jobs (eager localCheckpoints per round) at query
    # CONSTRUCTION, so timing must start at fn() — the first drill run
    # recorded 0.15-2.0 s walls that were only the final projection
    _run_decade_drill(
        spark, results,
        ("c13_image_crawl_clusters",),
        time_from_construction=True,
    )


def run_r11_family(spark, results: list) -> None:
    """Round-11 addition across three document decades: f97 residual
    IVFPQ over the embedding decades — broadcast model relations,
    probed equi-join — walls should track the f89 raw-coding form with
    the n_probe× larger query table invisible at these sizes. It
    materializes its collected models inside fn(), so timing starts
    at construction (the c12 convention)."""
    _run_decade_drill(
        spark, results,
        ("f97_ivfpq_residual_topk",),
        time_from_construction=True,
    )


def run_ingest_drill(spark, results: list) -> None:
    """The streaming admission gates one decade up (round-10 verdict
    task #7): `DedupIngest.process_batch` against STORED corpora of
    5k / 50k / 500k docs. Per tier, one 5k-doc probe batch with a
    controlled mix — 20% exact copies of stored docs, 20% near-dups
    (last word swapped), 10% a hot near-identical cohort (distinct
    md5, ~shared bands — the bucket class the combined batch+corpus
    cap exists for), 50% fresh — measuring:

    - admission wall vs stored-state size (the per-trigger recurring
      cost a 100-TB/day stream pays),
    - the admission split + hot_buckets accounting (never a silent
      cap),
    - a REPLAY of the hot cohort after its first admission (the
      round-10 fix: stored occupancy must now count toward the cap),
    - at the 500k tier: compaction wall, fold correctness
      (admission_log sums preserved), state size on disk, and the
      post-compaction probe wall (scan-planning cost drops with file
      count).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from borsa_spark.streaming.ingest import DedupIngest, compact_state

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    def fresh_text(idc):
        # 12 hash-derived words, unique per id
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(12)),
                lambda j: F.concat(
                    F.lit("w"), F.xxhash64(idc, j).cast("string")
                ),
            ),
            " ",
        )

    def stored_docs(n):
        d = F.col("id")
        return spark.range(n).select(
            d.alias("doc_id"), fresh_text(d).alias("text")
        )

    def probe_batch(stored_n, base):
        """5k probe ids starting at ``base`` (disjoint from stored)."""
        d = F.col("id")
        k = d - base  # 0..4999
        src = k % stored_n  # a stored doc to copy / perturb
        exact = fresh_text(src)
        near = F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(11)),
                    lambda j: F.concat(
                        F.lit("w"), F.xxhash64(src, j).cast("string")
                    ),
                ),
                " ",
            ),
            F.lit(" z"), d.cast("string"),
        )
        boiler = F.concat(
            F.lit(" ".join(f"hot{j}" for j in range(11))),
            F.lit(" u"), d.cast("string"),
        )
        text = (
            F.when(k % 10 < 2, exact)
            .when(k % 10 < 4, near)
            .when(k % 10 == 4, boiler)
            .otherwise(fresh_text(d))
        )
        return spark.range(base, base + 5000).select(
            d.alias("doc_id"), text.alias("text")
        )

    for tier_n in (5_000, 50_000, 500_000):
        work = tempfile.mkdtemp(prefix=f"ingest_drill_{tier_n}_")
        try:
            ing = DedupIngest(spark, work)
            # build the stored corpus in <=50k admission batches (the
            # realistic path: state accrues through the gate itself)
            t0 = time.time()
            chunk = min(tier_n, 50_000)
            bid = 0
            for start in range(0, tier_n, chunk):
                ing.process_batch(
                    stored_docs(tier_n).filter(
                        (F.col("doc_id") >= start)
                        & (F.col("doc_id") < start + chunk)
                    ),
                    bid,
                )
                bid += 1
            build_s = round(time.time() - t0, 3)

            base = 10_000_000
            t0 = time.time()
            ing.process_batch(probe_batch(tier_n, base), bid)
            probe_s = round(time.time() - t0, 3)
            log = ing.admission_log()
            probe_row = [e for e in log if e["batch"] == bid][-1]
            emit({
                "drill": "ingest", "stored": tier_n,
                "build_s": build_s, "probe_s": probe_s,
                "probe_admitted": probe_row["admitted"],
                "probe_rejected": probe_row["rejected"],
                "hot_buckets": probe_row["hot_buckets"],
            })

            # hot-cohort replay: same content mix, fresh ids — the
            # admitted hot docs now sit in STORED state, so the
            # combined cap must count them (round-10 fix) and the
            # rejected side must not explode the candidate join
            t0 = time.time()
            ing.process_batch(probe_batch(tier_n, base + 5000), bid + 1)
            replay_s = round(time.time() - t0, 3)
            row2 = [e for e in ing.admission_log()
                    if e["batch"] == bid + 1][-1]
            emit({
                "drill": "ingest_replay", "stored": tier_n,
                "probe_s": replay_s,
                "probe_admitted": row2["admitted"],
                "probe_rejected": row2["rejected"],
                "hot_buckets": row2["hot_buckets"],
            })

            if tier_n == 500_000:
                pre = ing.admission_log()
                pre_totals = {
                    k: sum(e[k] for e in pre)
                    for k in ("received", "admitted", "rejected",
                              "hot_buckets")
                }
                t0 = time.time()
                rep = compact_state(ing)
                compact_s = round(time.time() - t0, 3)
                post = ing.admission_log()
                post_totals = {
                    k: sum(e[k] for e in post)
                    for k in ("received", "admitted", "rejected",
                              "hot_buckets")
                }
                assert post_totals == pre_totals, (pre_totals,
                                                   post_totals)
                state_mb = round(sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(work) for f in fs
                ) / 1e6, 1)
                t0 = time.time()
                ing.process_batch(
                    probe_batch(tier_n, base + 10_000), bid + 2
                )
                post_probe_s = round(time.time() - t0, 3)
                emit({
                    "drill": "ingest_compaction", "stored": tier_n,
                    "compact_s": compact_s,
                    "compacted": rep.get("compacted"),
                    "accounting_preserved": True,
                    "state_mb": state_mb,
                    "post_compact_probe_s": post_probe_s,
                })
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run_f90_drill(spark, results: list) -> None:
    """Image near-dup family (f90/f91) across three document decades,
    on the f91 crawl-degenerate fixture (80% flat images, planted
    one-pixel-perturbed copies among the textured 20%). Measures the
    three costs separately:

    - decode+hash (`image_dhash`): Arrow-batched PNG decode, the
      dominant cost at image-crawl scale — expect ~linear walls.
    - guarded byte-band pairing (rows_per_band=1, cap=10): the f91
      shape. Byte keys have a 256-value space, so bucket density grows
      with the decade and the cap rightly excludes ever more buckets —
      at 100x EVERY textured bucket is hot and emission drops toward 0.
      That is the density wall, not a bug: the accounting names it.
    - guarded wide-band pairing (rows_per_band=2, cap=10): the scale
      path — 16-bit keys cut benign collisions 256x, so planted pairs
      keep surviving while flat cohorts stay excluded. Expect pair
      counts ~10x per decade and walls dominated by the decode.

    Textured images use FULL-ENTROPY per-base pixels (seeded rng), not
    f91's analytic luma: the first drill run showed the luma's row
    bytes are low-entropy (only a few thousand distinct 16-bit keys —
    498 oversized wide buckets from just 10.3k textured images at 10x,
    planted-pair recall 0 at 100x), so it measures the FIXTURE's key
    entropy, not the operator. Band keys inherit the entropy of the
    content; real photos have it, analytic gradients don't — recorded
    as a divergence lesson in SCALE.md.
    """
    import numpy as np
    import pandas as pd

    from borsa_spark.functions import multimodal as mm
    from borsa_spark.sources import load_table

    generate_100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    def gen(batches):
        flat = mm.encode_png_pixels(
            np.full((8, 9, 1), 77, dtype=np.uint8), filter_type=4
        )
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 5 != 0:
                    out.append((did, flat))
                    continue
                base = did - 5 if did % 10 == 5 else did
                px = np.random.default_rng(base).integers(
                    0, 256, size=(8, 9, 1)
                ).astype(np.uint8)
                if did % 10 == 5:
                    px[0, 0, 0] = (int(px[0, 0, 0]) + 7) % 256
                out.append(
                    (did, mm.encode_png_pixels(px, filter_type=4))
                )
            yield pd.DataFrame(out, columns=["asset_id", "payload"])

    def gen_audio(batches):
        sign = np.where(np.arange(1800) % 2 == 0, 1.0, -1.0)
        flat = mm.encode_wav(sign * (77.0 / 256.0), 8000)
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 5 != 0:
                    out.append((did, flat))
                    continue
                base = did - 5 if did % 10 == 5 else did
                b = np.arange(72, dtype=np.int64)
                h = base * 37 + (b + 1) * 97
                g = (h * h) % 65536
                a = ((g * g) >> 7) % 256
                if did % 10 == 5:
                    a[0] = (int(a[0]) + 7) % 256
                out.append(
                    (did, mm.encode_wav(sign * (np.repeat(a, 25) / 256.0),
                                        8000))
                )
            yield pd.DataFrame(out, columns=["asset_id", "payload"])

    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1x10", os.path.abspath(SCALE_DIR)),
        ("sf100x", os.path.abspath(SCALE_DIR_100)),
    ]
    for tier, path in tiers:
        docs = load_table(spark, path, "documents").select("doc_id")
        assets = docs.repartition(32).mapInPandas(
            gen, "asset_id long, payload binary"
        )
        # f92's decode leg: same fixture scheme on the time axis (3.6KB
        # 16-bit WAVs); the pairing legs below are the SHARED machinery,
        # so audio only needs its decode wall measured per decade
        audio = docs.repartition(32).mapInPandas(
            gen_audio, "asset_id long, payload binary"
        )
        t0 = time.time()
        n_aud = mm.audio_dhash(audio).count()
        emit({"stage": "audio_decode_hash", "sf": tier, "rows": n_aud,
              "sec": round(time.time() - t0, 3)})
        t0 = time.time()
        dh = mm.image_dhash(assets).persist()
        n_imgs = dh.count()
        t_hash = round(time.time() - t0, 3)
        emit({"stage": "decode_hash", "sf": tier, "rows": n_imgs,
              "sec": t_hash})
        for label, rpb, maxham in (
            ("pairs_byte_bands", 1, 6),
            ("pairs_wide_bands", 2, 3),
        ):
            t0 = time.time()
            pairs = mm.dhash_near_pairs(
                dh, max_hamming=maxham, max_bucket_size=10,
                rows_per_band=rpb,
            ).persist()
            n = pairs.count()
            dt = round(time.time() - t0, 3)
            over = mm.band_oversized_buckets(
                mm.dhash_band_keys(dh, rpb), 10
            ).count()
            pairs.unpersist()
            emit({"stage": label, "sf": tier, "rows": n, "sec": dt,
                  "oversized_buckets": over})
        dh.unpersist()
        spark.catalog.clearCache()


def run_bpe_drill(spark, results: list) -> None:
    """f80/f81 BPE-training drill across three document decades. The
    100 TB claim under test: the corpus is scanned ONCE (vocab build);
    every merge round touches only the distinct-word relation, so
    per-round wall must track |vocab|, not |corpus|. Emits the stage
    split (vocab-build wall vs 12-round training wall) plus the apply
    join (f81), per tier."""
    from borsa_spark.functions import bpe
    from borsa_spark.sources import load_table

    generate_100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1x10", os.path.abspath(SCALE_DIR)),
        ("sf100x", os.path.abspath(SCALE_DIR_100)),
    ]
    for tier, path in tiers:
        docs = load_table(spark, path, "documents")
        n_docs = docs.count()
        t0 = time.time()
        vocab = bpe._word_vocab(docs, "text").localCheckpoint(eager=True)
        n_vocab = vocab.count()
        t_vocab = time.time() - t0

        t0 = time.time()
        work = vocab
        for step in range(12):
            best = bpe._merge_round(work).localCheckpoint(eager=True)
            work = bpe._apply_merge(work, best)
            if step % 2 == 1 and step < 11:
                work = work.localCheckpoint(eager=True)
        work.count()
        t_rounds = time.time() - t0

        t0 = time.time()
        n_scored = bpe.bpe_token_counts(docs, 8).count()
        t_apply = time.time() - t0
        spark.catalog.clearCache()
        emit({
            "query": "f80_bpe_train", "sf": tier, "n_docs": n_docs,
            "n_vocab": n_vocab, "vocab_sec": round(t_vocab, 3),
            "rounds12_sec": round(t_rounds, 3),
            "per_round_sec": round(t_rounds / 12, 3),
        })
        emit({
            "query": "f81_bpe_compression", "sf": tier, "rows": n_scored,
            "sec": round(t_apply, 3),
        })


def run_tiered_drill(spark, results: list) -> None:
    """c10 two-tier maintenance drill. Claim: one foreachBatch delivery
    costs tier-1 O(batch + dirty partitions) + tier-2 O(hourly state of
    the dirty DAYS) — both independent of history length. The SAME
    fixed batch lands on towers built from 100k / 1M / 10M events; the
    per-batch wall and tier-2 rows-read must stay flat while the tower
    build wall grows with the tier."""
    import tempfile

    from pyspark.sql import functions as F

    from borsa_spark.sources import load_table
    from borsa_spark.streaming.rollup import TieredRollupMaintainer

    p10 = generate_events10x(spark)
    p100 = generate_events100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    def candles(path):
        ev = load_table(spark, path, "events")
        return ev.select(
            F.col("event_type").alias("symbol"), "ts", "value",
            F.col("event_id").alias("seq"),
        )

    fixed_batch = candles("/root/testdata/sf0.1").filter(
        F.col("ts") >= F.lit("2024-01-30").cast("timestamp")
    ).localCheckpoint(eager=True)
    n_batch = fixed_batch.count()

    # absolute generator-returned paths: the drill must not depend on
    # the caller's cwd (round-8 review finding)
    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("ev10x", p10),
        ("ev100x", p100),
    ]
    for tier, path in tiers:
        ticks = candles(path)
        n_events = ticks.count()
        with tempfile.TemporaryDirectory() as work:
            t0 = time.time()
            tm = TieredRollupMaintainer(spark, work)
            tm.build(ticks)
            t_build = time.time() - t0
            n_hourly = tm.hourly.current_state().count()

            t0 = time.time()
            tm.process_batch(fixed_batch, 0)
            t_batch = time.time() - t0

            dirty = tm.hourly.dirty_days_for(0)
            # rows tier-2 actually read: the hourly state of exactly
            # the dirty days (partition-pruned) — the quantity that
            # must NOT grow with history
            mapping = {
                p: v
                for p, v in tm.hourly._mapping().items()
                if p in set(dirty)
            }
            t2_rows = tm.hourly._read_versions(mapping).count()
        spark.catalog.clearCache()
        emit({
            "query": "c10_tiered_maintenance", "sf": tier,
            "n_events": n_events, "n_hourly_state": n_hourly,
            "batch_rows": n_batch, "dirty_days": len(dirty),
            "tier2_rows_read": t2_rows,
            "tower_build_sec": round(t_build, 3),
            "per_batch_sec": round(t_batch, 3),
        })


def run_pca_drill(spark, results: list) -> None:
    """f82/PCA drill across embedding decades (2k / 20k / 200k
    vectors x 64d). Claim: the covariance pass partial-aggregates the
    in-row outer products into a FIXED 4096-key shuffle, so wall grows
    with the scan (linear, embarrassingly parallel) while shuffle and
    driver work stay constant; fit adds only bounded 64x64 eigensolve,
    projection is one in-row pass."""
    import time as _t

    from borsa_spark.functions.pca import (
        embedding_covariance,
        pca_fit,
        pca_project,
    )
    from borsa_spark.sources import load_table

    generate_100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1x10", os.path.abspath(SCALE_DIR)),
        ("sf100x", os.path.abspath(SCALE_DIR_100)),
    ]
    for tier, path in tiers:
        embs = load_table(spark, path, "embeddings")
        n = embs.count()
        t0 = _t.time()
        rows = embedding_covariance(embs).count()
        t_cov = _t.time() - t0
        t0 = _t.time()
        from borsa_spark.functions.pca import embedding_covariance_fast

        embedding_covariance_fast(embs).count()
        t_cov_fast = _t.time() - t0
        t0 = _t.time()
        model = pca_fit(embs, k=8, fast=True)
        t_fit = _t.time() - t0
        t0 = _t.time()
        n_proj = pca_project(embs, model, whiten=True).count()
        t_proj = _t.time() - t0
        spark.catalog.clearCache()
        emit({
            "query": "f82_pca", "sf": tier, "n_vectors": n,
            "cov_rows": rows, "cov_sec": round(t_cov, 3),
            "cov_fast_sec": round(t_cov_fast, 3),
            "fit_sec": round(t_fit, 3), "project_sec": round(t_proj, 3),
            "top_variance": round(model["variances"][0], 4),
        })


def run_rollup_drill(spark, results: list) -> None:
    """c6 incremental-maintenance drill. Claim: folding a batch into a
    materialized rollup costs O(batch + dirty partitions) — independent
    of how much HISTORY the rollup holds. The SAME fixed ~3.3k-row
    batch (sf0.1's day-30 events) merges into state built from 100k /
    1M / 10M events; its wall must stay flat while the full-recompute
    wall grows with the tier."""
    import tempfile

    from pyspark.sql import functions as F

    from borsa_spark.operators.rollup import (
        merge_into_rollup,
        rollup_state,
        write_rollup,
    )
    from borsa_spark.sources import load_table

    p10 = generate_events10x(spark)
    p100 = generate_events100x(spark)

    def emit(rec):
        results.append(rec)
        print(json.dumps(rec), flush=True)

    def candles(path):
        ev = load_table(spark, path, "events")
        return ev.select(
            F.col("event_type").alias("symbol"), "ts", "value",
            F.col("event_id").alias("seq"),
        )

    fixed_batch = candles("/root/testdata/sf0.1").filter(
        F.col("ts") >= F.lit("2024-01-30").cast("timestamp")
    ).localCheckpoint(eager=True)
    n_batch = fixed_batch.count()

    # absolute generator-returned paths: the drill must not depend on
    # the caller's cwd (round-8 review finding)
    tiers = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("ev10x", p10),
        ("ev100x", p100),
    ]
    for tier, path in tiers:
        ticks = candles(path)
        n_events = ticks.count()

        t0 = time.time()
        n_state = rollup_state(ticks).count()
        t_full = time.time() - t0

        with tempfile.TemporaryDirectory() as work:
            t0 = time.time()
            write_rollup(rollup_state(ticks), work)
            t_base = time.time() - t0

            t0 = time.time()
            dirty = merge_into_rollup(spark, work, fixed_batch)
            t_merge = time.time() - t0
        spark.catalog.clearCache()
        # rows each path must READ (the quantity that scales at 100 TB;
        # local walls stay sub-second because 32 cores scan 10M rows
        # in well under a second): full recompute re-reads every event,
        # the merge reads the batch + the dirty partitions' state rows.
        state_rows_dirty = len(dirty) * (
            n_state // 30  # per-day state rows (uniform 30-day span)
        )
        emit({
            "query": "c6_rollup_maintenance", "sf": tier,
            "n_events": n_events, "n_state_rows": n_state,
            "batch_rows": n_batch, "dirty_partitions": len(dirty),
            "full_rows_read": n_events,
            "merge_rows_read": n_batch + state_rows_dirty,
            "full_recompute_sec": round(t_full, 3),
            "base_materialize_sec": round(t_base, 3),
            "incremental_merge_sec": round(t_merge, 3),
        })


def main() -> None:
    from pyspark.sql import functions as F

    from borsa_spark.functions import dedup as dd
    from borsa_spark.queries import QUERIES
    from borsa_spark.session import get_spark
    from borsa_spark.sources import load_table

    spark = get_spark("scale-evidence")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm codegen
    generate(spark)

    results = []
    if "--f17-stages" in sys.argv:
        run_f17_stages(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--rollup" in sys.argv:
        run_rollup_drill(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--pca" in sys.argv:
        run_pca_drill(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--bpe" in sys.argv:
        run_bpe_drill(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--r7-family" in sys.argv:
        run_r7_family(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--tiered" in sys.argv:
        run_tiered_drill(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--r9-family" in sys.argv:
        run_r9_family(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--r10-family" in sys.argv:
        run_r10_family(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--r11-family" in sys.argv:
        run_r11_family(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--ingest" in sys.argv:
        run_ingest_drill(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--f90" in sys.argv:
        run_f90_drill(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--r8-family" in sys.argv:
        run_r8_family(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--rel100x" in sys.argv:
        run_rel100x(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    if "--100x" in sys.argv:
        # decade-further drill only (needs the 10x dir for the ratio
        # comparison rows, which generate() above just ensured)
        run_100x(spark, results)
        out = [a for a in sys.argv[1:] if not a.startswith("--")]
        if out:
            with open(out[0], "w") as f:
                json.dump(results, f, indent=1)
        return
    tiers = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1x10", os.path.abspath(SCALE_DIR)),
    ]
    for qname in (
        "f7_minhash_dedup_pairs",
        "f11_lsh_ann_topk",
        "f15_ivf_topk",
        "f17_dup_clusters",
        "f35_incremental_dedup",
        "f38_sequence_packing",
        "f40_containment_pairs",
        "f41_unigram_logprob",
        # round 4 retrieval ops (documents-based, present in the 10x dir)
        "f44_doc_chunks",
        "f45_bm25_topk",
        "f46_inverted_index",
        "f47_pii_scrub",
        # round 4 continued: semantic dedup + admission + training order
        "f52_semdedup",
        "f53_blocklist_filter",
        "f54_training_order",
        "f55_boilerplate_fraction",
        # round 6: repetition signals + winnowing fingerprints
        "f64_repetition_signals",
        "f67_winnow_fingerprints",
        "f68_winnow_pairs",
    ):
        fn = QUERIES[qname]
        for tier, path in tiers:
            t0 = time.time()
            n = fn(spark, path).count()
            dt = round(time.time() - t0, 3)
            rec = {"query": qname, "sf": tier, "rows": n, "sec": dt}
            results.append(rec)
            print(json.dumps(rec), flush=True)

    # Star-contraction worst case: one 200k-link chain (diameter 200k) —
    # label propagation would need 200k rounds; star contraction converges
    # in ~log2(n)+2 ≈ 20 (pure-operator simulation: 51→7, 1k→11, 10k→15,
    # 200k→19 rounds). Verifies diameter-independence with wall-clock.
    n_chain = 200_000
    chain = spark.range(n_chain - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    chain_nodes = spark.range(n_chain).select(F.col("id"))
    t0 = time.time()
    one_comp = (
        dd.dup_clusters(chain, chain_nodes, max_iters=40)
        .filter(F.col("comp") == 0)
        .count()
    )
    rec = {
        "query": "star_cc_chain",
        "sf": "chain200k",
        "rows": one_comp,  # must equal n_chain: a single component
        "sec": round(time.time() - t0, 3),
    }
    assert one_comp == n_chain, rec
    results.append(rec)
    print(json.dumps(rec), flush=True)

    # Hot-bucket guard on the 10x corpus: cap at 64, so the 300-member
    # boilerplate cohort must surface in oversized_buckets (accounting),
    # while capped candidates stay bounded.
    docs = load_table(spark, os.path.abspath(SCALE_DIR), "documents")
    sh = dd.shingles(docs, 3).persist()
    sig = dd.minhash_signature(sh)
    t0 = time.time()
    over = dd.oversized_buckets(sig, 64).agg(
        F.count("*").alias("n_buckets"), F.max("n_docs").alias("max_docs")
    ).collect()[0]
    capped = dd.minhash_candidates(sig, max_bucket_size=64).count()
    dt = round(time.time() - t0, 3)
    guard = {
        "query": "hot_bucket_guard",
        "sf": "sf1x10",
        "oversized_buckets": over.n_buckets,
        "largest_bucket_docs": over.max_docs,
        "capped_candidates": capped,
        "sec": dt,
    }
    results.append(guard)
    print(json.dumps(guard), flush=True)
    sh.unpersist()

    # f11's analog of the guard: hyperplane-LSH ANN splits hot buckets into
    # sub-buckets (bounded in-bucket join) — account for what was split.
    from borsa_spark.functions import similarity as sim
    from borsa_spark.queries import _LSH_CAP, _PLANES

    emb = load_table(spark, os.path.abspath(SCALE_DIR), "embeddings")
    t0 = time.time()
    rows = sim.lsh_oversized_buckets(emb, _PLANES, _LSH_CAP).agg(
        F.count("*").alias("n_buckets"),
        F.max("n_vecs").alias("max_vecs"),
        F.sum("n_subbuckets").alias("total_subbuckets"),
    ).collect()[0]
    ann_guard = {
        "query": "lsh_ann_bucket_guard",
        "sf": "sf1x10",
        "split_buckets": rows.n_buckets,
        "largest_bucket_vecs": rows.max_vecs,
        "total_subbuckets": int(rows.total_subbuckets or 0),
        "max_bucket_size": _LSH_CAP,
        "sec": round(time.time() - t0, 3),
    }
    results.append(ann_guard)
    print(json.dumps(ann_guard), flush=True)

    # ------------------------------------------------------------------
    # SemDeDup k-scaling drill: f52's gate query pins k=8 (the oracle
    # unrolls that exact recurrence), but the SCALE.md claim is "k grows
    # with n". Measure the same pipeline shape at the 10x embedding
    # corpus with k=8 vs k=64: candidate volume is sum(|cluster|^2), so
    # 8x more clusters should cut the intra-cluster join roughly 8x —
    # the receipt that raising k (not rewriting the query) is the scale
    # control. Outputs differ by design (SemDeDup trades recall within
    # farther-apart clusters for bounded cost); both row counts recorded.
    # ------------------------------------------------------------------
    for k in (8, 64):
        t0 = time.time()
        n_dups = sim.semdedup(emb, tau=0.40, k=k, iters=2).count()
        rec = {"query": f"semdedup_k{k}", "sf": "sf1x10", "rows": n_dups,
               "k": k, "sec": round(time.time() - t0, 3)}
        results.append(rec)
        print(json.dumps(rec), flush=True)

    # ------------------------------------------------------------------
    # Skewed-key evidence: one symbol carries ~50% of a ~3M-row tick table.
    # Measures (a) plain groupBy vs (b) salted_agg on algebraic aggregates —
    # map-side partial combine makes BOTH skew-immune (the honest baseline:
    # salting adds a second shuffle, so it should only be reached for when
    # partial combine can't help) — and (c) window row_number latest-row vs
    # (d) max_by aggregation, the real hazard: the window sorts the hot
    # key's full partition in ONE task, the aggregation partial-combines
    # map-side (the SCALE.md "merge is an aggregation, not a window" claim,
    # measured under genuine skew).
    # ------------------------------------------------------------------
    from pyspark.sql import Window

    from borsa_spark.operators.skew import salted_agg

    skew_path = os.path.join(os.path.dirname(os.path.abspath(SCALE_DIR)), "skew")
    if not os.path.exists(skew_path):
        ev = load_table(spark, "/root/testdata/sf0.1", "events")
        reps30 = spark.range(30).select(F.col("id").alias("rep"))
        (
            ev.crossJoin(F.broadcast(reps30))
            .select(
                F.when(F.pmod(F.xxhash64("event_id", "rep"), F.lit(2)) == 0,
                       F.lit("HOT"))
                .otherwise(F.col("event_type")).alias("symbol"),
                "ts",
                (F.col("value") + F.col("rep")).alias("price"),
                (F.col("event_id") * 100 + F.col("rep")).alias("seq"),
            )
            .repartition(16)
            .write.mode("overwrite").parquet(skew_path)
        )
    ticks = spark.read.parquet(skew_path)
    n_rows = ticks.count()
    hot_share = ticks.filter(F.col("symbol") == "HOT").count() / n_rows

    def timed(label, thunk):
        t0 = time.time()
        rows = thunk()
        rec = {"query": label, "sf": "skew3M", "rows": rows,
               "sec": round(time.time() - t0, 3)}
        results.append(rec)
        print(json.dumps(rec), flush=True)

    timed("skew_groupby_plain", lambda: ticks.groupBy("symbol").agg(
        F.sum("price"), F.count("*"), F.max("price")).count())
    timed("skew_groupby_salted", lambda: salted_agg(
        ticks, ["symbol"],
        {"total": ("sum", "price"), "n": ("count", "*"),
         "hi": ("max", "price")},
        buckets=32).count())
    w_latest = Window.partitionBy("symbol").orderBy(
        F.col("ts").desc(), F.col("seq").desc())
    timed("skew_latest_window", lambda: ticks.withColumn(
        "__r", F.row_number().over(w_latest)).filter(F.col("__r") == 1)
        .drop("__r").count())
    timed("skew_latest_maxby_agg", lambda: ticks.groupBy("symbol").agg(
        F.max_by(F.struct("price", "seq"), F.struct("ts", "seq"))
        .alias("latest")).count())
    meta = {"query": "skew_dataset", "sf": "skew3M", "rows": n_rows,
            "hot_share": round(hot_share, 4), "sec": 0.0}
    results.append(meta)
    print(json.dumps(meta), flush=True)

    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()

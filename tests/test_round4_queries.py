"""Unit pins for the round-4 additions beyond their sf0.01 oracle rows:
blocklist density rule, seeded training order, and SemDeDup's
cluster-bounded candidate generation. Each test drives the registered
query (or its underlying rule) on tiny synthetic inputs where the expected
answer is hand-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from borsa_spark.queries import (
    _BLOCK_DENSITY,
    _BLOCKLIST,
    QUERIES,
)

SF001 = "/root/testdata/sf0.001"


class TestBlocklistFilter:
    def test_density_rule_on_synthetic_docs(self, spark):
        # doc 1: 1 blocked of 10 tokens (10% -> keep, boundary inclusive);
        # doc 2: 2 blocked of 10 (20% -> drop); doc 3: clean (keep).
        rows = [
            (1, "dup " + "ok " * 9),
            (2, "dup slow " + "ok " * 8),
            (3, "ok " * 5),
        ]
        docs = spark.createDataFrame(
            [(i, t.strip()) for i, t in rows], ["doc_id", "text"]
        )
        toks = F.split(F.col("text"), " ")
        hits = F.filter(toks, lambda w: w.isin(*_BLOCKLIST))
        out = {
            r["doc_id"]: r
            for r in docs.select(
                "doc_id",
                F.size(toks).alias("n_tokens"),
                F.size(hits).alias("n_blocked_hits"),
                (
                    F.size(hits) <= _BLOCK_DENSITY * F.size(toks)
                ).alias("keep"),
            ).collect()
        }
        assert out[1]["keep"] and out[1]["n_blocked_hits"] == 1
        assert not out[2]["keep"] and out[2]["n_blocked_hits"] == 2
        assert out[3]["keep"] and out[3]["n_blocked_hits"] == 0

    def test_all_docs_emitted_with_verdict(self, spark):
        out = QUERIES["f53_blocklist_filter"](spark, SF001).collect()
        docs_n = spark.read.parquet(f"{SF001}/documents.parquet").count()
        assert len(out) == docs_n  # verdict column, not a survivor filter
        assert {"keep", "n_blocked_hits", "n_blocked_terms"} <= set(
            out[0].asDict()
        )


class TestTrainingOrder:
    def test_permutation_and_determinism(self, spark):
        a = QUERIES["f54_training_order"](spark, SF001).collect()
        b = QUERIES["f54_training_order"](spark, SF001).collect()
        assert sorted(r["position"] for r in a) == list(
            range(1, len(a) + 1)
        )  # a total order: positions are exactly 1..n
        assert {(r["doc_id"], r["position"]) for r in a} == {
            (r["doc_id"], r["position"]) for r in b
        }  # same seed -> identical order across runs
        # shards are balanced to within one doc (round-robin over positions)
        from collections import Counter

        shards = Counter(r["shard"] for r in a)
        assert max(shards.values()) - min(shards.values()) <= 1

    def test_order_is_not_doc_id_order(self, spark):
        a = QUERIES["f54_training_order"](spark, SF001).collect()
        by_pos = [r["doc_id"] for r in sorted(a, key=lambda r: r["position"])]
        assert by_pos != sorted(by_pos)  # md5 actually shuffled


class TestSemDeDup:
    def test_pairs_are_cluster_bounded(self, spark):
        out = QUERIES["f52_semdedup"](spark, SF001)
        # every reported vector names the cluster it was deduped within,
        # and its neighbor count is bounded by that cluster's size - 1
        from borsa_spark.functions import similarity as _sim

        emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
        cents = _sim.kmeans_centroids(emb, k=8, iters=2)
        sizes = {
            r["cluster"]: r["n"]
            for r in _sim.kmeans_assign(emb, cents)
            .groupBy("cluster")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for r in out.collect():
            assert r["n_dup_neighbors"] <= sizes[r["cluster"]] - 1
            assert 0.0 <= r["max_cos"] <= 1.0001


class TestTrainingOrderModel:
    def test_positions_match_independent_hash_model(self, spark):
        """The hierarchical rank (prefix-bucket local ranks + broadcast
        offsets) must equal the plain total order of md5(seed||doc_id)
        computed independently in Python — the model the oracle's single
        window expresses."""
        import hashlib

        got = {
            r["doc_id"]: r["position"]
            for r in QUERIES["f54_training_order"](spark, SF001).collect()
        }
        ids = sorted(got)
        keyed = sorted(
            ids,
            key=lambda d: (
                hashlib.md5(f"epoch0:{d}".encode()).hexdigest(),
                d,
            ),
        )
        want = {d: i + 1 for i, d in enumerate(keyed)}
        assert got == want


class TestSemDeDupProduction:
    def test_auto_k_finds_planted_near_identical_dups(self, spark):
        """The auto-k production path must catch near-identical vectors
        (the regime SemDeDup targets: epsilon-close copies almost never
        straddle a Voronoi boundary at any k) with zero false positives
        against the brute-force truth at the same tau."""
        import math

        from borsa_spark.functions.similarity import dot, norm2, semdedup

        # 200 diverse base vectors + 40 planted near-copies (tiny
        # deterministic perturbation -> cosine ~0.9999 to their base)
        def vec(seed, dim=16):
            return [
                math.sin(0.7 * seed + 1.3 * i) for i in range(dim)
            ]

        rows = [(i, vec(i)) for i in range(200)]
        rows += [
            (1000 + i, [x + 0.001 * ((i + j) % 3) for j, x in enumerate(vec(i))])
            for i in range(40)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        flagged = {r["vec_id"] for r in semdedup(emb, tau=0.95).collect()}
        e = emb.select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        ).withColumn("n", norm2(F.col("v")))
        a = e.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"),
                     F.col("n").alias("na"))
        b = e.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
                     F.col("n").alias("nb"))
        cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        truth = {
            r["ia"]
            for r in a.crossJoin(b)
            .filter(F.col("ib") < F.col("ia"))
            .filter(cos >= 0.95)
            .select("ia")
            .distinct()
            .collect()
        }
        assert flagged <= truth                   # no false positives ever
        assert len(truth) >= 40                   # the plants are real dups
        planted = {1000 + i for i in range(40)}
        assert len(flagged & planted) >= 38       # near-total recall

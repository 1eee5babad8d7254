"""Unit pins for the round-4 additions beyond their sf0.01 oracle rows:
blocklist density rule and seeded training order. Each test drives the
registered query (or its underlying rule) on tiny synthetic inputs where
the expected answer is hand-checkable.
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

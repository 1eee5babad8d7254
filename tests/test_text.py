"""Text-function edge cases: null / empty / whitespace-only documents must
not crash or emit surprising sentinel values at corpus scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from borsa_spark.functions import text as tx


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the cat sat of the mat and to in"),
        (2, ""),
        (3, None),
        (4, "   "),
        (5, "el la de que y el la"),
        (6, "x"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestTextEdgeCases:
    def test_token_count_handles_null_and_empty(self, docs):
        out = {
            r.doc_id: r.n
            for r in docs.select(
                "doc_id", tx.token_count(F.col("text")).alias("n")
            ).collect()
        }
        assert out[1] == 9
        assert out[2] == 1      # single empty token (split semantics)
        assert out[3] is None   # null text -> null, never a crash or -1
        assert out[4] == 4      # "   " -> 4 empty tokens
        assert out[6] == 1

    def test_quality_and_ratio_null_safe(self, docs):
        out = docs.select(
            "doc_id",
            tx.quality_score(F.col("text")).alias("q"),
            F.round(tx.distinct_token_ratio(F.col("text")), 4).alias("r"),
        ).collect()
        by_id = {r.doc_id: r for r in out}
        assert by_id[3].q is None and by_id[3].r is None
        assert 0.0 <= float(by_id[1].q) <= 1.0

    def test_lang_guess_deterministic_on_ties(self, docs):
        out = {
            r.doc_id: r.lang
            for r in docs.select(
                "doc_id", tx.lang_guess(F.col("text")).alias("lang")
            ).collect()
        }
        assert out[1] == "en"
        assert out[5] == "es"
        # no stopword hits anywhere -> all-zero tie -> first language wins
        assert out[6] == "en"

    def test_fingerprint_null_and_normalization(self, docs, spark):
        out = {
            r.doc_id: r.fp
            for r in docs.select(
                "doc_id", tx.fingerprint(F.col("text")).alias("fp")
            ).collect()
        }
        assert out[3] is None
        # normalization: case and punctuation don't change the fingerprint
        same = spark.createDataFrame(
            [(1, "Hello, World!"), (2, "hello world")], "doc_id long, text string"
        )
        fps = [r.fp for r in same.select(
            tx.fingerprint(F.col("text")).alias("fp")).collect()]
        assert fps[0] == fps[1]


class TestLshBucketGuard:
    def test_hot_bucket_excluded_and_accounted(self, spark):
        from borsa_spark.functions import dedup as dd

        # 6 near-identical docs (one hot bucket) + 2 distinct similar docs
        base = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(i, base) for i in range(6)]
        rows += [(10, "one two three four five six seven"),
                 (11, "one two three four five six eight")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sig = dd.minhash_signature(dd.shingles(docs, 3))

        # explicit None (round-10 flipped the default to capped):
        # this baseline must stay the exhaustive form it names
        uncapped = dd.minhash_candidates(sig, max_bucket_size=None)
        assert uncapped.count() == 15 + 1  # C(6,2) hot + 1 normal pair

        capped = dd.minhash_candidates(sig, max_bucket_size=3)
        pairs = {(r.id_a, r.id_b) for r in capped.collect()}
        assert pairs == {(10, 11)}  # hot cohort excluded wholesale

        over = dd.oversized_buckets(sig, max_bucket_size=3).collect()
        assert over and all(r.n_docs == 6 for r in over)


class TestIncrementalDedup:
    def test_cross_set_pairs_match_full_pipeline(self, spark):
        """pairs_against == the full f7 pair set restricted to cross-set
        pairs (one side in the corpus, one in the batch), re-oriented so
        id_a is always the new doc."""
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        sh = dd.shingles(docs, 3).persist()
        full = dd.verify_jaccard(
            dd.minhash_candidates(dd.minhash_signature(sh)), sh, 0.5
        ).collect()
        expected = set()
        for r in full:
            a_old, b_old = r.id_a % 5 == 0, r.id_b % 5 == 0
            if a_old != b_old:  # exactly one side in the corpus
                new, old = (r.id_b, r.id_a) if a_old else (r.id_a, r.id_b)
                expected.add((new, old, r.jaccard))
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dd.minhash_pairs_against(
                sh, (F.col("id") % 5) == 0, 0.5
            ).collect()
        }
        sh.unpersist()
        assert got == expected
        assert expected  # non-vacuous: sf0.001 has cross-set near-dups

    def test_bucket_cap_applies(self, spark):
        from borsa_spark.functions import dedup as dd

        base = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(i, base) for i in range(6)]  # ids 0,5 corpus; rest new
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dd.shingles(docs, 3)
        uncapped = dd.minhash_pairs_against(
            sh, (F.col("id") % 5) == 0, 0.5, max_bucket_size=None
        )
        assert uncapped.count() == 8  # 4 new docs x 2 corpus docs
        capped = dd.minhash_pairs_against(
            sh, (F.col("id") % 5) == 0, 0.5, max_bucket_size=3
        )
        assert capped.count() == 0  # hot bucket excluded wholesale


class TestDupClusters:
    def test_chain_and_singletons(self, spark):
        from borsa_spark.functions import dedup as dd

        # chain 1-2-3 (diameter 2), pair 10-11, isolated 20
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 10, 11, 20)], "id long"
        )
        out = {r.id: r.comp for r in dd.dup_clusters(pairs, nodes).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}

    def test_long_chain_converges(self, spark):
        from borsa_spark.functions import dedup as dd

        n = 12  # diameter 11 -> needs several propagation rounds
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        out = {r.id: r.comp for r in dd.dup_clusters(pairs, nodes).collect()}
        assert out == {i: 0 for i in range(n)}

    def test_non_convergence_is_loud(self, spark):
        import pytest

        from borsa_spark.functions import dedup as dd

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
        with pytest.raises(RuntimeError, match="did not converge"):
            dd.dup_clusters(pairs, nodes, max_iters=2, algorithm="label_prop")


class TestStarContraction:
    def test_chain_beyond_label_prop_budget(self, spark):
        """A 50-link chain has diameter 50: label propagation cannot finish
        in 20 rounds (loud error), star contraction converges comfortably
        inside the same budget — the O(log^2 n) vs O(diameter) contrast the
        default algorithm exists for."""
        import pytest

        from borsa_spark.functions import dedup as dd

        n = 51  # 50 edges
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        with pytest.raises(RuntimeError, match="did not converge"):
            dd.dup_clusters(pairs, nodes, max_iters=20, algorithm="label_prop")
        out = {r.id: r.comp
               for r in dd.dup_clusters(pairs, nodes, max_iters=20).collect()}
        assert out == {i: 0 for i in range(n)}

    def test_empty_pairs_all_singletons(self, spark):
        from borsa_spark.functions import dedup as dd

        pairs = spark.createDataFrame([], "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in (3, 7)], "id long")
        out = {r.id: r.comp for r in dd.dup_clusters(pairs, nodes).collect()}
        assert out == {3: 3, 7: 7}

    def test_unknown_algorithm_rejected(self, spark):
        import pytest

        from borsa_spark.functions import dedup as dd

        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        nodes = spark.createDataFrame([(1,), (2,)], "id long")
        with pytest.raises(ValueError, match="unknown algorithm"):
            dd.dup_clusters(pairs, nodes, algorithm="bogus")


class TestJaccardFullJoinGuard:
    def test_guard_triggers_and_optin_bypasses(self, spark):
        import pytest

        from borsa_spark.functions import dedup as dd

        base = "alpha beta gamma delta epsilon zeta"
        docs = spark.createDataFrame(
            [(i, base) for i in range(5)], "doc_id long, text string"
        )
        sh = dd.shingles(docs, 3)
        with pytest.raises(ValueError, match="minhash_dedup_pairs"):
            dd.jaccard_pairs(sh, 0.5, max_docs=3)
        assert dd.jaccard_pairs(
            sh, 0.5, max_docs=3, allow_full_self_join=True
        ).count() == 10  # C(5,2) identical docs
        # under the cap: no opt-in needed
        assert dd.jaccard_pairs(sh, 0.5).count() == 10


class TestInRowSignature:
    def test_matches_grouped_signature(self, spark):
        """minhash_signature_inrow must be bit-identical to the grouped
        path (same coefficients, same pmod domain) on real driver docs —
        the zero-shuffle scan-speed variant is an optimization, never a
        semantic fork."""
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        g = dd.minhash_signature(dd.shingles(docs, 3)).orderBy("id").collect()
        i = dd.minhash_signature_inrow(docs, 3).orderBy("id").collect()
        assert [tuple(r) for r in g] == [tuple(r) for r in i]
        assert g  # non-vacuous


class TestShingleHashModes:
    def test_xxhash64_mode_same_verified_pairs(self, spark, monkeypatch):
        """The xxhash64 fast path changes bucket assignment, never verified
        -pair semantics: on real driver docs the LSH-verified pair set is
        identical between modes (near-dup pairs here are far above the
        banding recall knee in both hash spaces)."""
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")

        def pairs():
            sh = dd.shingles(docs, 3)
            out = dd.verify_jaccard(
                dd.minhash_candidates(dd.minhash_signature(sh)), sh, 0.5
            )
            return {(r.id_a, r.id_b, r.jaccard) for r in out.collect()}

        monkeypatch.delenv("BORSA_SPARK_SHINGLE_HASH", raising=False)
        md5_pairs = pairs()
        monkeypatch.setenv("BORSA_SPARK_SHINGLE_HASH", "xxhash64")
        xx_pairs = pairs()
        assert md5_pairs == xx_pairs
        assert md5_pairs  # non-vacuous

    def test_split_assign_is_deterministic_and_salted(self, spark):
        from borsa_spark.functions import text as tx
        from pyspark.sql import functions as F

        ids = spark.range(2000).select(F.col("id").alias("doc_id"))
        a = ids.select("doc_id", tx.split_assign(F.col("doc_id")).alias("s"))
        b = ids.select("doc_id", tx.split_assign(F.col("doc_id")).alias("s"))
        assert a.exceptAll(b).isEmpty()  # stable across evaluations
        frac = a.groupBy("s").count().collect()
        by = {r.s: r["count"] for r in frac}
        assert 0.85 < by["train"] / 2000 < 0.95  # ~90/5/5
        resalted = ids.select(
            "doc_id", tx.split_assign(F.col("doc_id"), salt="other").alias("s")
        )
        # a different salt reassigns a meaningful share of docs
        moved = a.join(resalted.withColumnRenamed("s", "s2"), "doc_id").filter(
            "s != s2"
        ).count()
        assert moved > 0


class TestDupClustersRandomized:
    import pytest as _pytest

    @_pytest.mark.parametrize("algorithm", ["star", "label_prop"])
    def test_matches_union_find_on_random_graph(self, spark, algorithm):
        """Seeded random graph vs a pure-Python union-find reference."""
        import random

        from borsa_spark.functions import dedup as dd

        rng = random.Random(20260813)
        n = 40
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(45)})

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        # canonicalize to min-id per component
        comp_min: dict[int, int] = {}
        for i in range(n):
            r = find(i)
            comp_min[r] = min(comp_min.get(r, i), i)
        want = {i: comp_min[find(i)] for i in range(n)}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        got = {r.id: r.comp
               for r in dd.dup_clusters(pairs, nodes, max_iters=40,
                                        algorithm=algorithm).collect()}
        assert got == want


class TestMixtureAndSampling:
    """f31-f34 invariants on the real sf0.001 tables (the oracle gate checks
    exact values at sf0.01; these pin the semantic properties)."""

    SF = "/root/testdata/sf0.001"

    def test_stratified_sample_rates_and_determinism(self, spark):
        from borsa_spark.queries import QUERIES

        out = QUERIES["f31_stratified_sample"](spark, self.SF)
        again = QUERIES["f31_stratified_sample"](spark, self.SF)
        a = sorted(r.doc_id for r in out.collect())
        b = sorted(r.doc_id for r in again.collect())
        assert a == b  # no rand(): resampling is exact
        from borsa_spark.sources import load_table
        docs = load_table(spark, self.SF, "documents")
        kept = {r.lang: r.n for r in out.groupBy("lang").agg(
            F.count("*").alias("n")).collect()}
        total = {r.lang: r.n for r in docs.groupBy("lang").agg(
            F.count("*").alias("n")).collect()}
        # keep-all languages must be intact; downsampled en strictly smaller
        for lg in total:
            if lg in ("fr", "de", "es"):
                assert kept.get(lg, 0) == total[lg]
        assert kept.get("en", 0) < total["en"]

    def test_intra_doc_repetition_bounds(self, spark):
        from borsa_spark.queries import QUERIES

        rows = QUERIES["f32_intra_doc_repetition"](spark, self.SF).collect()
        assert rows
        for r in rows:
            assert 0.0 <= r.dup_ratio <= 1.0
            assert r.n_grams >= 0

    def test_repetition_expression_on_synthetic_docs(self, spark):
        # a doc that is one 3-gram looped 4x has high dup_ratio; a doc of
        # all-distinct words has 0; short docs (<3 words) report 0 not null
        df = spark.createDataFrame(
            [(1, "a b c a b c a b c a b c"),
             (2, "one two three four five"),
             (3, "hi"),],
            "doc_id long, text string",
        )
        import borsa_spark.queries as q

        words = F.split(F.col("text"), " ")
        n_total = F.greatest(F.size(words) - 2, F.lit(0))
        grams = F.when(
            F.size(words) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 2),
                lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        out = {
            r.doc_id: r.ratio
            for r in df.select(
                "doc_id",
                F.when(n_total > 0,
                       F.round(1.0 - F.size(F.array_distinct(grams)) / n_total, 4)
                       ).otherwise(F.lit(0.0)).alias("ratio"),
            ).collect()
        }
        assert out[1] > 0.6      # 10 grams, 3 distinct
        assert out[2] == 0.0
        assert out[3] == 0.0     # short doc: defined, not null

    def test_dedup_survivors_partition_docs(self, spark):
        from borsa_spark.queries import QUERIES
        from borsa_spark.sources import load_table

        surv = QUERIES["f33_dedup_survivors"](spark, self.SF).collect()
        n_docs = load_table(spark, self.SF, "documents").count()
        # every doc belongs to exactly one cluster; members sum to the corpus
        assert sum(r.n_members for r in surv) == n_docs
        for r in surv:
            assert r.n_dropped == r.n_members - 1
            assert r.kept_doc_id >= r.component  # component = min doc_id

    def test_mixture_weights_uniform_target(self, spark):
        from borsa_spark.queries import QUERIES

        rows = QUERIES["f34_mixture_weights"](spark, self.SF).collect()
        assert rows
        for r in rows:
            assert r.sample_rate <= 1.0
            assert abs(r.sample_rate - min(1.0, r.weight)) < 1e-9
        # weights are relative to the uniform target: mean of n_tokens*weight
        # equals total/n (up to rounding)
        total = sum(r.n_tokens for r in rows)
        for r in rows:
            assert abs(r.weight * r.n_tokens - total / len(rows)) < total * 1e-3


class TestSimhashInRow:
    def test_matches_grouped_path(self, spark):
        """simhash_inrow must be bit-identical to the exploded/grouped
        formulation on real driver documents (same majority rule, same
        tie handling, same <n-word drop semantics)."""
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        old = {(r.id, r.simhash)
               for r in dd.simhash(dd.shingles(docs, 3)).collect()}
        new = {(r.id, r.simhash)
               for r in dd.simhash_inrow(docs, 3).collect()}
        assert new == old and new

    def test_short_and_tied_docs(self, spark):
        from borsa_spark.functions import dedup as dd

        df = spark.createDataFrame(
            [(1, "a b"),              # <3 words -> dropped
             (2, "x y z"),           # single shingle -> simhash = its bits
             (3, None)],             # null text -> dropped
            "doc_id long, text string",
        )
        rows = {r.id: r.simhash for r in dd.simhash_inrow(df, 3).collect()}
        assert set(rows) == {2}
        # one shingle: every set bit of the hash wins its majority vote
        sh = dd.shingles(df.filter("doc_id = 2"), 3).collect()[0].shingle
        assert rows[2] == sh & 0xFFFFFFFF


class TestHashBucketProperties:
    def test_uniformity_and_salt_independence(self, spark):
        """hash_bucket must spread sequential ids near-uniformly (each
        split-relevant decile within 3x of expectation on 10k ids) and
        re-salting must produce a materially different assignment."""
        from borsa_spark.functions.text import hash_bucket

        ids = spark.range(10_000)
        b = ids.select(
            hash_bucket(F.col("id"), "saltA").alias("a"),
            hash_bucket(F.col("id"), "saltB").alias("b"),
        )
        rows = b.collect()
        deciles = [0] * 10
        for r in rows:
            assert 0 <= r.a < 10_000
            deciles[r.a // 1000] += 1
        for d in deciles:
            assert 300 < d < 3000  # 1000 expected
        moved = sum(1 for r in rows if (r.a < 9000) != (r.b < 9000))
        assert moved > 100  # independent draws: ~18% expected to flip

    def test_engine_portability(self, spark):
        """The Spark expression and the documented SQL form must agree
        value-for-value (this is what makes f18/f29/f31/f36 oracle-safe)."""
        import duckdb

        from borsa_spark.functions.text import hash_bucket, sql_hash_bucket

        got = {
            r.id: r.bkt
            for r in spark.range(500)
            .select("id", hash_bucket(F.col("id"), "porta").alias("bkt"))
            .collect()
        }
        want = dict(
            duckdb.sql(
                "SELECT id, "
                + sql_hash_bucket("id", "porta")
                + " AS bkt FROM range(500) t(id)"
            ).fetchall()
        )
        assert got == want


class TestSequencePacking:
    def test_pack_invariants_on_driver_docs(self, spark):
        """Every doc lands in exactly one bin; bins respect the budget
        unless they hold a single oversized doc; bin ids are dense per
        stream."""
        from borsa_spark.functions.packing import pack_sequences
        from borsa_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = pack_sequences(docs, budget=256, n_streams=4).collect()
        assert len(out) == docs.count()
        fills: dict = {}
        for r in out:
            fills.setdefault((r.stream_id, r.bin_id), []).append(r.n_tokens)
        for (_, _), toks in fills.items():
            assert sum(toks) <= 256 or len(toks) == 1  # oversized solo doc
        for s in {r.stream_id for r in out}:
            bins = sorted({r.bin_id for r in out if r.stream_id == s})
            assert bins == list(range(len(bins)))  # dense from 0

    def test_oversized_doc_gets_own_bin(self, spark):
        from borsa_spark.functions.packing import pack_sequences

        df = spark.createDataFrame(
            [(1, "w " * 9 + "w"),        # 10 tokens
             (2, "w " * 499 + "w"),      # 500 tokens > budget
             (3, "w " * 9 + "w")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in
                pack_sequences(df, budget=20, n_streams=1).collect()}
        big = rows[2]
        mates = [r for r in rows.values()
                 if r.bin_id == big.bin_id and r.doc_id != 2]
        assert big.n_tokens == 500 and not mates  # alone in its bin

    def test_packing_deterministic_across_partitionings(self, spark):
        from borsa_spark.functions.packing import pack_sequences
        from borsa_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        a = {tuple(r) for r in pack_sequences(docs, 256, 4).collect()}
        b = {tuple(r) for r in
             pack_sequences(docs.repartition(17), 256, 4).collect()}
        assert a == b


class TestContainmentPairs:
    def test_prefix_float_boundary_exact_ratio(self, spark):
        """The PPJoin prefix at the float boundary: smaller doc with
        exactly 10 shingles, 9 shared -> containment exactly 0.9. The
        real-math prefix is 2, but (1.0-0.9)*10 = 0.9999999999999998
        floors to 0 — a +1 formula emits a 1-shingle prefix and, with the
        unshared shingle the RAREST (df 1 vs 2, sorting first), misses
        the pair entirely. Pins the +2 slack."""
        import borsa_spark.functions.dedup as dd

        words = [f"w{i}" for i in range(12)]  # 10 overlapping 3-gram shingles
        small = " ".join(words)
        # shares every shingle except w0 w1 w2 (drop the first word)
        big = " ".join(words[1:]) + " " + " ".join(f"t{i}" for i in range(30))
        docs = spark.createDataFrame(
            [(1, small), (2, big)], "doc_id long, text string"
        )
        out = {
            (r.id_a, r.id_b): r
            for r in dd.containment_pairs(docs, n=3, threshold=0.9).collect()
        }
        assert (1, 2) in out
        assert float(out[(1, 2)].containment) == 0.9

    def test_subset_duplicate_found_despite_low_jaccard(self, spark):
        """A short doc pasted inside a much longer one: containment = 1.0
        but jaccard is small — minhash-LSH banding (which approximates
        jaccard) would never surface it; the df-capped shingle join must."""
        import borsa_spark.functions.dedup as dd

        small = "alpha beta gamma delta epsilon zeta"
        filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
        docs = spark.createDataFrame(
            [
                (1, small),
                (2, small + " " + filler),
                (3, "totally different words here entirely " + filler[:60]),
            ],
            "doc_id long, text string",
        )
        out = dd.containment_pairs(docs, n=3, threshold=0.9).collect()
        pairs = {(r.id_a, r.id_b): r for r in out}
        assert (1, 2) in pairs
        r = pairs[(1, 2)]
        assert float(r.containment) == 1.0
        # the small doc's 4 shingles all live in doc 2, but jaccard is tiny
        assert float(r.jaccard) < 0.5
        # and the jaccard-based production pipeline at 0.5 misses the pair,
        # which is exactly why containment needs its own candidate path
        jacc = dd.minhash_dedup_pairs(docs, n=3, threshold=0.5).collect()
        assert (1, 2) not in {(x.id_a, x.id_b) for x in jacc}

    def test_df_cap_drops_common_only_pairs(self, spark):
        """Docs whose ONLY overlap is corpus-ubiquitous shingles are not
        candidates once those shingles exceed the df cap (documented cap
        semantics: boilerplate overlap is not subset duplication)."""
        import borsa_spark.functions.dedup as dd

        boiler = "all rights reserved terms of use"
        rows = [(i, boiler + f" unique{i} tail{i} words{i}") for i in range(8)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = dd.containment_pairs(docs, n=3, threshold=0.5,
                                   max_shingle_df=3).collect()
        assert out == []


class TestCorpusModelQueries:
    """Analytic pins for the corpus-LM queries (f41/f42) on constructed
    corpora with closed-form answers."""

    @staticmethod
    def _write_docs(spark, tmp_path, rows):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long"
        )
        df.write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def test_f41_uniform_corpus_closed_form(self, spark, tmp_path):
        import math

        from borsa_spark.queries import f41_unigram_logprob

        # two docs, vocabulary {a, b}, perfectly uniform: p(a)=p(b)=1/2,
        # so every doc's mean log-prob is ln(1/2)
        sf = self._write_docs(spark, tmp_path, [
            (1, "a a b b", "en", "s1", 7),
            (2, "b a b a", "en", "s1", 7),
        ])
        out = {r.doc_id: r for r in f41_unigram_logprob(spark, sf).collect()}
        assert out[1].n_tokens == 4 and out[2].n_tokens == 4
        want = round(math.log(0.5), 4)
        assert float(out[1].avg_logprob) == want
        assert float(out[2].avg_logprob) == want

    def test_f42_identical_source_distribution_zero_kl(self, spark, tmp_path):
        from borsa_spark.queries import f42_source_kl_divergence

        # both sources have the same token distribution -> KL == 0 for each
        sf = self._write_docs(spark, tmp_path, [
            (1, "x y x y", "en", "s1", 7),
            (2, "x y x y", "en", "s2", 7),
        ])
        out = {r.source: r for r in
               f42_source_kl_divergence(spark, sf).collect()}
        assert float(out["s1"].kl_divergence) == 0.0
        assert float(out["s2"].kl_divergence) == 0.0

    def test_f42_skewed_source_positive_kl(self, spark, tmp_path):
        import math

        from borsa_spark.queries import f42_source_kl_divergence

        # s1 emits only 'x', s2 only 'y', corpus is 50/50: each source's
        # KL = 1.0 * ln(1.0 / 0.5) = ln 2
        sf = self._write_docs(spark, tmp_path, [
            (1, "x x x x", "en", "s1", 7),
            (2, "y y y y", "en", "s2", 7),
        ])
        out = {r.source: r for r in
               f42_source_kl_divergence(spark, sf).collect()}
        want = round(math.log(2.0), 4)
        assert float(out["s1"].kl_divergence) == want
        assert float(out["s2"].kl_divergence) == want


class TestIncrementalInrow:
    def test_inrow_matches_exploded_cross_set_pairs(self, spark):
        """minhash_pairs_against_inrow must produce the identical cross-set
        pair set and jaccard values as the exploded-relation variant."""
        import borsa_spark.functions.dedup as dd

        base = ("spark rows shuffle join agg window sort merge scan "
                "filter table column").split()
        rows = []
        for i in range(30):
            words = [base[(i + j) % len(base)] for j in range(12)]
            if i % 3 == 0:  # near-dups of doc i-1 across the set boundary
                words = words[:-1] + ["tail"]
            rows.append((i, " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        from pyspark.sql import functions as F

        flag = F.col("id") % 5 == 0
        old = dd.minhash_pairs_against(dd.shingles(docs, 3), flag, 0.5)
        new = dd.minhash_pairs_against_inrow(docs, flag, threshold=0.5)
        o = {(r.id_a, r.id_b): float(r.jaccard) for r in old.collect()}
        n = {(r.id_a, r.id_b): float(r.jaccard) for r in new.collect()}
        assert o == n and len(n) > 0


class TestContainmentStopShingles:
    def test_cap_accounting_reports_excluded_boilerplate(self, spark):
        import borsa_spark.functions.dedup as dd

        boiler = "all rights reserved terms of use"
        rows = [(i, boiler + f" unique{i} tail{i} words{i}") for i in range(8)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        over = dd.containment_stop_shingles(docs, n=3,
                                            max_shingle_df=3).collect()
        # the 4 boilerplate 3-grams appear in all 8 docs -> df=8 > 3
        assert len(over) == 4
        assert all(r.df == 8 for r in over)


class TestSubstringSpans:
    """repeated_substring_spans: hand-checkable span geometry."""

    def _spans(self, spark, rows, **kw):
        from borsa_spark.functions.dedup import repeated_substring_spans

        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return repeated_substring_spans(docs, **kw).collect()

    def test_shared_run_reported_with_exact_offsets(self, spark):
        shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
        rows = [
            (1, "a b c " + shared + " x y"),       # shared starts at 4
            (2, shared + " p q r"),                # shared starts at 1
        ]
        got = self._spans(spark, rows, k=5, min_len=8)
        assert len(got) == 1
        s = got[0]
        assert (s.id_a, s.id_b) == (1, 2)
        assert (s.start_a, s.start_b, s.len_tokens) == (4, 1, 10)

    def test_below_min_len_not_reported(self, spark):
        shared = " ".join(f"s{i}" for i in range(7))  # 7 < min_len 8
        rows = [(1, shared + " aa bb"), (2, "zz " + shared)]
        assert self._spans(spark, rows, k=5, min_len=8) == []

    def test_two_separate_runs_stay_separate(self, spark):
        r1 = " ".join(f"a{i}" for i in range(8))
        r2 = " ".join(f"b{i}" for i in range(9))
        rows = [
            (1, r1 + " gap1 gap2 " + r2),
            (2, r2 + " other tokens here " + r1),
        ]
        got = sorted(
            self._spans(spark, rows, k=5, min_len=8),
            key=lambda s: s.len_tokens,
        )
        assert [s.len_tokens for s in got] == [8, 9]

    def test_gram_df_cap_drops_boilerplate(self, spark):
        shared = " ".join(f"s{i}" for i in range(10))
        rows = [(i, shared) for i in range(1, 6)]  # 5 identical docs
        # cap 4 < 5 docs: every gram is over-df -> no spans at all
        assert self._spans(spark, rows, k=5, min_len=8,
                           max_gram_df=4) == []
        # cap 5: all C(5,2)=10 pairs report the full 10-token span
        got = self._spans(spark, rows, k=5, min_len=8, max_gram_df=5)
        assert len(got) == 10
        assert all(s.len_tokens == 10 for s in got)


class TestRepetitionSignals:
    def test_hand_computed_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b a b a"), (2, "x"), (3, "u v w")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in tx.repetition_signals(docs).collect()}
        # doc 1: words [a,b,a,b,a]; bigrams [a b, b a, a b, b a]
        assert (out[1].n_words, out[1].n_distinct) == (5, 2)
        assert (out[1].top_c, out[1].n_bigrams) == (2, 4)
        assert out[1].dup_word_frac == pytest.approx(0.6)
        assert out[1].top_bigram_frac == pytest.approx(0.5)
        # doc 2: a single word has no bigrams -> frac 0, not null
        assert (out[2].top_c, out[2].n_bigrams) == (0, 0)
        assert out[2].top_bigram_frac == 0.0
        assert out[2].dup_word_frac == 0.0
        # doc 3: all distinct, every bigram unique
        assert (out[3].n_words, out[3].n_distinct) == (3, 3)
        assert (out[3].top_c, out[3].n_bigrams) == (1, 2)


class TestStratifiedSample:
    def _docs(self, spark):
        rows = [(i, "t", ["en", "de", "fr"][i % 3]) for i in range(300)]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_membership_matches_hash_bucket(self, spark):
        docs = self._docs(spark)
        kept = tx.stratified_sample(
            docs, "lang", {"en": 0.3}, default_rate=0.7, salt="s1"
        )
        got = {r.doc_id for r in kept.collect()}
        manual = {
            r.doc_id
            for r in docs.select(
                "doc_id",
                tx.hash_bucket(F.col("doc_id"), "s1").alias("b"),
                "lang",
            ).collect()
            if r.b < (3000 if r.lang == "en" else 7000)
        }
        assert got == manual

    def test_deterministic_and_salt_independent(self, spark):
        docs = self._docs(spark)
        a = {r.doc_id for r in tx.stratified_sample(
            docs, "lang", {}, default_rate=0.5, salt="s1").collect()}
        b = {r.doc_id for r in tx.stratified_sample(
            docs, "lang", {}, default_rate=0.5, salt="s1").collect()}
        c = {r.doc_id for r in tx.stratified_sample(
            docs, "lang", {}, default_rate=0.5, salt="s2").collect()}
        assert a == b          # pure function of (salt, id)
        assert a != c          # a new salt draws an independent sample

    def test_rate_extremes(self, spark):
        docs = self._docs(spark)
        assert tx.stratified_sample(
            docs, "lang", {"en": 0.0}, default_rate=1.0).filter(
            F.col("lang") == "en").count() == 0
        assert tx.stratified_sample(
            docs, "lang", {"en": 1.0}, default_rate=0.0).count() == 100


class TestWinnowFingerprints:
    def test_hand_computed_k2_w2(self, spark):
        import hashlib

        words = ["b", "a", "c", "a", "b"]
        grams = [" ".join(words[i : i + 2]) for i in range(4)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        fps = {min(hs[i], hs[i + 1]) for i in range(3)}
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        row = tx.winnow_fingerprints(docs, k=2, w=2).collect()[0]
        assert row.n_grams == 4
        assert row.n_fp == len(fps)
        assert row.min_fp == min(fps)
        assert row.max_fp == max(fps)

    def test_short_doc_yields_no_row(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e")], "doc_id long, text string"
        )
        # k + w - 1 = 6 words needed; 5 -> no full window, no row
        assert tx.winnow_fingerprints(docs, k=3, w=4).count() == 0

    def test_shared_run_guarantee(self, spark):
        # the paper's property: a shared run of >= k + w - 1 words
        # forces at least one shared fingerprint
        shared = "q w e r t y"
        docs = spark.createDataFrame(
            [(1, "a b c " + shared), (2, shared + " z x v")],
            "doc_id long, text string",
        )
        out = tx.winnow_fingerprints(docs, k=3, w=4)
        # recompute the full fingerprint sets locally for the overlap check
        import hashlib

        def fset(text):
            ws = text.split(" ")
            hs = [
                hashlib.md5(" ".join(ws[i : i + 3]).encode()).hexdigest()
                for i in range(len(ws) - 2)
            ]
            return {min(hs[i : i + 4]) for i in range(len(hs) - 3)}

        s1 = fset("a b c " + shared)
        s2 = fset(shared + " z x v")
        assert s1 & s2, "winnowing guarantee violated in the local model"
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[1].n_fp == len(s1) and rows[2].n_fp == len(s2)


class TestWinnowPairs:
    def test_shared_run_pairs_and_composition(self, spark):
        # two docs sharing a >= k+w-1 run must pair; the pair then
        # scopes the exact span extractor (the production composition)
        shared = "q w e r t y u i"
        rows = [
            (1, "a b c " + shared),
            (2, shared + " z x v"),
            (3, "n o p m l j h g f d"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = tx.winnow_pairs(docs, k=3, w=4, min_shared=1).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}

        from borsa_spark.functions.dedup import repeated_substring_spans

        cand = spark.createDataFrame(
            [(p.id_a, p.id_b) for p in pairs], "id_a long, id_b long"
        )
        spans = (
            repeated_substring_spans(docs, k=3, min_len=8)
            .join(cand, ["id_a", "id_b"], "left_semi")
            .collect()
        )
        assert len(spans) == 1 and spans[0].len_tokens == 8

    def test_df_cap_drops_boilerplate_fp(self, spark):
        # 6 identical boilerplate docs: every fingerprint has df = 6, so
        # a cap of 5 drops them all and no pair survives — while the
        # uncapped run pairs all C(6,2). (Docs that merely CONTAIN shared
        # boilerplate still pair via windows straddling their distinct
        # tails — that is true overlap, not cap leakage.)
        boiler = "terms of service apply to everything here"
        rows = [(i, boiler) for i in range(6)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = tx.winnow_pairs(
            docs, k=3, w=4, min_shared=1, max_fp_df=100
        ).count()
        capped = tx.winnow_pairs(
            docs, k=3, w=4, min_shared=1, max_fp_df=5
        ).count()
        assert uncapped == 15 and capped == 0

    def test_min_shared_threshold(self, spark):
        shared = "q w e r t y u i o p a s d f"
        docs = spark.createDataFrame(
            [(1, shared), (2, shared + " k1 k2")],
            "doc_id long, text string",
        )
        many = tx.winnow_pairs(docs, k=3, w=4, min_shared=1).collect()
        assert many and many[0].shared_fps >= 2
        assert (
            tx.winnow_pairs(
                docs, k=3, w=4, min_shared=many[0].shared_fps + 1
            ).count()
            == 0
        )


class TestCandidateSubstringSpans:
    """f93 two-stage exact-substring dedup: the winnow screen's recall
    claim — on this corpus the candidate-restricted extractor must
    produce EXACTLY the corpus-wide f61 span set (the screen proposes
    every true span pair), despite dropping the df cap and building
    anchors only for candidate docs."""

    def test_equals_corpus_wide_spans(self, spark):
        from borsa_spark.queries import QUERIES

        sf = "/root/testdata/sf0.01"
        two_stage = sorted(
            tuple(r)
            for r in QUERIES["f93_candidate_substring_spans"](
                spark, sf
            ).collect()
        )
        corpus_wide = sorted(
            tuple(r)
            for r in QUERIES["f61_substring_spans"](spark, sf).collect()
        )
        spark.catalog.clearCache()
        assert two_stage == corpus_wide
        assert len(two_stage) == 25  # non-vacuous

    def test_pair_gate_is_load_bearing(self, spark):
        # restricting to a pair subset must restrict the spans — prove
        # the gate actually gates (not a corpus-wide join in disguise)
        from borsa_spark.functions.dedup import (
            repeated_substring_spans_for_pairs,
        )
        from borsa_spark.functions.text import winnow_pairs
        from borsa_spark.sources import load_table

        from borsa_spark.queries import QUERIES

        sf = "/root/testdata/sf0.01"
        docs = load_table(spark, sf, "documents")
        # gate on a pair KNOWN to carry a span (winnow candidates are
        # a superset of span pairs — not every candidate has an
        # 8-token run, so pick from f61's output, not the screen's)
        span_pair = (
            QUERIES["f61_substring_spans"](spark, sf)
            .select("id_a", "id_b")
            .orderBy("id_a", "id_b")
            .limit(1)
        )
        got = repeated_substring_spans_for_pairs(
            docs, span_pair, k=5, min_len=8
        ).select("id_a", "id_b").distinct().collect()
        want = {(r.id_a, r.id_b) for r in span_pair.collect()}
        # a screen may emit the pair in EITHER orientation: the
        # extractor normalizes (least/greatest), never drops — an
        # only-reversed input must yield the identical spans
        flipped_only = span_pair.select(
            span_pair.id_b.alias("id_a"), span_pair.id_a.alias("id_b")
        )
        got_flipped = repeated_substring_spans_for_pairs(
            docs, flipped_only, k=5, min_len=8
        ).select("id_a", "id_b").distinct().collect()
        assert {(r.id_a, r.id_b) for r in got_flipped} == want
        spark.catalog.clearCache()
        pairs = {(r.id_a, r.id_b) for r in got}
        assert pairs == want and len(pairs) == 1
        # and the screen really is a superset of the span pairs
        cand = winnow_pairs(docs, k=3, w=4, min_shared=2, max_fp_df=50)
        cand_set = {(r.id_a, r.id_b) for r in cand.collect()}
        span_set = {
            (r.id_a, r.id_b)
            for r in QUERIES["f61_substring_spans"](spark, sf)
            .select("id_a", "id_b")
            .collect()
        }
        spark.catalog.clearCache()
        assert span_set <= cand_set

    def test_all_pairs_equals_uncapped_corpus_wide(self, spark):
        # with pairs = every (i < j) pair, the restricted extractor
        # must equal the corpus-wide one with the df cap disabled —
        # the exactness claim behind dropping the cap
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from borsa_spark.functions.dedup import (
            repeated_substring_spans,
            repeated_substring_spans_for_pairs,
        )

        TOK = st.sampled_from(["a", "b", "c"])
        DOC = st.lists(TOK, min_size=0, max_size=10)
        CORPUS = st.lists(DOC, min_size=2, max_size=4)

        @settings(
            max_examples=6, deadline=None,
            suppress_health_check=[
                HealthCheck.too_slow,
                HealthCheck.function_scoped_fixture,
            ],
        )
        @given(CORPUS)
        def run(corpus):
            docs = spark.createDataFrame(
                [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
                "doc_id long, text string",
            )
            n = len(corpus)
            allpairs = spark.createDataFrame(
                [(i, j) for i in range(n) for j in range(i + 1, n)],
                "id_a long, id_b long",
            )
            # duplicate AND reversed rows must be harmless: dup pairs
            # fragmented runs via row_number (round-9 review hole #1),
            # and reversed orientation must normalize, not drop
            # (hole #2 — a screen emitting (j, i) would lose its spans
            # under a bare id_a < id_b filter)
            flipped = allpairs.select(
                allpairs.id_b.alias("id_a"), allpairs.id_a.alias("id_b")
            )
            noisy = allpairs.unionByName(allpairs).unionByName(flipped)
            got = sorted(
                tuple(r)
                for r in repeated_substring_spans_for_pairs(
                    docs, noisy, k=2, min_len=3
                ).collect()
            )
            want = sorted(
                tuple(r)
                for r in repeated_substring_spans(
                    docs, k=2, min_len=3, max_gram_df=10**9
                ).collect()
            )
            spark.catalog.clearCache()
            assert got == want

        run()


class TestScreenVsCapAsymmetry:
    """Round-10 pin of the f93-vs-f61 trade measured at sf1
    (screen proposes ~84% of f61's pairs; f93 finds spans through
    boilerplate f61's own gram-df cap drops). Both directions on a
    replica-style fixture so a screen or cap regression cannot hide:

    - SCREEN-RECALL direction: a span shared by enough docs pushes its
      winnow fingerprints past max_fp_df — the screen proposes none of
      those pairs, while f61's (looser) gram-df cap still extracts the
      spans corpus-wide.
    - CAP-EXACTNESS direction: a pair proposed via a RARE region also
      shares a boilerplate span present in more docs than max_gram_df —
      f61 drops those grams, the pair-gated extractor (no gram cap)
      recovers the exact span.
    """

    MAX_FP_DF = 3     # screen cap (fingerprint doc frequency)
    MAX_GRAM_DF = 10  # f61 cap (5-gram doc frequency), deliberately looser

    def _docs(self, spark):
        x = " ".join(f"x{i}" for i in range(8))      # mid-df span: 6 docs
        boiler = " ".join(f"y{i}" for i in range(8))  # hot span: 13 docs
        rare = " ".join(f"r{i}" for i in range(12))   # rare region: 2 docs
        rows = [
            (1, f"{rare} {boiler}"),
            (2, f"{rare} one2 {boiler}"),
        ]
        rows += [
            (30 + i, f"u{30 + i}a u{30 + i}b {x} u{30 + i}c")
            for i in range(6)
        ]
        rows += [
            (40 + i, f"v{40 + i}a v{40 + i}b {boiler} v{40 + i}c")
            for i in range(11)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _spans(self, spark):
        from borsa_spark.functions.dedup import (
            repeated_substring_spans,
            repeated_substring_spans_for_pairs,
        )
        from borsa_spark.functions.text import winnow_pairs

        docs = self._docs(spark)
        cand = winnow_pairs(
            docs, k=3, w=4, min_shared=2, max_fp_df=self.MAX_FP_DF
        )
        two_stage = {
            (r.id_a, r.id_b, r.len_tokens)
            for r in repeated_substring_spans_for_pairs(
                docs, cand, k=5, min_len=8
            ).collect()
        }
        corpus_wide = {
            (r.id_a, r.id_b, r.len_tokens)
            for r in repeated_substring_spans(
                docs, k=5, min_len=8, max_gram_df=self.MAX_GRAM_DF
            ).collect()
        }
        cand_set = {(r.id_a, r.id_b) for r in cand.collect()}
        spark.catalog.clearCache()
        return two_stage, corpus_wide, cand_set

    def test_screen_recall_direction(self, spark):
        # the 6-doc x-span: fingerprint df 6 > 3 kills every screen
        # pair, so the two-stage set misses ALL 15 x pairs — while the
        # corpus-wide extractor (gram df 6 <= 10) reports every one
        two_stage, corpus_wide, cand_set = self._spans(spark)
        x_pairs = {
            (a, b, 8)
            for a in range(30, 36) for b in range(30, 36) if a < b
        }
        assert x_pairs <= corpus_wide
        assert not (x_pairs & two_stage)
        assert not any(30 <= a < 36 for a, _ in cand_set)

    def test_cap_exactness_direction(self, spark):
        # pair (1,2) is proposed via the rare 12-token region; its
        # boilerplate y-span lives in 13 docs > max_gram_df, so f61
        # drops it — the pair-gated extractor must recover it exactly
        two_stage, corpus_wide, cand_set = self._spans(spark)
        assert (1, 2) in cand_set
        assert (1, 2, 8) in two_stage       # the boilerplate span
        assert (1, 2, 12) in two_stage      # the rare region span
        assert (1, 2, 8) not in corpus_wide
        assert (1, 2, 12) in corpus_wide    # rare grams under the cap


class TestRemoveRepeatedSpans:
    """f94's cutting step: keep-first corpus-wide span removal."""

    def _run(self, spark, docs_rows, span_rows):
        from borsa_spark.functions.dedup import remove_repeated_spans

        docs = spark.createDataFrame(
            docs_rows, "doc_id long, text string"
        )
        spans = spark.createDataFrame(
            span_rows,
            "id_a long, id_b long, start_a long, start_b long,"
            " len_tokens long",
        )
        return {
            r.doc_id: (r.text, r.n_tokens_removed)
            for r in remove_repeated_spans(docs, spans).collect()
        }

    def test_chain_keeps_exactly_first(self, spark):
        span = "s1 s2 s3 s4 s5 s6 s7 s8"
        out = self._run(
            spark,
            [(1, f"{span} a1"), (2, f"b1 {span}"), (3, f"{span} c1")],
            # transitive chain: B is id_b of A, C is id_b of B
            [(1, 2, 1, 2, 8), (2, 3, 2, 1, 8)],
        )
        assert out[1] == (f"{span} a1", 0)   # first occurrence kept
        assert out[2] == ("b1", 8)
        assert out[3] == ("c1", 8)

    def test_overlapping_intervals_merge(self, spark):
        out = self._run(
            spark,
            [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
             (9, "anchor doc")],
            # doc 1 named twice with overlap: remove 2..9 and 4..10
            [(0, 1, 1, 2, 8), (0, 1, 1, 4, 7)],
        )
        assert out[1] == ("w1", 9)  # merged 2..10, counted once

    def test_no_spans_rides_through(self, spark):
        out = self._run(spark, [(5, "hello world")], [])
        assert out[5] == ("hello world", 0)

    def test_full_removal_keeps_row_with_empty_text(self, spark):
        out = self._run(
            spark,
            [(1, "z1 z2 z3 z4 z5 z6 z7 z8"),
             (2, "z1 z2 z3 z4 z5 z6 z7 z8 keep")],
            [(2, 1, 1, 1, 8)],
        )
        assert out[1] == ("", 8)

    def test_rerun_is_noop_for_same_span_set(self, spark):
        from borsa_spark.functions.dedup import (
            remove_repeated_spans,
            repeated_substring_spans,
        )

        span = " ".join(f"q{i}" for i in range(9))
        docs = spark.createDataFrame(
            [(1, f"{span} tail1"), (2, f"head2 {span}"),
             (3, f"{span} tail3")],
            "doc_id long, text string",
        )
        spans = repeated_substring_spans(
            docs, k=5, min_len=8, max_gram_df=100
        )
        once = remove_repeated_spans(docs, spans)
        spans2 = repeated_substring_spans(
            once.select("doc_id", "text"), k=5, min_len=8,
            max_gram_df=100,
        )
        # the span survives in exactly one doc -> nothing left to pair
        assert spans2.count() == 0
        spark.catalog.clearCache()

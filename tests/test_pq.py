"""Product-quantization pins (functions/pq.py): codes are well-formed
and deterministic, ADC recall against the exact brute force clears a
floor, and TRAINED codebooks beat the seed codebooks — the property
that justifies paying for training."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from borsa_spark.functions.pq import (
    pq_adc_topk,
    pq_codebooks_seed,
    pq_encode,
    pq_train_codebooks,
)

SF = "/root/testdata/sf0.01"


def _emb(spark):
    from borsa_spark.sources import load_table

    return load_table(spark, SF, "embeddings")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def _exact_topk(spark, k=5):
    import duckdb

    con = duckdb.connect()
    return {
        (r[0], r[1])
        for r in con.execute(f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::DOUBLE) AS v
                       FROM read_parquet('{SF}/embeddings.parquet')),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
            d AS (SELECT q.q_id, e.vec_id AS c_id,
                         list_distance(q.qv, e.v) AS dist
                  FROM q CROSS JOIN e WHERE q.q_id <> e.vec_id)
            SELECT q_id, c_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY dist ASC, c_id ASC) AS rn FROM d) t
            WHERE rn <= {k}
        """).fetchall()
    }


def _recall(got_rows, want_pairs, k=5):
    got = {(r.q_id, r.c_id) for r in got_rows}
    return len(got & want_pairs) / len(want_pairs)


class TestPq:
    def test_codes_well_formed(self, spark):
        emb = _emb(spark)
        books = pq_codebooks_seed(emb, m=4, k=8)
        codes = pq_encode(emb, books, m=4).collect()
        n = emb.count()
        assert len(codes) == n * 4
        assert {r.j for r in codes} == {0, 1, 2, 3}
        assert all(0 <= r.cid < 8 for r in codes)

    def test_encode_deterministic_under_repartition(self, spark):
        emb = _emb(spark)
        books = pq_codebooks_seed(emb, m=4, k=8)
        a = sorted(map(tuple, pq_encode(emb, books, m=4).collect()))
        b = sorted(map(tuple,
                       pq_encode(emb.repartition(13), books, m=4).collect()))
        assert a == b

    def test_adc_recall_and_rerank_story(self, spark):
        from borsa_spark.functions.pq import pq_adc_rerank_topk

        emb = _emb(spark)
        q = _queries(emb)
        want = _exact_topk(spark)

        seed_books = pq_codebooks_seed(emb, m=4, k=8)
        trained_k8 = pq_train_codebooks(emb, m=4, k=8, iters=2)
        trained_k16 = pq_train_codebooks(emb, m=4, k=16, iters=2)

        r_seed = _recall(
            pq_adc_topk(emb, q, seed_books, m=4, k_top=5).collect(), want
        )
        # like-for-like: same centroid budget, trained vs seed slices —
        # training must be >= (the property COVERAGE.md advertises)
        r_trained = _recall(
            pq_adc_topk(emb, q, trained_k8, m=4, k_top=5).collect(), want
        )
        r_rerank = _recall(
            pq_adc_rerank_topk(
                emb, q, trained_k16, m=4, k_top=5, shortlist=100
            ).collect(),
            want,
        )
        # This corpus is unit-normalized with concentrated distances
        # (p5/p95 L2^2 = 1.58/2.41) — the hard case for coarse PQ, so
        # pure ADC@5 recall is honestly modest. The pins: training beats
        # arbitrary seed slices at the SAME centroid budget, ADC
        # ordering is meaningfully correlated with exact distance, and
        # the production two-stage shape (ADC shortlist -> exact
        # rerank) recovers most of the true neighbors.
        assert r_trained >= r_seed, (r_seed, r_trained)
        assert r_trained >= 0.2, r_trained
        assert r_rerank >= 0.7, r_rerank
        assert r_rerank >= r_trained, (r_trained, r_rerank)

    def test_rank_contract(self, spark):
        emb = _emb(spark)
        q = _queries(emb)
        out = pq_adc_topk(
            emb, q, pq_codebooks_seed(emb, m=4, k=8), m=4, k_top=5
        ).collect()
        by_q = {}
        for r in out:
            assert r.q_id != r.c_id
            by_q.setdefault(r.q_id, []).append(r)
        for q_id, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            dists = [r.adc_dist for r in rows]
            assert dists == sorted(dists)

    def test_compression_ratio(self, spark):
        # the point of PQ: m=4 codes of k=8 (3 bits, stored as a byte)
        # vs 64 float32s — a 64x in-memory shrink at byte-per-code
        emb = _emb(spark)
        d = len(emb.first().embedding)
        assert d == 64
        assert (d * 4) / 4 == 64  # float32 bytes / m code bytes


class TestIvfPq:
    def test_ivfpq_subset_of_pq_and_recall(self, spark):
        from borsa_spark.functions.pq import ivfpq_topk

        emb = _emb(spark)
        q = _queries(emb)
        coarse = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
        books = pq_train_codebooks(emb, m=4, k=16, iters=2)
        want = _exact_topk(spark)

        full = pq_adc_topk(emb, q, books, m=4, k_top=5).collect()
        probed = ivfpq_topk(
            emb, q, coarse, books, m=4, k_top=5, n_probe=2
        ).collect()
        r_full = _recall(full, want)
        r_probed = _recall(probed, want)
        # probing trades recall for scan fraction: the probed result
        # must stay within a bounded drop of full-corpus ADC
        assert r_probed >= r_full - 0.25, (r_full, r_probed)
        # every probed hit scores identically to full ADC (same codes,
        # same tables — probing only SHRINKS the candidate set)
        full_d = {(r.q_id, r.c_id): r.adc_dist for r in full}
        for r in probed:
            if (r.q_id, r.c_id) in full_d:
                assert full_d[(r.q_id, r.c_id)] == r.adc_dist

    def test_residual_parity_at_equal_bytes_concentrated(self, spark):
        """Round-11 residual coding on the distance-concentrated
        corpus: PARITY with raw coding at equal code bytes, measured
        and documented rather than the theoretical ">= raw" asserted.
        On this corpus residuals are as incompressible as the vectors
        (no coarse structure to cancel — seed coarse 0.30 raw / 0.22
        res; kmeans-trained coarse 0.32/0.28 at probe 2, 0.28/0.30 at
        probe 4: all within the +-2-pair noise of 50 truth pairs).
        Jegou §IV-A's win needs cells that absorb real offsets AND
        compressible within-cell structure; at this scale the pin is
        parity, the exactness pin lives in
        TestResidualModelEquivalence."""
        from borsa_spark.functions.pq import (
            ivfpq_residual_topk,
            ivfpq_topk,
            pq_train_codebooks_residual,
        )

        emb = _emb(spark)
        q = _queries(emb)
        coarse = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
        want = _exact_topk(spark)
        raw_books = pq_train_codebooks(emb, m=4, k=16, iters=2)
        res_books = pq_train_codebooks_residual(
            emb, coarse, m=4, k=16, iters=2
        )
        r_raw = _recall(
            ivfpq_topk(
                emb, q, coarse, raw_books, m=4, k_top=5, n_probe=2
            ).collect(),
            want,
        )
        r_res = _recall(
            ivfpq_residual_topk(
                emb, q, coarse, res_books, m=4, k_top=5, n_probe=2
            ).collect(),
            want,
        )
        assert r_res >= r_raw - 0.1, (r_raw, r_res)
        assert r_res >= 0.2, r_res

    def test_probe_widening_recovers_full_adc(self, spark):
        from borsa_spark.functions.pq import ivfpq_topk

        emb = _emb(spark)
        q = _queries(emb)
        coarse = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
        books = pq_codebooks_seed(emb, m=4, k=8)
        full = sorted(
            (r.q_id, r.c_id)
            for r in pq_adc_topk(emb, q, books, m=4, k_top=5).collect()
        )
        all_probes = sorted(
            (r.q_id, r.c_id)
            for r in ivfpq_topk(
                emb, q, coarse, books, m=4, k_top=5, n_probe=8
            ).collect()
        )
        # probing EVERY list == full-corpus ADC exactly
        assert all_probes == full


class TestClusteredCorpusRecall:
    """The round-8 pins above run on the driver's unit-norm,
    distance-concentrated corpus — the HARD case, where honest ADC@5
    sits at 0.2-0.3. This fixture is the other half of the story: a
    mixture of 8 well-separated Gaussians (center = 10·e_{8c},
    noise ±0.25 per dim, analytic from vec_id), where PQ should and
    DOES win — proving the operator family exploits structure when it
    exists and guarding codebook-training regressions against a
    meaningful target (the round-8 verdict task)."""

    N, D, C = 256, 64, 8

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        vecs = np.zeros((self.N, self.D), dtype=np.float64)
        for i in range(self.N):
            g = np.random.default_rng(i)
            vecs[i] = (g.integers(0, 1000, self.D) / 1000.0 - 0.5) * 0.5
            vecs[i, 8 * (i % self.C)] += 10.0
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(self.N)],
            "vec_id long, embedding array<float>",
        )
        # exact ground truth over the float32-rounded vectors Spark
        # stores (same tie rule as _exact_topk: dist asc, c_id asc)
        v32 = vecs.astype(np.float32).astype(np.float64)
        want = set()
        for qi in range(10):
            dist = ((v32 - v32[qi]) ** 2).sum(axis=1)
            top = sorted(
                (dist[j], j) for j in range(self.N) if j != qi
            )[:5]
            want |= {(qi, j) for _, j in top}
        return emb, want

    def test_recall_on_separable_structure(self, spark, clustered):
        from borsa_spark.functions.pq import (
            ivfpq_topk,
            pq_adc_rerank_topk,
        )

        emb, want = clustered
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        books = pq_train_codebooks(emb, m=4, k=16, iters=2)
        # one member per cluster (vec_id 0..7 ARE clusters 0..7) makes
        # a perfect coarse quantizer — the IVF structural best case
        coarse = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
        r_adc = _recall(
            pq_adc_topk(emb, q, books, m=4, k_top=5).collect(), want
        )
        r_rerank = _recall(
            pq_adc_rerank_topk(
                emb, q, books, m=4, k_top=5, shortlist=50
            ).collect(),
            want,
        )
        r_ivf = _recall(
            ivfpq_topk(
                emb, q, coarse, books, m=4, k_top=5, n_probe=2
            ).collect(),
            want,
        )
        # measured on this fixture: ADC 0.48, rerank 1.0, IVFPQ 0.48 —
        # pins leave headroom for k-means tie drift, not for regression
        assert r_adc >= 0.4, r_adc        # ~2x the concentrated corpus
        assert r_ivf >= 0.4, r_ivf        # probing keeps ADC's recall
        assert r_rerank >= 0.9, r_rerank  # the verdict's >= 0.8 target
        assert r_rerank > r_adc

    def test_residual_parity_on_separable_structure(self, spark,
                                                    clustered):
        """Residual vs raw on the separable fixture: PARITY, and the
        measured reason is instructive enough to pin in prose. The
        within-cluster variation here is iid uniform noise —
        incompressible, so once the coarse offset is removed there is
        NOTHING for the finer codebook to code (dec(r) ~= mean, ADC
        near-constant per cell), and with the single-member seed
        coarse the residual even inherits the centroid's own noise
        (2x variance: measured 0.30 res vs 0.48 raw); kmeans-trained
        coarse restores parity (0.46 vs 0.48). IVF probing also masks
        raw's capacity ceiling at 8 cells — the regime where residual
        coding genuinely pays (Jegou §IV-A) is many cells + structured
        residuals, pinned exactly in TestResidualModelEquivalence's
        pattern fixture."""
        from borsa_spark.functions.pq import (
            ivfpq_residual_topk,
            ivfpq_topk,
            pq_train_codebooks_residual,
        )
        from borsa_spark.functions.similarity import kmeans_centroids

        emb, want = clustered
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        coarse = kmeans_centroids(emb, k=8, iters=2)
        raw_books = pq_train_codebooks(emb, m=4, k=16, iters=2)
        res_books = pq_train_codebooks_residual(
            emb, coarse, m=4, k=16, iters=2
        )
        r_raw = _recall(
            ivfpq_topk(
                emb, q, coarse, raw_books, m=4, k_top=5, n_probe=2
            ).collect(),
            want,
        )
        r_res = _recall(
            ivfpq_residual_topk(
                emb, q, coarse, res_books, m=4, k_top=5, n_probe=2
            ).collect(),
            want,
        )
        assert r_res >= r_raw - 0.1, (r_raw, r_res)
        assert r_res >= 0.35, r_res


class TestResidualModelEquivalence:
    """The round-11 exactness pin for residual IVFPQ: the Spark
    pipeline's (c_id, adc_dist, rank) per query equals an independent
    per-element numpy model of the §IV-A math — assignment (ties to
    the lower cid), residual subtraction, encode argmin at the 4dp
    snap, per-probed-list query tables, ADC sums at the 4dp snap, and
    the (adc asc, c_id asc) rank. Every convention is load-bearing:
    a slice off-by-one, a table joined across the wrong centroid, or
    a rounding-order drift changes some adc_dist. The fixture is the
    'pattern corpus' (cluster offset + shared latent patterns + tiny
    noise) whose residuals ARE compressible — the regime residual
    coding exists for — and the same fixture pins set-recall 1.0."""

    D, C, P, T = 64, 8, 4, 6

    @pytest.fixture(scope="class")
    def pattern_corpus(self, spark):
        n = self.C * self.P * self.T  # 192: each (cluster, pattern)
        # group has exactly 6 members, so a member query's true top-5
        # is the GROUP — a set ADC can resolve without seeing the
        # tie-scale noise
        rng = np.random.default_rng(7)
        patterns = rng.choice([-1.0, 1.0], size=(self.P, self.D))
        vecs = np.zeros((n, self.D))
        for i in range(n):
            g = np.random.default_rng(1000 + i)
            vecs[i] = (
                patterns[(i // self.C) % self.P]
                + (g.integers(0, 1000, self.D) / 1000.0 - 0.5) * 0.02
            )
            vecs[i, 8 * (i % self.C)] += 10.0
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        return emb, vecs.astype(np.float32).astype(np.float64), n

    def _model(self, v, n, n_queries, k_books=8, min_id=8):
        """Independent numpy replay of the full residual pipeline
        with seed books (the f97 conventions)."""
        def assign(x):
            return int(np.argmin(((v[:8] - x) ** 2).sum(axis=1)))

        lists = {i: assign(v[i]) for i in range(n)}
        res = {i: v[i] - v[lists[i]] for i in range(n)}
        book = {
            (j, cid): res[cid][j * 16:(j + 1) * 16]
            for j in range(4)
            for cid in range(min_id, min_id + k_books)
        }
        cids = range(min_id, min_id + k_books)

        def encode(i):
            return {
                j: min(
                    (round(((res[i][j * 16:(j + 1) * 16]
                             - book[(j, c)]) ** 2).sum(), 4), c)
                    for c in cids
                )[1]
                for j in range(4)
            }

        codes = {i: encode(i) for i in range(n)}
        out = {}
        for qi in range(n_queries):
            probes = sorted(
                (((v[c] - v[qi]) ** 2).sum(), c) for c in range(8)
            )[:2]
            cand = []
            for _, c in probes:
                qr = v[qi] - v[c]
                tab = {
                    (j, cc): round(
                        ((qr[j * 16:(j + 1) * 16]
                          - book[(j, cc)]) ** 2).sum(), 4)
                    for j in range(4) for cc in cids
                }
                for x in range(n):
                    if lists[x] == c and x != qi:
                        cand.append((
                            round(sum(tab[(j, codes[x][j])]
                                      for j in range(4)), 4), x))
            cand.sort()
            out[qi] = [(x, a) for a, x in cand[:5]]
        return out

    def test_spark_equals_model(self, spark, pattern_corpus):
        from borsa_spark.functions.pq import (
            ivfpq_residual_topk,
            pq_codebooks_seed_residual,
        )

        emb, v, n = pattern_corpus
        q = emb.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        coarse = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
        books = pq_codebooks_seed_residual(
            emb, coarse, m=4, k=8, min_id=8
        )
        got = ivfpq_residual_topk(
            emb, q, coarse, books, m=4, k_top=5, n_probe=2
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.q_id, []).append((r.rank, r.c_id, r.adc_dist))
        model = self._model(v, n, n_queries=6)
        for qi in range(6):
            rows = sorted(by_q[qi])
            assert [(c, a) for _, c, a in rows] == [
                (c, round(a, 4)) for c, a in model[qi]
            ], qi

    def test_set_recall_is_exact_where_residuals_compress(
        self, spark, pattern_corpus
    ):
        """On compressible residuals (4 latent patterns per subspace,
        k=16 books) residual ADC resolves every true-neighbor GROUP:
        set recall 1.0 — the per-list table machinery is lossless at
        the structure scale. (Raw coding also reaches 1.0 here: with
        8 cells IVF probing masks its capacity ceiling; the fixtures
        where raw would collapse need cell counts beyond what a unit
        test should spin.)"""
        from borsa_spark.functions.pq import (
            ivfpq_residual_topk,
            pq_train_codebooks_residual,
        )

        emb, v, n = pattern_corpus
        want = set()
        for qi in range(10):
            dist = ((v - v[qi]) ** 2).sum(axis=1)
            top = sorted(
                (dist[j], j) for j in range(n) if j != qi
            )[:5]
            want |= {(qi, j) for _, j in top}
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        coarse = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
        books = pq_train_codebooks_residual(
            emb, coarse, m=4, k=16, iters=2
        )
        got = ivfpq_residual_topk(
            emb, q, coarse, books, m=4, k_top=5, n_probe=2
        ).collect()
        assert _recall(got, want) == 1.0

"""Round-10 contract: the MinHash candidate join's DEFAULT is the
crawl-safe guarded form. An uncapped band join goes O(n²) on a
boilerplate cohort, so a caller gets the finite cap
(``dedup.CRAWL_MAX_BUCKET``) without tuning anything; the exhaustive
all-pairs shape requires an explicit ``max_bucket_size=None``. These
tests pin the default so a refactor cannot quietly hand the 100-TB
user the quadratic shape back."""

import inspect


class TestMinhashCapDefaults:
    """The MinHash LSH candidate join is capped by default."""

    def test_signature_defaults_flipped(self):
        from borsa_spark.functions import dedup as dd

        cap = dd.CRAWL_MAX_BUCKET

        def default_of(fn, name):
            return inspect.signature(fn).parameters[name].default

        assert default_of(dd.minhash_candidates, "max_bucket_size") == cap
        assert default_of(dd.minhash_dedup_pairs, "max_bucket_size") == cap
        assert default_of(dd.minhash_pairs_against, "max_bucket_size") == cap
        assert default_of(
            dd.minhash_pairs_against_inrow, "max_bucket_size"
        ) == cap

    def test_default_cap_binds_on_a_hot_bucket(self, spark):
        # CRAWL_MAX_BUCKET identical docs +1: every band bucket holds
        # cap+1 members -> default emits no candidates; explicit None
        # reproduces the quadratic exhaustive form
        from borsa_spark.functions import dedup as dd

        n = dd.CRAWL_MAX_BUCKET + 1
        docs = spark.createDataFrame(
            [(i, "the same boilerplate text body") for i in range(n)],
            "doc_id long, text string",
        )
        assert dd.minhash_dedup_pairs(docs).count() == 0
        assert dd.minhash_dedup_pairs(
            docs.limit(5), max_bucket_size=None
        ).count() == 5 * 4 // 2

    def test_oversized_accounting_matches_default(self, spark):
        from borsa_spark.functions import dedup as dd

        n = dd.CRAWL_MAX_BUCKET + 1
        docs = spark.createDataFrame(
            [(i, "the same boilerplate text body") for i in range(n)],
            "doc_id long, text string",
        )
        arr = dd.shingle_array(docs)
        sig = dd.signature_from_array(arr)
        over = dd.oversized_buckets(sig, dd.CRAWL_MAX_BUCKET)
        # every one of the 12 bands is one oversized bucket of n docs
        rows = over.collect()
        assert len(rows) == 12
        assert all(r.n_docs == n for r in rows)


class TestF95GuardNonVacuous:
    """f95's cap must be load-bearing on its own fixture: uncapped, the
    80% boilerplate cohort all-pairs explodes; capped (the library
    default the query runs), only planted near-copies survive."""

    def test_uncapped_blowup_vs_guarded(self, spark):
        from borsa_spark.functions import dedup as dd
        from borsa_spark.queries import QUERIES, _f95_fixture

        sf = "/root/testdata/sf0.01"
        fixture = _f95_fixture(spark, sf)
        n_boiler = fixture.filter("doc_id % 5 != 0").count()
        assert n_boiler > dd.CRAWL_MAX_BUCKET  # the cap binds
        guarded = {
            (r.id_a, r.id_b)
            for r in QUERIES["f95_minhash_crawl_guard"](spark, sf)
            .collect()
        }
        unguarded = dd.minhash_dedup_pairs(
            fixture, 3, 0.5, max_bucket_size=None
        )
        n_unguarded = unguarded.count()
        spark.catalog.clearCache()
        # every guarded pair is a planted near-copy (tens pair with
        # their +5 neighbor); no boilerplate ids (doc_id % 5 != 0)
        assert guarded
        assert all(
            a % 10 == 0 and b == a + 5 for a, b in guarded
        )
        # uncapped adds the full boilerplate clique on top
        assert n_unguarded == len(guarded) + n_boiler * (n_boiler - 1) // 2


class TestCapCountsExactTuple:
    """The hot-bucket cap must group counts by the exact band tuple
    (band_vals), never by the hashed join key: two sub-cap buckets
    whose xxhash64 keys collide would merge counts and — if the merged
    count crossed the cap — EXCLUDE both legitimate buckets, a
    collision REMOVING true pairs (the one direction lsh_band_keys'
    invariant forbids). Structural pin: the capped plan aggregates on
    band_vals; the uncapped plan never materializes it."""

    def _plan(self, spark, capped):
        import contextlib
        import io

        from borsa_spark.functions import dedup as dd

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d f")],
            "doc_id long, text string",
        )
        sig = dd.minhash_signature_inrow(docs)
        df = dd.minhash_candidates(
            sig, max_bucket_size=8 if capped else None
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def test_capped_plan_aggregates_on_band_vals(self, spark):
        assert "band_vals" in self._plan(spark, capped=True)

    def test_uncapped_plan_never_builds_band_vals(self, spark):
        assert "band_vals" not in self._plan(spark, capped=False)

    def test_with_values_exposes_exact_tuple(self, spark):
        from borsa_spark.functions import dedup as dd

        docs = spark.createDataFrame(
            [(1, "a b c d e")], "doc_id long, text string"
        )
        sig = dd.minhash_signature_inrow(docs)
        row = sig.collect()[0]
        bk = dd.lsh_band_keys(sig, with_values=True).collect()
        assert len(bk) == dd.LSH_BANDS
        for r in bk:
            want = [row[f"h{r.band * dd.LSH_ROWS + i}"]
                    for i in range(dd.LSH_ROWS)]
            assert list(r.band_vals) == want


class TestAssumeNonemptyContract:
    """ADVICE r13: `signature_from_array(assume_nonempty=True)` emits
    null h* columns (array_min of an empty array) into LSH band keys if
    a caller ever passes an unfiltered relation. The contract — every
    such call sits directly below a `has_min_words` filter — is
    enforced here by (a) pinning the exact library call-site set, so a
    new call site fails this test until its filter is audited, and (b)
    pinning the predicate equivalence the contract rests on."""

    def test_library_call_sites_are_the_audited_four(self):
        import inspect

        from borsa_spark.functions import dedup as dd

        src = inspect.getsource(dd)
        lines = [
            i + 1
            for i, l in enumerate(src.splitlines())
            if "assume_nonempty=True" in l and "``" not in l
        ]
        # minhash_signature_inrow, minhash_dedup_pairs (uncollapsed +
        # collapsed), incremental_dedup_pairs — each verified to sit
        # below a has_min_words(text, n) filter (n >= the shingle n)
        assert len(lines) == 4, (
            f"assume_nonempty=True call sites changed ({lines}); audit "
            "that every new site pre-filters with has_min_words, then "
            "update this pin"
        )

    def test_has_min_words_iff_nonempty_shingles(self, spark):
        from pyspark.sql import functions as F

        from borsa_spark.functions import dedup as dd

        docs = spark.createDataFrame(
            [(1, ""), (2, "a"), (3, "a b"), (4, "a b c"),
             (5, "a  b c"), (6, " a b c "), (7, "a b c d")],
            "doc_id long, text string",
        )
        arr = dd.shingle_array(docs, 3, "text", "doc_id").select(
            "id", (F.size("shingles") > 0).alias("ok")
        )
        got = {r.id: r.ok for r in arr.collect()}
        want = {
            r.doc_id: r.ok
            for r in docs.select(
                "doc_id", dd.has_min_words("text", 3).alias("ok")
            ).collect()
        }
        assert got == want

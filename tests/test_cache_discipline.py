"""Round-10 sweep: the package-wide cache-lifetime contract has teeth.

Library functions persist() multi-consumer intermediates and the
HARNESS frees them (`borsa_spark.__doc__`). This sweep runs the
queries() entries that persist or localCheckpoint the most — the
minhash family, substring spans, the router persists — end-to-end,
then asserts `release_all_cached` returns the session to ZERO cached
blocks: no catalog-cached plans, no RDD-layer persists, no stranded
localCheckpoints. A new persist added without a release path shows up
here as a nonzero residue."""


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class TestReleaseAllCached:
    def test_frees_persists_and_local_checkpoints(self, spark):
        from borsa_spark.session import release_all_cached

        release_all_cached(spark)  # clean slate
        df = spark.range(100).persist()
        df.count()
        lc = spark.range(50).localCheckpoint()
        lc.count()
        assert _persistent_rdd_count(spark) >= 2
        freed = release_all_cached(spark)
        assert freed >= 2
        assert _persistent_rdd_count(spark) == 0

    def test_idempotent_on_clean_session(self, spark):
        from borsa_spark.session import release_all_cached

        release_all_cached(spark)
        assert release_all_cached(spark) == 0


class TestQueriesLeaveNoResidue:
    """End-to-end: run a persist-heavy queries() entry, release, assert
    zero cached blocks. The entry list names every persist/checkpoint
    family VERDICT r9 finding #2 and the ADVICE called out."""

    # persist/localCheckpoint-heavy entries, one per family:
    # minhash self-join (f7), clustering fixpoint (f17), cross-set
    # bands (f35), substring anchors (f61), pair-restricted spans
    # (f93), bloom probe set (f76), router batch quotes (a8), history
    # e2e
    SWEEP = [
        "f7_minhash_dedup_pairs",
        "f17_dup_clusters",
        "f35_incremental_dedup",
        "f61_substring_spans",
        "f93_candidate_substring_spans",
        "f94_span_removal_rewrite",
        "f76_bloom_decontaminate",
        "a8_quotes_batch_failures",
        "hist_e2e_daily_merge",
    ]

    def test_sweep_names_are_registered(self):
        # a cut or rename must update SWEEP, not shrink it silently
        from borsa_spark.queries import QUERIES

        assert [n for n in self.SWEEP if n not in QUERIES] == []

    def test_sweep_returns_session_to_zero_cached(self, spark):
        from borsa_spark.queries import QUERIES
        from borsa_spark.session import release_all_cached

        sf = "/root/testdata/sf0.001"
        release_all_cached(spark)
        residue = {}
        for name in self.SWEEP:
            fn = QUERIES[name]  # a missing name fails, never skips
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            release_all_cached(spark)
            n = _persistent_rdd_count(spark)
            if n:
                residue[name] = n
        assert residue == {}, (
            f"cached blocks survive release_all_cached: {residue}"
        )

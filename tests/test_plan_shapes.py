"""Physical-plan regression guards: the measured plan shapes must stay
true as code evolves — pushdown reaches the scan, dims broadcast, and the
merge partially aggregates."""

from __future__ import annotations

import contextlib
import io

import pytest

from borsa_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


def final_plan_of(spark, name: str) -> str:
    """The post-execution AQE plan (collect first so ReusedExchange is
    visible); everything after '== Initial Plan ==' is pre-AQE text."""
    df = QUERIES[name](spark, SF)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("== Initial Plan ==")[0]


class TestPlanShapes:
    def test_merge_is_partial_aggregation(self, spark):
        plan = plan_of(spark, "j1_merge_first_wins")
        assert "partial_min_by" in plan  # skew-resilient argmin merge
        assert "row_number" not in plan

    def test_monotonic_gate_single_window_no_udf(self, spark):
        plan = plan_of(spark, "p7_monotonic_gate")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_events_scan_prunes_columns(self, spark):
        plan = plan_of(spark, "s12_download_summary")
        # only event_type, ts, value should be read (not user_id/event_id)
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m is not None
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert "user_id" not in cols

    def test_a5_tz_single_aggregation_no_python(self, spark):
        # tz-aware bucketing is pure JVM expressions: exactly one shuffle
        # (the groupBy), map-side partial combine, no Python in the path.
        plan = plan_of(spark, "a5_tz_daily")
        assert "partial_" in plan
        assert "EvalPython" not in plan
        assert plan.count("Exchange") <= 2  # agg shuffle (+AQE reuse line)

    def test_s11_latest_uses_window_group_limit(self, spark):
        # latest-per-contract should push the rank-1 limit into the shuffle
        # (WindowGroupLimit), not materialize full per-key sorts first.
        plan = plan_of(spark, "s11_option_latest")
        assert "WindowGroupLimit" in plan
        assert "EvalPython" not in plan

    def test_f16_single_arrow_python_stage(self, spark):
        # encode (fixture gen) + decode are two mapInPandas stages and the
        # only Python in the plan; everything around them is JVM-side.
        plan = plan_of(spark, "f16_media_features")
        assert plan.count("ArrowEvalPython") <= 2
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan

    def test_sessionize_single_shuffle(self, spark):
        # lag window, running-sum window, and the session aggregate all
        # reuse ONE user_id exchange (HashPartitioning(user_id) satisfies
        # the (user_id, session_no) clustering requirement).
        import re

        plan = plan_of(spark, "f21_sessionize")
        assert len(set(re.findall(r"Exchange \((\d+)\)", plan))) == 1
        assert "EvalPython" not in plan

    def test_rollup_cascade_two_tiers_two_shuffles(self, spark):
        import re

        plan = plan_of(spark, "a10_rollup_cascade")
        assert len(set(re.findall(r"Exchange \((\d+)\)", plan))) <= 2
        assert "partial_" in plan

    def test_quality_gate_broadcasts_medians(self, spark):
        plan = plan_of(spark, "f23_quality_median_gate")
        assert "BroadcastHashJoin" in plan


class TestRound3PlanShapes:
    """Pin the plan shapes of the training-mix stages."""

    def test_stratified_sample_is_pure_filter(self, spark):
        plan = plan_of(spark, "f31_stratified_sample")
        assert "Exchange" not in plan          # zero shuffle
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_intra_doc_repetition_is_scan_speed(self, spark):
        plan = plan_of(spark, "f32_intra_doc_repetition")
        assert "Exchange" not in plan          # in-row array math only
        assert "Generate" not in plan          # no explode

    def test_simhash_inrow_has_no_shuffle(self, spark):
        # round 13: on a NARROW (single-file) input the plan carries
        # exactly one round-robin widen Exchange (widen_if_narrow) so
        # the in-row shingle math runs session-wide; there is still no
        # hash/aggregate shuffle and no explode, and the only Filter
        # below the exchange is the CHEAP word-count predicate — never
        # a duplicated copy of the shingle-build expression
        plan = plan_of(spark, "f8_simhash")
        assert plan.count("Exchange (") == 1  # the widen, nothing else
        assert "RoundRobinPartitioning" in plan
        assert "hashpartitioning" not in plan
        assert "Generate" not in plan
        # the pre-exchange side (scan + cheap filter) must not carry a
        # duplicated copy of the shingle pipeline
        pre_exchange = plan.split("RoundRobinPartitioning")[0]
        assert "array_distinct" not in pre_exchange

    def test_packing_python_is_grouped_arrow_only(self, spark):
        plan = plan_of(spark, "f38_sequence_packing")
        assert "FlatMapGroupsInPandas" in plan  # the one sanctioned UDF
        assert "BatchEvalPython" not in plan    # never row-at-a-time


class TestRound4PlanShapes:
    """Pin the round-4 dedup plan shapes."""

    def test_minhash_signature_inrow_is_scan_speed(self, spark):
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        sig = dd.minhash_signature_inrow(docs, 3)
        plan = sig._jdf.queryExecution().executedPlan().toString()
        # round 13: a NARROW single-file input carries exactly the
        # round-robin widen Exchange (widen_if_narrow) and nothing
        # else — still no hash/aggregate shuffle, still no explode,
        # and no duplicated shingle build below the exchange
        assert plan.count("Exchange") == 1
        assert "RoundRobinPartitioning" in plan
        assert "hashpartitioning" not in plan
        assert "Generate" not in plan          # no explode
        # toString prints root-first, so the text AFTER the exchange
        # line is the scan side: cheap word-count filter only, never a
        # duplicated shingle build
        assert "array_distinct" not in plan.split(
            "RoundRobinPartitioning")[1]

    def test_f7_signature_not_grouped(self, spark):
        """f7's signature comes from the in-row path: the plan must not
        contain the 60-aggregate groupBy over the exploded relation (one
        hash-aggregate family keyed on id would betray the grouped path).
        The only explodes left are the 12-element band-key arrays."""
        plan = plan_of(spark, "f7_minhash_dedup_pairs")
        # grouped signature would aggregate 60 min() columns; the in-row
        # path computes them as array_min projections instead
        assert "array_min" in plan

    def test_f7_verify_is_array_intersect(self, spark):
        """The exploded shingle relation must not exist anywhere in f7's
        plan: verification joins candidate pairs to the (id, shingles
        array) relation and intersects in-row. A per-shingle explode would
        reintroduce the corpus-sized verify shuffle family."""
        plan = plan_of(spark, "f7_minhash_dedup_pairs")
        assert "array_intersect" in plan
        # every Generate in the plan is a band-key explode (12-element
        # array of band structs), never a shingle explode
        import re

        for args in re.findall(r"Arguments: explode\(([^\n]*)", plan):
            assert "shingle" not in args, args

    def test_star_contraction_rounds_are_logarithmic(self, spark):
        """A 100-link chain converges within ~log2(n)+2 rounds — pinned by
        giving star contraction ONLY 10 rounds (label prop would need 100;
        sim says 100-chain needs 8)."""
        from pyspark.sql import functions as F

        from borsa_spark.functions import dedup as dd

        n = 101
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        out = dd.dup_clusters(pairs, nodes, max_iters=10)
        assert out.filter(F.col("comp") == 0).count() == n

    def test_quality_gate_is_scan_speed(self, spark):
        """f43's ensemble gate is pure in-row math: no shuffle, no explode,
        no Python — the plan is a single scan-project pipeline."""
        plan = plan_of(spark, "f43_quality_gate")
        assert "Exchange" not in plan
        assert "Generate" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


class TestRound4RetrievalPlanShapes:
    """Pin the plan shapes of the round-4 chunking/scrub/BPE ops."""

    def test_doc_chunks_zero_shuffle(self, spark):
        plan = plan_of(spark, "f44_doc_chunks")
        assert "Exchange" not in plan          # in-row + one explode only
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_pii_scrub_is_scan_speed(self, spark):
        plan = plan_of(spark, "f47_pii_scrub")
        assert "Exchange" not in plan
        assert "Generate" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_bpe_pairs_single_corpus_shuffle(self, spark):
        # One corpus-proportional Exchange (the pair groupBy); the rank
        # window's single-partition Exchange runs over the vocab aggregate.
        plan = plan_of(spark, "f49_bpe_pair_counts")
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2


class TestRound4ContinuedPlanShapes:
    """Pin the plan shapes of f53 and f54."""

    def test_blocklist_filter_is_scan_speed(self, spark):
        plan = plan_of(spark, "f53_blocklist_filter")
        assert "Exchange" not in plan          # in-row array ops only
        assert "Generate" not in plan          # no explode
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_training_order_avoids_global_single_partition(self, spark):
        # The corpus-sized window must partition on the key prefix; the only
        # SinglePartition exchange allowed is the 256-row offset table's.
        plan = plan_of(spark, "f54_training_order")
        assert "hashpartitioning(__bucket" in plan
        assert plan.count("SinglePartition") <= 2  # tree + detail line, once
        assert "BroadcastExchange" in plan     # offsets ride a broadcast

    def test_repetition_signals_prunes_and_partial_aggs(self, spark):
        # unigram stats are in-row; the bigram side is two partial-
        # aggregatable groupBys keyed by doc_id — never a global window
        plan = plan_of(spark, "f64_repetition_signals")
        assert "SinglePartition" not in plan
        assert "partial_" in plan
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and m.group(1) == "doc_id:bigint,text:string"

    def test_stratified_sample_is_scan_plus_filter(self, spark):
        # membership is one codegen'd md5 + modulo per row
        # (text.stratified_sample, f31's engine): the whole query must
        # plan as scan -> filter with NO shuffle anywhere
        plan = plan_of(spark, "f31_stratified_sample")
        assert "Exchange" not in plan
        assert "md5" in plan  # the hash runs inside the filter condition

    def test_winnow_single_doc_keyed_shuffle(self, spark):
        # one Exchange hashpartitioning(doc_id) feeds the window AND both
        # phases of the countDistinct rewrite — the fingerprint pipeline
        # never reshuffles and never collapses to a single partition
        plan = plan_of(spark, "f67_winnow_fingerprints")
        assert plan.count("Exchange") <= 2  # tree node + Arguments line
        assert "SinglePartition" not in plan
        assert "windowspecdefinition(doc_id" in plan
        assert "partial_" in plan


class TestRound7PlanShapes:
    def test_paragraph_dedup_partial_aggs_no_single_partition(self, spark):
        plan = plan_of(spark, "f72_paragraph_dedup")
        assert "SinglePartition" not in plan
        assert "partial_" in plan
        assert "EvalPython" not in plan

    def _final_plan(self, spark, name):
        return final_plan_of(spark, name)

    def test_unigram_lm_single_corpus_scan(self, spark):
        # vocab and totals roll up the per-(doc, token) tf exchange, so
        # the executed plan must read the corpus ONCE and reuse the
        # exchange for both derived relations (the 100 TB contract:
        # 1 scan, not 3)
        final = self._final_plan(spark, "f73_unigram_lm_score")
        assert final.count("Scan parquet") == 1
        assert "ReusedExchange" in final

    def test_bigram_backoff_single_corpus_scan(self, spark):
        # bigram/context/unigram LM relations and the scoring side all
        # roll up one per-(doc, flag, w1, w2) tf exchange: 1 scan
        final = self._final_plan(spark, "f78_bigram_backoff_score")
        assert final.count("Scan parquet") == 1
        assert "ReusedExchange" in final

    def test_dsir_single_corpus_scan(self, spark):
        # raw/target distributions and the scoring side all derive from
        # one per-(doc, flag, bucket) tf exchange: 1 scan, not 5
        final = self._final_plan(spark, "f74_dsir_weights")
        assert final.count("Scan parquet") == 1
        assert "ReusedExchange" in final


class TestRound8PlanShapes:
    def test_c4_line_filter_is_scan_plus_project_zero_shuffle(self, spark):
        plan = plan_of(spark, "f86_c4_line_filter")
        assert "EvalPython" not in plan
        assert "Exchange" not in plan

    def test_c12_training_mix_topk_and_bounded_scans(self, spark):
        # the training-mix DAG: the DSIR draw must compile to
        # TakeOrderedAndProject (per-partition k-heaps, never a global
        # sort of the corpus), packing is exactly ONE Arrow-batched
        # FlatMapGroupsInPandas over the k-bounded sample, the k-row
        # pick broadcasts back against docs, and the corpus parquet is
        # read a bounded <= 3 times (features checkpoint + gate + llr;
        # the logreg feature relation itself is an ExistingRDD)
        import re

        plan = plan_of(spark, "c12_training_mix")
        assert "TakeOrderedAndProject" in plan
        pack_ids = set(
            re.findall(r"FlatMapGroupsInPandas\s+\((\d+)\)", plan)
        )
        assert len(pack_ids) == 1
        scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
        assert len(scan_ids) <= 3
        assert "ExistingRDD" in plan
        assert "SortMergeJoin" not in plan

    def test_self_join_intermediates_persist(self, spark):
        # round-9 audit, second batch: relations feeding a df-cap agg
        # plus both sides of a self-join (f61 anchors, f68
        # fingerprints, f5's deliberate-quadratic shingles), a
        # vocab-sized aggregate with four consumers (f42), and the
        # bloom bench set probed by k chained broadcast joins (f76)
        # all persist — the corpus text scan appears once (f76: once
        # per side of the bench/corpus split)
        import re

        for name, max_scans in (
            ("f61_substring_spans", 1),
            ("f5_ngram_jaccard_pairs", 1),
            ("f68_winnow_pairs", 1),
            ("f42_source_kl_divergence", 1),
            ("f76_bloom_decontaminate", 2),
        ):
            plan = plan_of(spark, name)
            scan_ids = set(
                re.findall(r"\((\d+)\)\s+Scan parquet", plan)
            )
            assert len(scan_ids) <= max_scans, (name, len(scan_ids))
            spark.catalog.clearCache()

    def test_f93_candidate_spans_anchor_restriction(self, spark):
        # the two-stage extractor must build anchors only for
        # candidate docs and read the persisted anchor relation on
        # both join sides; the pair list itself persists (three
        # consumers). The left-semi restriction is asserted on the
        # anchor relation's own plan (the query plan hides it inside
        # the InMemoryRelation).
        import contextlib
        import io
        import re

        from borsa_spark.functions.dedup import (
            _span_anchors,
            repeated_substring_spans_for_pairs,  # noqa: F401
        )
        from borsa_spark.sources import load_table

        plan = plan_of(spark, "f93_candidate_substring_spans")
        imts = set(re.findall(r"\((\d+)\)\s+InMemoryTableScan", plan))
        assert len(imts) >= 3  # anchors x2 sides + pairs
        spark.catalog.clearCache()
        # rebuild the restricted anchor relation the way the function
        # does and pin the semi-join gate in ITS plan
        docs = load_table(spark, SF, "documents")
        pairs = spark.createDataFrame(
            [(1, 2)], "id_a long, id_b long"
        )
        ids = (
            pairs.select(pairs.id_a.alias("id"))
            .unionByName(pairs.select(pairs.id_b.alias("id")))
            .distinct()
        )
        anch = _span_anchors(docs, 5, "text", "doc_id").join(
            ids, "id", "left_semi"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            anch.explain("formatted")
        assert "LeftSemi" in buf.getvalue()


class TestRound10PlanShapes:
    """Final-AQE-plan guards for the round-10 queries."""

    def test_f94_rewrite_bounded_scans_and_jvm_only(self, spark):
        # span removal reads the corpus parquet at most twice (screen
        # lineage + the rewrite scan; anchors ride the persisted
        # relations, visible as TableCacheQueryStage), and the cut is
        # a JVM higher-order filter — no Python anywhere
        import re

        plan = final_plan_of(spark, "f94_span_removal_rewrite")
        scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
        assert len(scan_ids) <= 2
        assert "TableCacheQueryStage" in plan
        assert "EvalPython" not in plan
        assert "MapInPandas" not in plan
        spark.catalog.clearCache()

    def test_f95_single_corpus_scan(self, spark):
        # the capped minhash default keeps f7's shape: one corpus scan
        # (persisted shingle-array relation feeds signature fold and
        # both verify sides), candidates equi-join only
        import re

        plan = final_plan_of(spark, "f95_minhash_crawl_guard")
        scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
        assert len(scan_ids) == 1
        assert "MapInPandas" not in plan
        assert "EvalPython" not in plan
        spark.catalog.clearCache()


class TestWidenGuardsR14:
    """Round-14 hardening of `widen_if_narrow` (r13 verdict #5 +
    ADVICE): the round-robin widen is strictly a SMALL-narrow-input
    fix — it must not stack on composed use and must not fire on a
    relation whose bytes already yield a parallelism-wide scan."""

    def test_widen_does_not_stack(self, spark):
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        once = dd.widen_if_narrow(docs)
        twice = dd.widen_if_narrow(once)
        assert twice is once  # short-circuit, not a second exchange
        plan = twice._jdf.queryExecution().executedPlan().toString()
        assert plan.count("RoundRobinPartitioning") == 1

    def test_widen_skips_when_bytes_already_scan_wide(self, spark):
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
        # force "huge relation" semantics: at 1 KiB splits the ~600 KB
        # single-file documents table already scans wider than
        # defaultParallelism, so the exchange would buy nothing
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        try:
            docs = load_table(spark, SF, "documents")
            out = dd.widen_if_narrow(docs)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "RoundRobinPartitioning" not in plan
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    def test_widen_still_fires_on_narrow_local_input(self, spark):
        from borsa_spark.functions import dedup as dd
        from borsa_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        plan = dd.widen_if_narrow(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "RoundRobinPartitioning" in plan

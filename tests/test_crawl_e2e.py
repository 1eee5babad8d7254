"""Corpus-prep building blocks: the rewriting paragraph dedup
(`dedup.drop_repeated_paragraphs`) and the c12 stage composition
contract — every stage must be LOAD-BEARING (drop or rewrite at least
one fixture doc) so a green c12 hash means every stage ran, not that
the pipeline happened to be a no-op."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from borsa_spark.functions.dedup import (
    drop_repeated_paragraphs,
    sql_drop_repeated_paragraphs,
)

SF01 = "/root/testdata/sf0.01"


class TestDropRepeatedParagraphs:
    DOCS = [
        # doc 1: unique line + shared boilerplate
        (1, "en", "alpha unique line one\nsubscribe to our newsletter"),
        # doc 2: another unique line + the SAME boilerplate (cut here)
        (2, "es", "beta unique line two\nsubscribe to our newsletter"),
        # doc 3: nothing but later-duplicates -> drops out entirely
        (3, "de", "subscribe to our newsletter"),
        # doc 4: intra-doc repeat -> second copy cut, order preserved
        (4, "fr", "gamma one\ndelta two\ngamma one"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.DOCS, "doc_id long, lang string, text string"
        )

    def test_keep_first_occurrence_rule(self, spark):
        out = {
            r.doc_id: r.text
            for r in drop_repeated_paragraphs(self._df(spark)).collect()
        }
        assert out[1] == (
            "alpha unique line one\nsubscribe to our newsletter"
        )
        assert out[2] == "beta unique line two"
        assert 3 not in out  # all-duplicate doc drops out
        assert out[4] == "gamma one\ndelta two"

    def test_extra_columns_ride_along(self, spark):
        rows = {r.doc_id: r.lang
                for r in drop_repeated_paragraphs(self._df(spark)).collect()}
        assert rows == {1: "en", 2: "es", 4: "fr"}

    def test_sql_mirror_matches(self, spark):
        got = sorted(
            (r.doc_id, r.lang, r.text)
            for r in drop_repeated_paragraphs(self._df(spark)).collect()
        )
        con = duckdb.connect()
        rows = ", ".join(
            f"({d}, '{lg}', '{t}')".replace("\n", "' || chr(10) || '")
            for d, lg, t in self.DOCS
        )
        docs_sql = (
            "SELECT * FROM (VALUES " + rows + ") AS v(doc_id, lang, text)"
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                sql_drop_repeated_paragraphs(
                    docs_sql, extra_cols=("lang",)
                )
            ).fetchall()
        )
        assert got == want


class TestDropRepeatedParagraphsProperties:
    """Property-based model equivalence: drop_repeated_paragraphs vs a
    pure-Python keep-first model over machine-chosen corpora (tiny
    paragraph alphabet to force cross-doc and intra-doc collisions,
    single-paragraph docs, all-duplicate docs)."""

    def _model(self, docs):
        seen = set()
        out = {}
        for doc_id, text in sorted(docs):
            kept = []
            for p in text.split("\n"):
                if p not in seen:
                    seen.add(p)
                    kept.append(p)
            if kept:
                out[doc_id] = "\n".join(kept)
        return out

    def test_matches_keep_first_model(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        PARA = st.sampled_from(["pa", "pb", "pc", "pd shared", "pe"])
        DOC = st.lists(PARA, min_size=1, max_size=5)
        CORPUS = st.lists(DOC, min_size=1, max_size=6)

        @settings(
            max_examples=10, deadline=None,
            suppress_health_check=[
                HealthCheck.too_slow,
                HealthCheck.function_scoped_fixture,
            ],
        )
        @given(CORPUS)
        def run(corpus):
            docs = [(i, "\n".join(paras))
                    for i, paras in enumerate(corpus)]
            got = {
                r.doc_id: r.text
                for r in drop_repeated_paragraphs(
                    spark.createDataFrame(
                        docs, "doc_id long, text string"
                    )
                ).collect()
            }
            assert got == self._model(docs)

        run()


class TestC12StageLoadBearing:
    """The training-mix funnel (c12): the median quality gate must
    DROP documents, DSIR must pick exactly k, packing must keep every
    pick while genuinely grouping docs into shared bins across all
    streams."""

    @pytest.fixture(scope="class")
    def stages(self, spark):
        from borsa_spark.queries import c12_stage_counts

        return c12_stage_counts(spark, SF01)

    def test_funnel_is_strict(self, stages):
        n = stages
        assert n["fixture"] == 500
        # the median gate keeps >= half-ish but strictly drops some,
        # and leaves enough survivors for the k=100 draw
        assert 100 <= n["survivors"] < n["fixture"]
        assert n["selected"] == 100          # Gumbel-top-k exact draw
        assert n["packed"] == 100            # packing loses nothing

    def test_packing_actually_bins(self, stages):
        n = stages
        # fewer bins than docs -> bins hold multiple docs (greedy
        # packing did work); every one of the 8 hash streams is live
        assert n["bins"] < n["packed"]
        assert n["streams"] == 8

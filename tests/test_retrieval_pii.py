"""Document chunking (functions/dedup.py) + PII scrub (functions/text.py).

The registry queries f44 and f47 pin these against the DuckDB oracle on
the fixture corpus; these tests pin the behavior the clean corpus cannot
witness — dirty PII text and chunk-boundary math — on constructed rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from borsa_spark.functions.dedup import doc_chunks
from borsa_spark.functions.text import pii_scrub


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDocChunks:
    def test_chunk_boundary_math(self, spark):
        # 10 tokens, window 4, stride 3: chunks at 0,3,6 cover to token 10
        # -> ceil((10-4)/3)+1 = 3 chunks; last is the 4-token tail 6..9.
        docs = _docs(spark, [(1, " ".join(f"t{i}" for i in range(10)))])
        got = doc_chunks(docs, window=4, stride=3).orderBy("chunk_idx").collect()
        assert [(r.chunk_idx, r.start_tok, r.n_tokens) for r in got] == [
            (0, 0, 4),
            (1, 3, 4),
            (2, 6, 4),
        ]

    def test_short_doc_is_one_chunk(self, spark):
        docs = _docs(spark, [(1, "a b")])
        got = doc_chunks(docs, window=4, stride=3).collect()
        assert len(got) == 1 and got[0].n_tokens == 2

    def test_tail_shorter_than_window(self, spark):
        # 11 tokens, window 4, stride 3 -> chunks 0,3,6,9; last has 2 tokens.
        docs = _docs(spark, [(1, " ".join("x" * 1 for _ in range(11)))])
        got = doc_chunks(docs, window=4, stride=3).orderBy("chunk_idx").collect()
        assert [r.n_tokens for r in got] == [4, 4, 4, 2]

    def test_invalid_params(self, spark):
        with pytest.raises(ValueError):
            doc_chunks(_docs(spark, [(1, "a")]), window=0)


class TestPiiScrub:
    DIRTY = [
        (1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
        (2, "ssn 123-45-6789 leaked from 10.0.0.1 twice: 123-45-6789"),
        (3, "clean text with no identifiers at all"),
    ]

    def test_counts(self, spark):
        got = {r.doc_id: r for r in pii_scrub(_docs(spark, self.DIRTY)).collect()}
        assert (got[1].n_email, got[1].n_phone) == (1, 1)
        assert (got[2].n_ssn, got[2].n_ipv4) == (2, 1)
        assert (
            got[3].n_email,
            got[3].n_ssn,
            got[3].n_phone,
            got[3].n_ipv4,
        ) == (0, 0, 0, 0)

    def test_redaction_hash_changes_only_dirty_docs(self, spark):
        docs = _docs(spark, self.DIRTY)
        got = {r.doc_id: r.redacted_hash for r in pii_scrub(docs).collect()}
        plain = {
            r.doc_id: r.h
            for r in docs.select("doc_id", F.md5("text").alias("h")).collect()
        }
        assert got[1] != plain[1] and got[2] != plain[2]
        assert got[3] == plain[3]

    def test_redacted_text_has_tags(self, spark):
        # Re-run the replacement chain directly to inspect the text form.
        from borsa_spark.functions.text import PII_PATTERNS

        red = F.col("text")
        for tag, pat in PII_PATTERNS:
            red = F.regexp_replace(red, pat, f"[{tag}]")
        out = {
            r.doc_id: r.red
            for r in _docs(spark, self.DIRTY).select("doc_id", red.alias("red")).collect()
        }
        assert "[EMAIL]" in out[1] and "[PHONE]" in out[1]
        assert out[2].count("[SSN]") == 2 and "[IPV4]" in out[2]
        assert out[3] == self.DIRTY[2][1]

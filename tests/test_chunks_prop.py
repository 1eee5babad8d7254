"""Property test: doc_chunks covers every token, chunk boundaries follow
the stride arithmetic exactly, and chunk hashes reconstruct the document
(functions/dedup.py)."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from borsa_spark.functions.dedup import doc_chunks

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

doc_st = st.lists(
    st.tuples(
        st.integers(1, 400),  # n_tokens
        st.integers(0, 9),  # vocab seed
    ),
    min_size=1,
    max_size=6,
)
params_st = st.sampled_from([(4, 3), (8, 8), (64, 48), (5, 2)])


class TestDocChunksProps:
    @SETTINGS
    @given(docs=doc_st, params=params_st)
    def test_model_equivalence(self, spark, docs, params):
        window, stride = params
        texts = [
            (i, " ".join(f"w{(seed + j) % 13}" for j in range(n)))
            for i, (n, seed) in enumerate(docs)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            (r.doc_id, r.chunk_idx): (r.start_tok, r.n_tokens, r.chunk_hash)
            for r in doc_chunks(df, window, stride).collect()
        }
        # python model
        want = {}
        for doc_id, text in texts:
            toks = text.split(" ")
            n = len(toks)
            n_chunks = 1 if n <= window else -((n - window) // -stride) + 1
            for ci in range(n_chunks):
                chunk = toks[ci * stride : ci * stride + window]
                want[(doc_id, ci)] = (
                    ci * stride,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )
        assert got == want
        # invariants: every token index is covered by at least one chunk
        for doc_id, text in texts:
            n = len(text.split(" "))
            covered = set()
            for (d, ci), (start, ln, _) in want.items():
                if d == doc_id:
                    covered.update(range(start, start + ln))
            assert covered == set(range(n))

"""Property-based fuzzing of the PNG codec (hypothesis): every
decode(encode(x)) must be bit-exact across arbitrary shapes/values.
This complements the hand-picked cases in test_multimodal.py with
machine-chosen edge shapes (1-pixel strips, extreme values)."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


class TestPngProperties:
    @SET
    @given(
        h=st.integers(1, 20),
        w=st.integers(1, 20),
        ch=st.integers(1, 4),
        ft=st.integers(0, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_roundtrip_any_shape(self, h, w, ch, ft, seed):
        from borsa_spark.functions.png import (
            _png_pixels,
            encode_png_pixels,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        assert np.array_equal(
            _png_pixels(encode_png_pixels(px, filter_type=ft)), px
        )

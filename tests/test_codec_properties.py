"""Property-based fuzzing of the image codecs (hypothesis): every
decode(encode(x)) must be bit-exact for the lossless formats across
arbitrary shapes/values, and quantization-bounded for JPEG. These
complement the hand-picked cases in test_multimodal.py with
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
        from borsa_spark.functions.multimodal import (
            _png_pixels,
            encode_png_pixels,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        assert np.array_equal(
            _png_pixels(encode_png_pixels(px, filter_type=ft)), px
        )


class TestJpegProperties:
    @SET
    @given(
        h=st.integers(8, 40),
        w=st.integers(8, 40),
        sub=st.sampled_from(["444", "420"]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_smooth_images_bounded_error(self, h, w, sub, seed):
        from borsa_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.default_rng(seed)
        # smooth low-frequency field: quantization error stays small
        fy, fx = rng.uniform(0.05, 0.3, 2)
        gy, gx = np.mgrid[0:h, 0:w]
        base = 128 + 100 * np.sin(fy * gy) * np.cos(fx * gx)
        img = np.stack(
            [base, base * 0.8 + 20, 255 - base], axis=2
        ).clip(0, 255).astype(np.uint8)
        back = decode_jpeg(encode_jpeg(img, quality=90, subsampling=sub))
        assert back.shape == img.shape
        err = np.abs(back.astype(int) - img.astype(int))
        # 4:2:0 halves chroma resolution, and the generated images have
        # strong chroma gradients (the 255-base channel opposes base),
        # so its bound is legitimately looser than 4:4:4's
        mean_bound, max_bound = (4.0, 48) if sub == "444" else (9.0, 80)
        assert err.mean() < mean_bound
        assert err.max() < max_bound


class TestGifProperties:
    @SET
    @given(
        h=st.integers(1, 16),
        w=st.integers(1, 16),
        levels=st.integers(2, 16),
        interlace=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_roundtrip_any_shape(self, h, w, levels, interlace, seed):
        from borsa_spark.functions.gif import decode_gif, encode_gif

        rng = np.random.default_rng(seed)
        # quantized palette keeps unique colors <= levels^... well under 256
        px = (rng.integers(0, levels, size=(h, w, 3)) * (255 // levels)).astype(
            np.uint8
        )
        assert np.array_equal(decode_gif(encode_gif(px, interlace=interlace)), px)

    @SET
    @given(
        n=st.integers(1, 3000),
        alphabet=st.integers(2, 255),
        mcs=st.integers(2, 8),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_lzw_roundtrip(self, n, alphabet, mcs, seed):
        from borsa_spark.functions.gif import _lzw_decode, _lzw_encode

        rng = np.random.default_rng(seed)
        s = bytes(rng.integers(0, min(alphabet, 1 << mcs), n, dtype=np.uint8))
        assert _lzw_decode(_lzw_encode(s, mcs), mcs, n) == s

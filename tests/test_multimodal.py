"""PNG codec tests (functions/png.py): golden bytes, every filter type
and color type round-tripped bit-exactly, error paths."""

from __future__ import annotations

import pytest


class TestPngCodec:
    """Stdlib-only PNG decode: golden bytes (hand-filtered scanlines,
    expected pixels derived independently from the RFC 2083 recurrences),
    every filter type round-tripped, error paths."""

    # 3x2 RGB, row 0 filtered with Sub(1), row 1 with Paeth(4). The
    # filtered bytes were hand-authored; the expected pixels below were
    # computed with a from-the-spec decoder written independently of
    # borsa_spark (see commit message), so this is a true golden.
    GOLDEN_PNG = bytes.fromhex(
        "89504e470d0a1a0a0000000d49484452000000030000000208020000001216"
        "f14d0000001c49444154789c63e4129163fdc57e8291938599e3578a11939c"
        "860d0029d40439f671055f0000000049454e44ae426082"
    )
    GOLDEN_PIXELS = [
        [[10, 20, 30], [15, 14, 37], [215, 15, 46]],
        [[13, 28, 24], [115, 70, 32], [245, 110, 97]],
    ]

    def test_golden_pixels_byte_for_byte(self):
        import numpy as np

        from borsa_spark.functions.png import _png_pixels, decode_png

        px = _png_pixels(self.GOLDEN_PNG)
        assert px.tolist() == self.GOLDEN_PIXELS
        w, h, ch, luma = decode_png(self.GOLDEN_PNG)
        assert (w, h, ch) == (3, 2, 3)
        flat = np.array(self.GOLDEN_PIXELS, dtype=float)
        assert luma == pytest.approx(flat.mean() / 255.0, abs=1e-12)

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_every_filter_type_round_trips(self, filter_type):
        import numpy as np

        from borsa_spark.functions.png import (
            _png_pixels,
            encode_png_pixels,
        )

        rng = np.random.default_rng(41 + filter_type)
        px = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
        back = _png_pixels(encode_png_pixels(px, filter_type=filter_type))
        assert np.array_equal(back, px)

    def test_error_paths(self):
        from borsa_spark.functions.png import _png_pixels

        golden = self.GOLDEN_PNG
        with pytest.raises(ValueError):  # bad signature
            _png_pixels(b"\x89PNG-fake-bytes-1")
        with pytest.raises(ValueError):  # truncated mid-chunk
            _png_pixels(golden[:30])
        corrupt = bytearray(golden)
        corrupt[45] ^= 0xFF  # flip an IDAT byte -> CRC mismatch
        with pytest.raises(ValueError):
            _png_pixels(bytes(corrupt))
        # 16-bit depth rejected loudly (never a silently wrong grid)
        import struct as _s
        import zlib as _z

        ihdr = _s.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
        chunk = (
            _s.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + _s.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        iend = _s.pack(">I", 0) + b"IEND" + _s.pack(
            ">I", _z.crc32(b"IEND") & 0xFFFFFFFF
        )
        with pytest.raises(ValueError):
            _png_pixels(b"\x89PNG\r\n\x1a\n" + chunk + iend)



class TestPngColorTypes:
    """The decoder's gray / gray+alpha / RGBA branches are drivable
    because the encoder maps 1-4 channels to PNG color types 0/4/2/6 —
    every (color type, filter) combination round-trips bit-exactly."""

    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_roundtrip_every_color_type_and_filter(
        self, channels, filter_type
    ):
        import numpy as np

        from borsa_spark.functions.png import (
            _png_pixels,
            encode_png_pixels,
        )

        rng = np.random.default_rng(channels * 10 + filter_type)
        px = rng.integers(
            0, 256, size=(9, 11, channels), dtype=np.uint8
        )
        back = _png_pixels(encode_png_pixels(px, filter_type=filter_type))
        assert np.array_equal(back, px)

    def test_alpha_excluded_from_luma(self):
        import numpy as np

        from borsa_spark.functions.png import (
            decode_png,
            encode_png_pixels,
        )

        # RGB + varying alpha: luma must match the alpha-free image
        rng = np.random.default_rng(8)
        rgb = rng.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
        alpha = rng.integers(0, 256, size=(7, 9, 1), dtype=np.uint8)
        rgba = np.concatenate([rgb, alpha], axis=2)
        _, _, ch3, luma3 = decode_png(encode_png_pixels(rgb))
        _, _, ch4, luma4 = decode_png(encode_png_pixels(rgba))
        assert (ch3, ch4) == (3, 4)
        assert luma4 == pytest.approx(luma3, abs=1e-12)


"""Multimodal plumbing tests: schema, determinism, batch shape."""

from __future__ import annotations

import pytest

from borsa_spark import schemas
from borsa_spark.functions.multimodal import (
    decode_bmp,
    decode_ppm,
    encode_bmp,
    encode_ppm,
    image_features,
    media_batch_conf,
    resize_images,
)


class TestRealCodecs:
    """Pure-Python BMP/PPM decode — golden bytes, padding, header comments,
    round-trips with the fixture encoders, and error paths."""

    def test_bmp_golden_2x2_with_padding(self):
        # 2x2 24-bit BMP: width*3 = 6 bytes/row, stride pads to 8. Pixels
        # bottom-up, BGR: row0(bottom) = red,green; row1(top) = blue,white.
        import struct

        red, green, blue, white = (
            b"\x00\x00\xff", b"\x00\xff\x00", b"\xff\x00\x00", b"\xff\xff\xff",
        )
        pad = b"\x00\x00"
        pixels = red + green + pad + blue + white + pad
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixels), 0, 0, 0, 0
        )
        w, h, ch, luma = decode_bmp(hdr + dib + pixels)
        assert (w, h, ch) == (2, 2, 3)
        # channel sum = 255*(1+1+1+3) = 1530 over 12 samples
        assert luma == pytest.approx(1530 / 12 / 255.0)

    def test_ppm_golden_with_comment(self):
        data = b"P6\n# a comment\n3 1\n255\n" + bytes([10, 20, 30] * 3)
        w, h, ch, luma = decode_ppm(data)
        assert (w, h, ch) == (3, 1, 3)
        assert luma == pytest.approx(20 / 255.0)

    @pytest.mark.parametrize("width,height,rgb", [
        (1, 1, (0, 0, 0)),
        (5, 3, (255, 0, 128)),   # 5*3=15 bytes/row -> stride 16 (padding)
        (4, 7, (17, 34, 51)),    # 12 bytes/row -> no padding
        (13, 2, (200, 100, 50)),
    ])
    def test_encode_decode_round_trip(self, width, height, rgb):
        expect_luma = sum(rgb) / 3.0 / 255.0
        for enc, dec in ((encode_bmp, decode_bmp), (encode_ppm, decode_ppm)):
            w, h, ch, luma = dec(enc(width, height, rgb))
            assert (w, h, ch) == (width, height, 3)
            assert luma == pytest.approx(expect_luma, abs=1e-12)

    def test_error_paths(self):
        with pytest.raises(ValueError):
            decode_bmp(b"BMxx")  # truncated
        with pytest.raises(ValueError):
            decode_bmp(b"NOPE" + b"\x00" * 60)
        with pytest.raises(ValueError):
            decode_ppm(b"P5\n1 1\n255\n\x00")  # grayscale PGM, not P6
        with pytest.raises(ValueError):
            decode_ppm(b"P6\n2 2\n255\n\x00\x01")  # short pixel data


class TestPngCodec:
    """Stdlib-only PNG decode: golden bytes (hand-filtered scanlines,
    expected pixels derived independently from the RFC 2083 recurrences),
    every filter type round-tripped, cross-codec invariance, error paths."""

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

        from borsa_spark.functions.multimodal import _png_pixels, decode_png

        px = _png_pixels(self.GOLDEN_PNG)
        assert px.tolist() == self.GOLDEN_PIXELS
        w, h, ch, luma = decode_png(self.GOLDEN_PNG)
        assert (w, h, ch) == (3, 2, 3)
        flat = np.array(self.GOLDEN_PIXELS, dtype=float)
        assert luma == pytest.approx(flat.mean() / 255.0, abs=1e-12)

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_every_filter_type_round_trips(self, filter_type):
        import numpy as np

        from borsa_spark.functions.multimodal import (
            _png_pixels,
            encode_png_pixels,
        )

        rng = np.random.default_rng(41 + filter_type)
        px = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
        back = _png_pixels(encode_png_pixels(px, filter_type=filter_type))
        assert np.array_equal(back, px)

    def test_solid_color_parity_with_bmp_and_ppm(self):
        from borsa_spark.functions.multimodal import decode_png, encode_png

        for rgb in [(0, 0, 0), (255, 255, 255), (10, 200, 30)]:
            w, h, ch, luma = decode_png(encode_png(9, 5, rgb))
            bw, bh, bch, bluma = decode_bmp(encode_bmp(9, 5, rgb))
            assert (w, h, ch) == (bw, bh, bch) == (9, 5, 3)
            assert luma == pytest.approx(bluma, abs=1e-12)

    def test_phash_cross_codec_invariance(self):
        # The same pixel grid through the PNG and PPM pixel paths must
        # produce the SAME grayscale grid (the input of every thumbnail)
        # — the natural oracle for "the PNG decode returns real pixels,
        # not plausible ones".
        import numpy as np

        from borsa_spark.functions.multimodal import (
            _gray_png,
            _gray_ppm,
            encode_png_pixels,
        )

        gy, gx = np.mgrid[0:24, 0:32]
        grad = np.stack(
            [(gy * 7) % 256, (gx * 11) % 256, ((gx + gy) * 5) % 256], axis=2
        ).astype(np.uint8)
        png = encode_png_pixels(grad, filter_type=4)
        ppm = b"P6\n32 24\n255\n" + grad.tobytes()
        assert np.array_equal(_gray_png(png), _gray_ppm(ppm))

    def test_error_paths(self):
        from borsa_spark.functions.multimodal import _png_pixels

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

    def test_image_features_dispatches_png(self, spark):
        from borsa_spark.functions.multimodal import encode_png

        rows = [
            (20, "image", "image/png", encode_png(6, 4, (30, 60, 90)),
             None, None, None, None, None),
        ]
        assets = spark.createDataFrame(rows, schema=schemas.MEDIA_ASSETS)
        out = {r.asset_id: r for r in image_features(assets).collect()}
        assert (out[20].width, out[20].height, out[20].decoder) == (6, 4, "png")
        assert out[20].mean_luma == pytest.approx(60 / 255.0)

    def test_image_phash_corrupt_png_degrades(self, spark):
        corrupt = bytearray(self.GOLDEN_PNG)
        corrupt[45] ^= 0xFF
        rows = [
            (30, "image", "image/png", bytes(corrupt),
             None, None, None, None, None),
            (31, "image", "image/png", self.GOLDEN_PNG,
             None, None, None, None, None),
        ]
        assets = spark.createDataFrame(rows, schema=schemas.MEDIA_ASSETS)
        out = {r.asset_id: r for r in resize_images(assets, 3, 2).collect()}
        assert out[30].decoder == "corrupt-fallback"
        assert out[31].decoder == "png"


@pytest.fixture()
def assets(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG-fake-bytes-1", None, None, None, None, None),
        (2, "image", "image/png", b"\x89PNG-fake-bytes-2", None, None, None, None, None),
        (3, "audio", "audio/wav", b"RIFF-fake", None, None, 2500, 44100, None),
        (4, "video", "video/mp4", b"mp4-fake", None, None, 3500, None, None),
        (5, "image", "image/png", None, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, schema=schemas.MEDIA_ASSETS)


class TestMultimodal:
    def test_image_features_deterministic(self, assets):
        out1 = {r.asset_id: r for r in image_features(assets).collect()}
        out2 = {r.asset_id: r for r in image_features(assets).collect()}
        assert set(out1) == {1, 2, 3, 4, 5}
        for k in out1:
            assert out1[k] == out2[k]  # decode is deterministic
        assert out1[1].sha256 != out1[2].sha256
        assert 16 <= out1[1].width < 256
        assert out1[1].decoder == "fake-deterministic"

    def test_image_features_real_codecs_in_pipeline(self, spark):
        rows = [
            (10, "image", "image/bmp", encode_bmp(5, 3, (255, 0, 128)),
             None, None, None, None, None),
            (11, "image", "image/x-portable-pixmap",
             encode_ppm(4, 2, (30, 60, 90)), None, None, None, None, None),
        ]
        assets = spark.createDataFrame(rows, schema=schemas.MEDIA_ASSETS)
        out = {r.asset_id: r for r in image_features(assets).collect()}
        assert (out[10].width, out[10].height, out[10].decoder) == (5, 3, "bmp")
        assert out[10].mean_luma == pytest.approx((255 + 0 + 128) / 3 / 255.0)
        assert (out[11].width, out[11].height, out[11].decoder) == (4, 2, "ppm")
        assert out[11].mean_luma == pytest.approx(60 / 255.0)

    def test_resize_emits_fixed_size_thumbs(self, assets):
        out = resize_images(assets.filter("modality = 'image'"), 8, 8).collect()
        assert all(len(r.thumb) == 64 for r in out)
        assert {r.asset_id for r in out} == {1, 2, 5}

    def test_batch_conf_sizing(self):
        assert media_batch_conf(10 * 1 << 20) == 25  # 10MB payloads -> 25/batch
        assert media_batch_conf(1) == 1 << 28
        assert media_batch_conf(1 << 40) == 1  # never zero

    def test_autotune_probes_and_sets_conf(self, spark):
        from borsa_spark.functions.multimodal import (
            ARROW_BATCH_KEY,
            autotune_arrow_batch,
        )

        prev = spark.conf.get(ARROW_BATCH_KEY, None)
        try:
            # ~1 MB payloads -> 256MB/1MB = 256 rows per batch
            big = spark.createDataFrame(
                [(i, bytes([i % 251]) * (1 << 20)) for i in range(4)],
                "asset_id long, payload binary",
            )
            assert autotune_arrow_batch(big) == 256
            assert spark.conf.get(ARROW_BATCH_KEY) == "256"
            # tiny payloads RATCHET DOWN only: execution is lazy and the
            # conf is session-wide, so a later small-payload pipeline must
            # never raise the setting back up under an earlier big-payload
            # pipeline that hasn't executed yet
            small = spark.createDataFrame(
                [(1, b"x")], "asset_id long, payload binary"
            )
            assert autotune_arrow_batch(small) == 256
            # a fresh session value above default still caps at 10k
            spark.conf.set(ARROW_BATCH_KEY, "50000")
            assert autotune_arrow_batch(small) == 10_000
        finally:
            if prev is not None:
                spark.conf.set(ARROW_BATCH_KEY, prev)
            else:
                spark.conf.unset(ARROW_BATCH_KEY)

    def test_image_features_autotunes_by_default(self, spark, assets):
        from borsa_spark.functions.multimodal import ARROW_BATCH_KEY

        prev = spark.conf.get(ARROW_BATCH_KEY, None)
        try:
            spark.conf.unset(ARROW_BATCH_KEY)
            image_features(assets)  # plan construction runs the probe
            assert spark.conf.get(ARROW_BATCH_KEY) is not None
            spark.conf.unset(ARROW_BATCH_KEY)
            image_features(assets, auto_batch=False)
            assert spark.conf.get(ARROW_BATCH_KEY, None) is None
        finally:
            if prev is not None:
                spark.conf.set(ARROW_BATCH_KEY, prev)



class TestPerceptualHash:
    """Guards every per-asset image UDF shares: magic-matching but
    undecodable payloads degrade to a tagged fallback instead of failing
    the Spark job, and the Arrow batch autotune still caps huge payloads
    when the conf says "unlimited"."""

    @staticmethod
    def _ppm(gray):
        import numpy as np

        h, w = gray.shape
        rgb = np.repeat((gray * 255).astype("uint8")[:, :, None], 3, axis=2)
        return b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()

    def test_corrupt_magic_payloads_degrade_not_crash(self, spark):
        # magic-matching but truncated/unsupported payloads must take the
        # fallback path with an audit tag, never abort the Spark job
        import numpy as np

        gy, gx = np.mgrid[0:12, 0:16]
        healthy = self._ppm((gy * 16 + gx) / 255.0)
        assets = spark.createDataFrame(
            [
                (1, bytearray(b"BM" + b"\x00" * 10)),        # truncated BMP
                (2, bytearray(b"P6\n2 2\n65535\n" + b"\x00" * 24)),  # 16-bit PPM
                (3, bytearray(healthy)),
            ],
            "asset_id long, payload binary",
        )
        feats = {
            r["asset_id"]: r["decoder"]
            for r in image_features(assets, auto_batch=False).collect()
        }
        thumbs = {
            r["asset_id"]: r["decoder"]
            for r in resize_images(assets, 4, 4, auto_batch=False).collect()
        }
        want = {1: "corrupt-fallback", 2: "corrupt-fallback", 3: "ppm"}
        assert feats == want
        assert thumbs == want

    def test_autotune_treats_nonpositive_conf_as_uncapped(self, spark):
        from borsa_spark.functions.multimodal import (
            ARROW_BATCH_KEY,
            autotune_arrow_batch,
        )

        prev = spark.conf.get(ARROW_BATCH_KEY, None)
        try:
            spark.conf.set(ARROW_BATCH_KEY, "0")  # Spark's unlimited sentinel
            big = spark.createDataFrame(
                [(1, bytes(1 << 20))], "asset_id long, payload binary"
            )
            assert autotune_arrow_batch(big) == 256  # guard still engages
        finally:
            if prev is not None:
                spark.conf.set(ARROW_BATCH_KEY, prev)
            else:
                spark.conf.unset(ARROW_BATCH_KEY)


class TestJpegCodec:
    """Pure-Python baseline JPEG (functions/jpeg.py): quantization-bounded
    round-trips across quality/subsampling/restart settings, exact flat
    color, cross-codec agreement with the lossless PNG path, and loud
    rejection of unsupported modes."""

    @staticmethod
    def _gradient(h=24, w=32):
        import numpy as np

        gy, gx = np.mgrid[0:h, 0:w]
        sm = 128 + 100 * np.sin(gy / 6.0) * np.cos(gx / 8.0)
        return np.stack(
            [sm, sm * 0.8 + 20, sm * 0.5 + 60], axis=2
        ).astype(np.uint8)

    @staticmethod
    def _textured(n=64):
        # multi-frequency 64x64 image, so q90 loss is spread over many
        # DCT coefficients rather than one smooth ramp
        import numpy as np

        gy, gx = np.mgrid[0:n, 0:n]
        sm = (128 + 90 * np.sin(gy / 5.0) * np.cos(gx / 7.0)
              + 30 * np.sin((gx + gy) / 3.0))
        return np.stack(
            [sm, sm * 0.7 + 30, 255 - sm], axis=2
        ).clip(0, 255).astype(np.uint8)

    def test_flat_color_round_trips_exactly(self):
        import numpy as np

        from borsa_spark.functions.jpeg import decode_jpeg, encode_jpeg

        img = np.full((16, 24, 3), [40, 180, 90], dtype=np.uint8)
        back = decode_jpeg(encode_jpeg(img, quality=90))
        assert back.shape == (16, 24, 3)
        assert int(np.abs(back.astype(int) - img.astype(int)).max()) == 0

    @pytest.mark.parametrize("kwargs,mean_bound,max_bound", [
        ({"quality": 95}, 1.5, 16),
        ({"quality": 90, "subsampling": "420"}, 3.0, 24),
        ({"quality": 90, "restart_interval": 2}, 2.0, 16),
        ({"quality": 85, "subsampling": "420", "restart_interval": 1},
         3.5, 24),
    ])
    def test_roundtrip_within_quant_error(self, kwargs, mean_bound,
                                          max_bound):
        import numpy as np

        from borsa_spark.functions.jpeg import decode_jpeg, encode_jpeg

        img = self._gradient()
        back = decode_jpeg(encode_jpeg(img, **kwargs))
        err = np.abs(back.astype(int) - img.astype(int))
        assert back.shape == img.shape
        assert err.mean() < mean_bound, err.mean()
        assert err.max() < max_bound, err.max()

    def test_odd_dimensions_and_grayscale(self):
        import numpy as np

        from borsa_spark.functions.jpeg import decode_jpeg, encode_jpeg

        odd = self._gradient()[:17, :19]
        back = decode_jpeg(
            encode_jpeg(odd, quality=85, subsampling="420")
        )
        assert back.shape == (17, 19, 3)
        g = self._gradient()[:, :, 0]
        back = decode_jpeg(encode_jpeg(g, quality=90))
        assert back.shape == (24, 32, 1)
        assert np.abs(
            back[:, :, 0].astype(int) - g.astype(int)
        ).mean() < 1.5

    def test_phash_cross_codec_vs_png(self):
        # JPEG is lossy, but the same pixels through the lossless PNG
        # path and a q90 JPEG must give nearly the same grayscale grid,
        # and 8x8 block means (what resize_images emits) within one level.
        import numpy as np

        from borsa_spark.functions.jpeg import encode_jpeg
        from borsa_spark.functions.multimodal import (
            _block_mean,
            _gray_jpeg,
            _gray_png,
            encode_png_pixels,
        )

        img = self._textured()
        g_png = _gray_png(encode_png_pixels(img))
        g_jpeg = _gray_jpeg(encode_jpeg(img, quality=90))
        assert g_png.shape == g_jpeg.shape == (64, 64)
        assert np.abs(g_png - g_jpeg).mean() * 255 < 1.5
        thumb_gap = np.abs(
            _block_mean(g_png, 8, 8) - _block_mean(g_jpeg, 8, 8)
        )
        assert thumb_gap.max() * 255 < 1.0

    def test_unsupported_modes_reject(self):
        import struct as _s

        from borsa_spark.functions.jpeg import decode_jpeg, encode_jpeg

        with pytest.raises(ValueError):
            decode_jpeg(b"\x00\x01not a jpeg")
        good = encode_jpeg(self._gradient(), quality=90)
        with pytest.raises(ValueError):
            decode_jpeg(good[:40])  # truncated in the tables
        # flip SOF0 -> SOF2 (progressive): loud reject, not garbage
        idx = good.find(b"\xff\xc0")
        assert idx > 0
        prog = good[:idx] + b"\xff\xc2" + good[idx + 2 :]
        with pytest.raises(ValueError, match="unsupported JPEG mode"):
            decode_jpeg(prog)
        # corrupt entropy data -> ValueError from the Huffman decoder
        bad = bytearray(good)
        sos = good.find(b"\xff\xda")
        for i in range(sos + 20, min(sos + 60, len(bad) - 2)):
            bad[i] ^= 0xA5
        try:
            decode_jpeg(bytes(bad))  # either decodes to junk pixels...
        except ValueError:
            pass  # ...or rejects; both are acceptable, crashing is not

    def test_image_features_and_phash_dispatch_jpeg(self, spark):
        from borsa_spark.functions.jpeg import encode_jpeg

        img = self._gradient()
        rows = [
            (50, "image", "image/jpeg", encode_jpeg(img, quality=90),
             None, None, None, None, None),
            (51, "image", "image/jpeg", b"\xff\xd8garbage" * 4,
             None, None, None, None, None),
        ]
        assets = spark.createDataFrame(rows, schema=schemas.MEDIA_ASSETS)
        feats = {r.asset_id: r for r in image_features(assets).collect()}
        assert (feats[50].width, feats[50].height, feats[50].decoder) == (
            32, 24, "jpeg",
        )
        assert feats[51].decoder == "corrupt-fallback"
        want_luma = img.astype(float).mean() / 255.0
        assert abs(feats[50].mean_luma - want_luma) < 0.02
        th = {r.asset_id: r for r in resize_images(assets, 8, 6).collect()}
        assert th[50].decoder == "jpeg"
        assert th[51].decoder == "corrupt-fallback"


class TestPngColorTypes:
    """Round-6 follow-up: the decoder's gray / gray+alpha / RGBA branches
    are drivable now that the fixture encoder maps 1-4 channels to PNG
    color types 0/4/2/6 — every (color type, filter) combination
    round-trips bit-exactly."""

    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_roundtrip_every_color_type_and_filter(
        self, channels, filter_type
    ):
        import numpy as np

        from borsa_spark.functions.multimodal import (
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

        from borsa_spark.functions.multimodal import (
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


class TestGifCodec:
    """functions/gif.py: pure-Python GIF87a/89a with real LZW both ways."""

    def test_hand_built_literal_stream_golden(self):
        # "Uncompressed GIF" built byte-by-byte from the spec, NOT via
        # encode_gif: a clear code before every literal keeps the
        # dictionary empty, so this pins LSB-first bit packing, clear
        # semantics, sub-block framing, and palette lookup independently
        # of the encoder's arithmetic.
        import struct

        import numpy as np

        from borsa_spark.functions.gif import decode_gif

        m, w = 2, 3
        clear, end = 4, 5
        pixels = [1, 0, 3, 2, 1, 1]
        bits = []

        def put(code, width):
            for i in range(width):
                bits.append((code >> i) & 1)

        put(clear, w)
        for p in pixels:
            put(p, w)
            put(clear, w)
        put(end, w)
        stream = bytearray()
        for i in range(0, len(bits), 8):
            v = 0
            for j, bit in enumerate(bits[i : i + 8]):
                v |= bit << j
            stream.append(v)
        palette = bytes(
            [0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255]
        )  # black, R, G, B
        gif = (
            b"GIF89a"
            + struct.pack("<HHBBB", 3, 2, 0x81, 0, 0)
            + palette
            + struct.pack("<BHHHHB", 0x2C, 0, 0, 3, 2, 0)
            + bytes([m, len(stream)])
            + bytes(stream)
            + b"\x00\x3b"
        )
        px = decode_gif(gif)
        assert px.shape == (2, 3, 3)
        # pixels [1,0,3 / 2,1,1] -> [R, black, B / G, R, R]
        assert np.array_equal(
            px[0], np.array([[255, 0, 0], [0, 0, 0], [0, 0, 255]], np.uint8)
        )
        assert np.array_equal(
            px[1], np.array([[0, 255, 0], [255, 0, 0], [255, 0, 0]], np.uint8)
        )

    def test_roundtrip_shapes_and_interlace(self):
        import numpy as np

        from borsa_spark.functions.gif import decode_gif, encode_gif

        rng = np.random.default_rng(11)
        cases = [
            np.zeros((1, 1, 3), np.uint8),
            np.full((5, 7, 3), 200, np.uint8),
            (rng.integers(0, 4, (33, 9, 3)) * 60).astype(np.uint8),
            (rng.integers(0, 4, (1, 50, 3)) * 60).astype(np.uint8),
        ]
        for px in cases:
            for interlace in (False, True):
                out = decode_gif(encode_gif(px, interlace=interlace))
                assert np.array_equal(out, px)

    def test_dictionary_full_roundtrip_and_compression(self):
        # 256-color noise forces the dictionary toward 4096 and the
        # clear-on-full path; low-entropy input must genuinely compress
        import numpy as np

        from borsa_spark.functions.gif import decode_gif, encode_gif

        rng = np.random.default_rng(11)
        colors = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        noise = colors[rng.integers(0, 256, (80, 90)).astype(np.uint8)]
        assert np.array_equal(decode_gif(encode_gif(noise)), noise)
        flat = np.full((64, 64, 3), 9, np.uint8)
        enc = encode_gif(flat)
        assert len(enc) < 64 * 64 // 4  # real compression, no pass-through
        assert np.array_equal(decode_gif(enc), flat)

    def test_phash_cross_codec_invariance(self):
        # identical pixels through GIF and PPM must give identical
        # grayscale grids — the cross-codec oracle every image decoder
        # here satisfies
        import numpy as np

        from borsa_spark.functions.gif import encode_gif
        from borsa_spark.functions.multimodal import _gray_gif, _gray_ppm

        rng = np.random.default_rng(11)
        px = (rng.integers(0, 4, (24, 31, 3)) * 80).astype(np.uint8)
        ppm = b"P6\n31 24\n255\n" + px.tobytes()
        assert np.array_equal(_gray_gif(encode_gif(px)), _gray_ppm(ppm))

    def test_error_paths(self):
        import numpy as np

        from borsa_spark.functions.gif import decode_gif, encode_gif

        with pytest.raises(ValueError):
            decode_gif(b"")
        with pytest.raises(ValueError):
            decode_gif(b"GIF90a" + b"\x00" * 20)
        good = encode_gif(np.full((4, 4, 3), 7, np.uint8))
        with pytest.raises(ValueError):
            decode_gif(good[:-6])  # truncated inside pixel data
        rng = np.random.default_rng(11)
        with pytest.raises(ValueError):
            encode_gif(rng.integers(0, 256, (32, 32, 3)).astype(np.uint8))

    def test_feature_and_phash_dispatch(self, spark):
        import numpy as np

        from borsa_spark.functions.gif import encode_gif

        px = np.full((6, 8, 3), 120, np.uint8)
        good = encode_gif(px)
        corrupt = good[: len(good) // 2]
        assets = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(corrupt))],
            "asset_id long, payload binary",
        )
        feats = {r.asset_id: r for r in image_features(assets).collect()}
        assert feats[1].decoder == "gif"
        assert (feats[1].width, feats[1].height) == (8, 6)
        assert abs(feats[1].mean_luma - 120 / 255) < 1e-9
        assert feats[2].decoder == "corrupt-fallback"
        th = {r.asset_id: r for r in resize_images(assets, 4, 3).collect()}
        assert th[1].decoder == "gif"
        assert th[2].decoder == "corrupt-fallback"


class TestRealThumbnails:
    """resize_images round 6: real block-mean thumbs for decodable
    payloads, hash-fake only for undecodable ones."""

    def test_flat_image_exact_thumb(self, spark):
        import numpy as np

        from borsa_spark.functions.multimodal import encode_bmp

        assets = spark.createDataFrame(
            [(1, bytearray(encode_bmp(10, 6, (120, 120, 120))))],
            "asset_id long, payload binary",
        )
        row = resize_images(assets, 4, 3).collect()[0]
        assert row.decoder == "bmp"
        assert len(row.thumb) == 12
        assert set(bytes(row.thumb)) == {120}

    def test_checkerboard_block_means(self, spark):
        import numpy as np

        from borsa_spark.functions.gif import encode_gif

        # 4x4 checkerboard of 0/255 -> every 2x2 block means 127.5 -> 128
        px = np.zeros((4, 4, 3), np.uint8)
        px[::2, 1::2] = 255
        px[1::2, ::2] = 255
        assets = spark.createDataFrame(
            [(1, bytearray(encode_gif(px)))],
            "asset_id long, payload binary",
        )
        row = resize_images(assets, 2, 2).collect()[0]
        assert row.decoder == "gif"
        assert list(bytes(row.thumb)) == [128, 128, 128, 128]

    def test_cross_codec_thumb_equality(self, spark):
        import numpy as np

        from borsa_spark.functions.gif import encode_gif

        rng = np.random.default_rng(5)
        px = (rng.integers(0, 4, (12, 17, 3)) * 80).astype(np.uint8)
        ppm = b"P6\n17 12\n255\n" + px.tobytes()
        assets = spark.createDataFrame(
            [(1, bytearray(encode_gif(px))), (2, bytearray(ppm))],
            "asset_id long, payload binary",
        )
        rows = {r.asset_id: r for r in resize_images(assets, 5, 5).collect()}
        assert rows[1].decoder == "gif" and rows[2].decoder == "ppm"
        assert bytes(rows[1].thumb) == bytes(rows[2].thumb)

    def test_undecodable_keeps_fake_path(self, spark):
        assets = spark.createDataFrame(
            [(1, bytearray(b"mp3-not-an-image")),
             (2, bytearray(b"BM" + b"\x00" * 8))],
            "asset_id long, payload binary",
        )
        rows = {r.asset_id: r for r in resize_images(assets, 8, 8).collect()}
        assert rows[1].decoder == "fake-deterministic"
        assert rows[2].decoder == "corrupt-fallback"
        assert all(len(r.thumb) == 64 for r in rows.values())

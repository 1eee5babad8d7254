"""Image columns: media as opaque binary + typed metadata.

Spark-side plumbing is REAL (schemas, Arrow-batched mapInPandas pipelines,
partition sizing). The codec layer decodes images only:

- Uncompressed 24-bit BMP, binary PPM (P6), and non-interlaced 8-bit PNG
  (gray/RGB/gray+alpha/RGBA; zlib inflate + full scanline unfilter,
  CRC-verified chunks) decode here in pure Python + numpy — no external
  libs. `image_features` dispatches on the payload's magic bytes and
  emits decoder='bmp'/'ppm'/'png' with true width/height/mean-luma.
- Baseline JPEG decodes for real (`functions/jpeg.py`: pure-Python
  T.81 — Huffman entropy decode, dequant, IDCT, YCbCr->RGB, 4:2:0/4:2:2
  subsampling, restart markers); progressive/arithmetic/12-bit reject to
  the corrupt-fallback path.
- A still GIF's first frame decodes through `functions/gif.py`.
- Magic-matching but undecodable payloads are tagged 'corrupt-fallback';
  unrecognized bytes get a deterministic digest-derived stub tagged
  'fake-deterministic' — same output schema either way.

Design for 100 TB of media:
- payloads stay in `binary` columns; nothing ever collects to the driver;
- `mapInPandas` streams Arrow record batches through the Python worker —
  tune `spark.sql.execution.arrow.maxRecordsPerBatch` DOWN for large
  payloads (a 10 MB image at the default 10k rows/batch would be a 100 GB
  Arrow batch; `media_batch_conf` computes a sane value);
- feature extraction emits SMALL typed rows (never re-emit the payload) so
  downstream shuffles move features, not media.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURES_SCHEMA = (
    "asset_id long, width int, height int, n_channels int, "
    "mean_luma double, sha256 string, decoder string"
)

THUMBNAIL_SCHEMA = (
    "asset_id long, width int, height int, thumb binary, decoder string"
)


def media_batch_conf(avg_payload_bytes: int, target_batch_bytes: int = 1 << 28):
    """Arrow batch sizing for binary-heavy frames: rows per batch such that
    a batch stays near `target_batch_bytes` (default 256 MB)."""
    return max(1, target_batch_bytes // max(1, avg_payload_bytes))


ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
ARROW_BATCH_DEFAULT = 10_000  # Spark's default rows/batch


def autotune_arrow_batch(
    assets: DataFrame,
    payload_col: str = "payload",
    target_batch_bytes: int = 1 << 28,
    sample_rows: int = 256,
) -> int:
    """Probe the average payload size from a BOUNDED sample (limit, not a
    full scan — at 100 TB the probe reads a few row groups, not the table)
    and set the session's Arrow rows-per-batch so one mapInPandas batch
    stays near ``target_batch_bytes``. Returns the chosen rows/batch.

    Only ever tunes DOWN — from Spark's 10k default AND from the session's
    CURRENT value: large payloads are the hazard (a 10 MB image x 10k rows
    = a 100 GB Arrow batch), and because the conf is session-wide while
    DataFrame execution is lazy, a later small-payload pipeline raising
    the setting would govern an earlier big-payload pipeline collected
    afterwards. Ratcheting down means the strictest pipeline built in the
    session always wins; a session that genuinely wants to re-raise the
    conf does so explicitly (and owns the consequence).
    """
    row = (
        assets.select(F.octet_length(F.col(payload_col)).alias("sz"))
        .limit(sample_rows)
        .agg(F.avg("sz"))
        .first()
    )
    avg = int(row[0] or 1)
    try:
        current = int(
            assets.sparkSession.conf.get(ARROW_BATCH_KEY, None)
            or ARROW_BATCH_DEFAULT
        )
    except (TypeError, ValueError):
        current = ARROW_BATCH_DEFAULT
    if current <= 0:
        # Spark's <= 0 sentinel means UNLIMITED rows per batch — that is
        # "no current cap", not "cap of zero"; treating it as the
        # strictest value would write 0 back and disable the OOM guard
        # this function exists to provide.
        current = ARROW_BATCH_DEFAULT
    rows = min(
        current, ARROW_BATCH_DEFAULT, media_batch_conf(avg, target_batch_bytes)
    )
    assets.sparkSession.conf.set(ARROW_BATCH_KEY, str(rows))
    return rows


def _fake_dims(digest: bytes) -> tuple[int, int, int]:
    # Deterministic fake: dimensions derived from the payload hash.
    w = 16 + digest[0] % 240
    h = 16 + digest[1] % 240
    ch = 1 if digest[2] % 4 == 0 else 3
    return w, h, ch


# ---------------------------------------------------------------------------
# Real codecs: uncompressed 24-bit BMP and binary PPM (P6). Pure header
# parse + numpy pixel math — no image library required.
# ---------------------------------------------------------------------------


def decode_bmp(data: bytes) -> tuple[int, int, int, float]:
    """Decode an uncompressed 24-bit BMP: (width, height, channels,
    mean_luma). Handles the 14-byte file header, BITMAPINFOHEADER, 4-byte
    row padding, and bottom-up vs top-down row order (irrelevant to the
    mean but validated for size). mean_luma = mean over pixels of the
    channel average, scaled to [0, 1]."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError("unsupported BMP core header")
    width, height = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    n_rows = abs(height)
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3  # rows padded to 4-byte boundaries
    need = pixel_off + stride * n_rows
    if width <= 0 or n_rows == 0 or len(data) < need:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * n_rows, offset=pixel_off
    ).reshape(n_rows, stride)[:, :row_bytes]
    mean_luma = float(rows.astype(np.float64).mean() / 255.0)
    return width, n_rows, 3, mean_luma


def decode_ppm(data: bytes) -> tuple[int, int, int, float]:
    """Decode a binary PPM (P6, maxval <= 255): (width, height, channels,
    mean_luma). Honors whitespace/comment-tolerant headers."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos : pos + 1] == b"#":  # comment line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace byte after maxval
    width, height, maxval = fields
    if width <= 0 or height <= 0 or not 0 < maxval <= 255:
        raise ValueError("unsupported PPM header")
    n = width * height * 3
    if len(data) < pos + n:
        raise ValueError("truncated PPM payload")
    px = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos)
    return width, height, 3, float(px.astype(np.float64).mean() / maxval)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: color type -> samples per pixel (8-bit depth only; palette unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunks(data: bytes):
    """Yield (type, payload) for each chunk, verifying lengths and CRCs.
    A bad CRC raises ValueError — image_phash maps that to the
    corrupt-fallback path instead of trusting mangled pixels."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > len(data):
            raise ValueError("truncated PNG chunk")
        payload = data[pos + 8 : end]
        (crc,) = struct.unpack_from(">I", data, end)
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch ({ctype!r})")
        yield ctype, payload
        if ctype == b"IEND":
            return
        pos = end + 4
    raise ValueError("PNG missing IEND")


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering (types 0-4: None/Sub/Up/Average/
    Paeth) -> (height, stride) uint8. None/Up are fully vectorized and
    Sub is a per-lane mod-256 cumulative sum; Average/Paeth walk the row
    (left-neighbor data dependency is inherently sequential)."""
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG pixel data size mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, np.uint8, stride, pos).copy()
        pos += stride
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            rec = line
            for lane in range(bpp):
                rec[lane::bpp] = (
                    np.cumsum(rec[lane::bpp], dtype=np.uint64) & 0xFF
                )
        elif ftype == 2:  # Up
            rec = ((line.astype(np.uint16) + prev) & 0xFF).astype(np.uint8)
        elif ftype == 3:  # Average
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                rec[x] = (
                    int(line[x]) + _png_paeth(left, int(prev[x]), ul)
                ) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec
        prev = rec
    return out


def _png_pixels(data: bytes) -> np.ndarray:
    """Full PNG decode -> (height, width, channels) uint8, top-down.
    Stdlib-only: chunk walk + CRC check, zlib inflate, scanline
    unfilter. Supports 8-bit gray (type 0), RGB (2), gray+alpha (4) and
    RGBA (6), non-interlaced — the formats the reference corpus needs.
    Palette (3), 16-bit depth, and Adam7 interlace raise ValueError
    (-> corrupt-fallback downstream), never a silent wrong grid."""
    ihdr = None
    idat = bytearray()
    for ctype, payload in _png_chunks(data):
        if ctype == b"IHDR":
            ihdr = payload
        elif ctype == b"IDAT":
            idat.extend(payload)
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth}, color={color})")
    if comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported PNG (compression/filter/interlace)")
    if width <= 0 or height <= 0 or not idat:
        raise ValueError("empty PNG image")
    channels = _PNG_CHANNELS[color]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG inflate failed: {e}") from e
    grid = _png_unfilter(raw, height, width * channels, channels)
    return grid.reshape(height, width, channels)


def decode_png(data: bytes) -> tuple[int, int, int, float]:
    """Decode a PNG: (width, height, channels, mean_luma). mean_luma is
    the mean over the COLOR channels scaled to [0, 1] — alpha (types
    4/6) is excluded so a fully-opaque RGBA render of an RGB image
    reports the same luma."""
    px = _png_pixels(data)
    h, w, ch = px.shape
    n_color = 1 if ch in (1, 2) else 3
    luma = float(px[:, :, :n_color].astype(np.float64).mean() / 255.0)
    return w, h, ch, luma


def _gray_png(data: bytes) -> np.ndarray:
    """Grayscale pixel grid (float64 [0,1], top-down) from a PNG — the
    pixel-level sibling of `decode_png`; alpha excluded like the luma."""
    px = _png_pixels(data)
    n_color = 1 if px.shape[2] in (1, 2) else 3
    return px[:, :, :n_color].astype(np.float64).mean(axis=2) / 255.0


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _png_filter_rows(px: np.ndarray, filter_type: int,
                     bpp: int = 3) -> bytes:
    """Apply one PNG filter type to every row of an (h, stride) grid —
    the encoder inverse of `_png_unfilter`, used by fixtures/tests to
    exercise each unfilter branch."""
    h, stride = px.shape
    zeros = np.zeros(bpp, dtype=np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        rec = px[y].astype(np.int32)
        if filter_type == 0:
            filt = rec
        elif filter_type == 1:
            left = np.concatenate([zeros, rec[:-bpp]])
            filt = (rec - left) & 0xFF
        elif filter_type == 2:
            filt = (rec - prev) & 0xFF
        elif filter_type == 3:
            left = np.concatenate([zeros, rec[:-bpp]])
            filt = (rec - (left + prev) // 2) & 0xFF
        elif filter_type == 4:
            filt = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                filt[x] = (rec[x] - _png_paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {filter_type}")
        out.append(filter_type)
        out.extend(filt.astype(np.uint8).tobytes())
        prev = rec
    return bytes(out)


#: channel count -> PNG color type for the fixture encoder
_ENC_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png_pixels(px: np.ndarray, filter_type: int = 0) -> bytes:
    """Fixture encoder: (h, w, ch) uint8 -> valid non-interlaced 8-bit
    PNG — ch 1/2/3/4 maps to gray / gray+alpha / RGB / RGBA, so every
    decoder color-type branch is drivable; every scanline filtered with
    ``filter_type`` (0-4) so tests can drive each unfilter branch too.
    Correct CRCs and zlib stream throughout."""
    h, w, ch = px.shape
    if ch not in _ENC_COLOR_TYPE:
        raise ValueError("encode_png_pixels wants 1-4 channels")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _ENC_COLOR_TYPE[ch], 0, 0, 0)
    raw = _png_filter_rows(px.reshape(h, w * ch), filter_type, bpp=ch)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def encode_png(
    width: int, height: int, rgb: tuple[int, int, int], filter_type: int = 0
) -> bytes:
    """Fixture encoder: solid-color 8-bit RGB PNG — the test/oracle side
    of `decode_png`, sibling of `encode_bmp`/`encode_ppm`."""
    px = np.tile(
        np.array(rgb, dtype=np.uint8), (height, width, 1)
    )
    return encode_png_pixels(px, filter_type)


def decode_jpeg_features(data: bytes) -> tuple[int, int, int, float]:
    """Decode a baseline JPEG: (width, height, channels, mean_luma) —
    the `decode_bmp`/`decode_png` contract over functions/jpeg.py's
    pure-Python T.81 decoder. Progressive/arithmetic/12-bit raise
    ValueError (corrupt-fallback downstream)."""
    from borsa_spark.functions.jpeg import decode_jpeg

    px = decode_jpeg(data)
    h, w, ch = px.shape
    luma = float(px.astype(np.float64).mean() / 255.0)
    return w, h, ch, luma


def _gray_jpeg(data: bytes) -> np.ndarray:
    """Grayscale pixel grid (float64 [0,1]) from a baseline JPEG."""
    from borsa_spark.functions.jpeg import decode_jpeg

    return decode_jpeg(data).astype(np.float64).mean(axis=2) / 255.0


def decode_gif_features(data: bytes) -> tuple[int, int, int, float]:
    """Decode a GIF's first frame: (width, height, channels, mean_luma)
    — the `decode_bmp`/`decode_png` contract over functions/gif.py's
    pure-Python LZW decoder. Malformed streams raise ValueError
    (corrupt-fallback downstream)."""
    from borsa_spark.functions.gif import decode_gif

    px = decode_gif(data)
    h, w, ch = px.shape
    luma = float(px.astype(np.float64).mean() / 255.0)
    return w, h, ch, luma


def _gray_gif(data: bytes) -> np.ndarray:
    """Grayscale pixel grid (float64 [0,1]) from a GIF's first frame."""
    from borsa_spark.functions.gif import decode_gif

    return decode_gif(data).astype(np.float64).mean(axis=2) / 255.0


def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Fixture encoder: solid-color uncompressed 24-bit bottom-up BMP with
    correct row padding — the test/oracle side of `decode_bmp`."""
    row = bytes((rgb[2], rgb[1], rgb[0])) * width  # BGR order
    stride = (len(row) + 3) & ~3
    padded = row + b"\x00" * (stride - len(row))
    pixels = padded * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels),
        2835, 2835, 0, 0,
    )
    return header + pixels


def encode_ppm(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Fixture encoder: solid-color binary PPM (P6) with a comment line in
    the header to exercise the tolerant parser."""
    header = f"P6\n# fixture\n{width} {height}\n255\n".encode()
    return header + bytes(rgb) * (width * height)


def image_features(assets: DataFrame, auto_batch: bool = True) -> DataFrame:
    """Decode + feature-extract images: (asset_id, width, height, n_channels,
    mean_luma, sha256, decoder).

    REAL decode for uncompressed BMP (magic ``BM``), binary PPM (``P6``)
    and 8-bit PNG (full signature) via the pure-Python codecs above, plus
    baseline JPEG and GIF (first frame); any other payload gets the
    deterministic fake (decoder column says which path produced each row).
    The mapInPandas shape, schema, and batch handling are identical across
    paths.

    ``auto_batch`` (default on) probes a bounded payload sample and sizes
    the Arrow batch so one batch stays ~256 MB however large the images —
    without it, 10 MB payloads at Spark's 10k-row default would make
    100 GB batches. Pass False when the caller manages
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` itself.
    """
    if auto_batch:
        autotune_arrow_batch(assets)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                digest = hashlib.sha256(data).digest()
                # A magic-matching but corrupt payload (truncated crawl,
                # progressive JPEG, 16-bit PPM...) must not kill the
                # Spark job from inside the UDF: it degrades to the
                # deterministic fallback, tagged for downstream audit —
                # same discipline as image_phash.
                try:
                    if data[:2] == b"BM":
                        w, h, ch, luma = decode_bmp(data)
                        dec = "bmp"
                    elif data[:2] == b"P6":
                        w, h, ch, luma = decode_ppm(data)
                        dec = "ppm"
                    elif data[:8] == _PNG_SIG:
                        w, h, ch, luma = decode_png(data)
                        dec = "png"
                    elif data[:2] == b"\xff\xd8":
                        w, h, ch, luma = decode_jpeg_features(data)
                        dec = "jpeg"
                    elif data[:4] == b"GIF8":
                        w, h, ch, luma = decode_gif_features(data)
                        dec = "gif"
                    else:
                        raise ValueError("no known magic")
                except (ValueError, struct.error):
                    w, h, ch = _fake_dims(digest)
                    luma = sum(digest[:16]) / (16 * 255.0)
                    dec = (
                        "corrupt-fallback"
                        if data[:2] in (b"BM", b"P6", b"\xff\xd8")
                        or data[:4] == b"GIF8"
                        or data[:8] == _PNG_SIG
                        else "fake-deterministic"
                    )
                out.append((asset_id, w, h, ch, luma, digest.hex(), dec))
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id", "width", "height", "n_channels",
                    "mean_luma", "sha256", "decoder",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        fn, schema=IMAGE_FEATURES_SCHEMA
    )


def resize_images(
    assets: DataFrame, width: int, height: int, auto_batch: bool = True
) -> DataFrame:
    """Thumbnail pipeline: REAL grayscale thumbnails for every decodable
    payload (BMP/PPM/PNG/JPEG/GIF via the shared magic dispatch +
    `_block_mean` integral-image resampling — the pHash resampler at an
    arbitrary target size), row-major ``width * height`` uint8 bytes.
    Undecodable payloads keep the deterministic hash-expanded
    pseudo-thumbnail; the ``decoder`` column says which path produced
    each row, same contract as `image_features`/`image_phash`.
    ``auto_batch`` sizes the Arrow batch from a sampled payload probe."""
    if auto_batch:
        autotune_arrow_batch(assets)

    nbytes = width * height

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                try:
                    if data[:2] == b"BM":
                        gray, dec = _gray_bmp(data), "bmp"
                    elif data[:2] == b"P6":
                        gray, dec = _gray_ppm(data), "ppm"
                    elif data[:8] == _PNG_SIG:
                        gray, dec = _gray_png(data), "png"
                    elif data[:2] == b"\xff\xd8":
                        gray, dec = _gray_jpeg(data), "jpeg"
                    elif data[:4] == b"GIF8":
                        gray, dec = _gray_gif(data), "gif"
                    else:
                        raise ValueError("no known magic")
                    small = _block_mean(gray, height, width)
                    buf = bytes(
                        np.clip(np.round(small * 255.0), 0, 255)
                        .astype(np.uint8)
                        .reshape(-1)
                    )
                except (ValueError, struct.error):
                    seed = hashlib.sha256(data).digest()
                    buf = (seed * (nbytes // len(seed) + 1))[:nbytes]
                    dec = (
                        "corrupt-fallback"
                        if data[:2] in (b"BM", b"P6", b"\xff\xd8")
                        or data[:4] == b"GIF8"
                        or data[:8] == _PNG_SIG
                        else "fake-deterministic"
                    )
                out.append((asset_id, width, height, buf, dec))
            yield pd.DataFrame(
                out,
                columns=["asset_id", "width", "height", "thumb", "decoder"],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        fn, schema=THUMBNAIL_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual hashing: image near-dup detection over binary payloads.
# Standard pHash (block-mean resize -> 2D DCT-II -> top-left 8x8 minus DC,
# thresholded at the median) in pure numpy — the DCT is two matrix
# multiplies against a precomputed basis, no scipy needed.
# ---------------------------------------------------------------------------


def _gray_bmp(data: bytes) -> np.ndarray:
    """Grayscale pixel grid (float64 [0,1], row-major top-down) from an
    uncompressed 24-bit BMP — the pixel-level sibling of `decode_bmp`."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    width, height = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP")
    n_rows = abs(height)
    stride = (width * 3 + 3) & ~3
    # same bounds discipline as decode_bmp: a magic-matching but
    # truncated payload must raise ValueError (which image_phash maps to
    # the corrupt-fallback path), never a numpy buffer error
    if width <= 0 or n_rows == 0 or len(data) < pixel_off + stride * n_rows:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * n_rows, offset=pixel_off
    ).reshape(n_rows, stride)[:, : width * 3].reshape(n_rows, width, 3)
    if height > 0:  # bottom-up storage -> flip to top-down
        rows = rows[::-1]
    return rows.astype(np.float64).mean(axis=2) / 255.0


def _gray_ppm(data: bytes) -> np.ndarray:
    """Grayscale pixel grid from a binary PPM (P6, maxval <= 255)."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1
    width, height, maxval = fields
    # decode_ppm's validations, kept here too: maxval > 255 means 2-byte
    # samples this reader does not parse (silently wrong grid otherwise),
    # and short payloads must raise, not wrap
    if width <= 0 or height <= 0 or not 0 < maxval <= 255:
        raise ValueError("unsupported PPM header")
    n = width * height * 3
    if len(data) < pos + n:
        raise ValueError("truncated PPM payload")
    px = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos).reshape(
        height, width, 3
    )
    return px.astype(np.float64).mean(axis=2) / maxval


_DCT_N = 32
_DCT_BASIS = np.cos(
    np.pi / _DCT_N * (np.arange(_DCT_N)[:, None] + 0.5) * np.arange(_DCT_N)[None, :]
).T  # [k, n] DCT-II basis


def _block_mean(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean resample a grayscale grid to (out_h, out_w) via one
    cumulative-sum integral image — the exact-arithmetic resampler
    shared by pHash (32x32) and `resize_images` (arbitrary thumbs)."""
    h, w = gray.shape
    ys = (np.arange(out_h + 1) * h // out_h).clip(1, h)
    xs = (np.arange(out_w + 1) * w // out_w).clip(1, w)
    ys[0] = xs[0] = 0
    small = np.empty((out_h, out_w))
    csum = np.zeros((h + 1, w + 1))
    csum[1:, 1:] = gray.cumsum(0).cumsum(1)
    for i in range(out_h):
        # degenerate dimensions (1xN strips): clamp the block to the
        # image so y1 never indexes past the cumulative-sum bounds —
        # repeated rows/cols simply resample the same pixels
        y0 = min(ys[i], h - 1)
        y1 = min(max(ys[i + 1], y0 + 1), h)
        for j in range(out_w):
            x0 = min(xs[j], w - 1)
            x1 = min(max(xs[j + 1], x0 + 1), w)
            area = (y1 - y0) * (x1 - x0)
            small[i, j] = (
                csum[y1, x1] - csum[y0, x1] - csum[y1, x0] + csum[y0, x0]
            ) / area
    return small


def phash64(gray: np.ndarray) -> int:
    """64-bit perceptual hash of a grayscale grid: block-mean resample to
    32x32, 2D DCT-II, keep the top-left 8x8 block minus the DC term,
    set bit i iff coefficient i exceeds the median. Robust to uniform
    brightness shifts (DC excluded) and small pixel noise (low-frequency
    coefficients dominate)."""
    small = _block_mean(gray, _DCT_N, _DCT_N)
    coeffs = _DCT_BASIS @ small @ _DCT_BASIS.T
    block = coeffs[:8, :8].flatten()[1:]  # drop DC
    med = np.median(block)
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << i
    return bits


def _image_magic(data: bytes) -> str | None:
    """Decoder name by magic bytes, or None for unknown formats — the
    ONE dispatch behind image_features/image_phash/image_dhash (it had
    grown four diverging copies; round-8 review)."""
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] == b"P6":
        return "ppm"
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:4] == b"GIF8":
        return "gif"
    return None


_GRAY_DECODERS = {}


def _gray_decode(data: bytes, dec: str) -> np.ndarray:
    """Grayscale grid for a magic-identified payload (raises
    ValueError/struct.error on corrupt bytes, like the _gray_* it
    dispatches to)."""
    if not _GRAY_DECODERS:
        _GRAY_DECODERS.update({
            "bmp": _gray_bmp, "ppm": _gray_ppm, "png": _gray_png,
            "jpeg": _gray_jpeg, "gif": _gray_gif,
        })
    return _GRAY_DECODERS[dec](data)


def _fallback_tag(dec: str | None) -> str:
    """The module-wide decoder-tag contract: magic-matching but
    undecodable payloads are 'corrupt-fallback'; unknown formats are
    'fake-deterministic' (module docstring)."""
    return "corrupt-fallback" if dec else "fake-deterministic"


def image_phash(assets: DataFrame, auto_batch: bool = True) -> DataFrame:
    """Perceptual hash per image payload: (asset_id, phash, decoder). Same
    dispatch as `image_features` — real pixels for BMP/PPM, deterministic
    fake (sha256-derived bits) for undecodable payloads so the plumbing
    is exercised end-to-end without an image library. The hash leaves the
    executor as one int64; downstream near-dup pairing never moves
    pixels."""
    if auto_batch:
        autotune_arrow_batch(assets)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                # A magic-matching but corrupt payload (truncated crawl,
                # unsupported bpp, 16-bit PPM) must not kill the Spark
                # job from inside the UDF: it degrades to the
                # deterministic fallback, tagged so downstream can audit.
                dec = _image_magic(data)
                try:
                    if dec is None:
                        raise ValueError("no known magic")
                    bits = phash64(_gray_decode(data, dec))
                except (ValueError, struct.error):
                    digest = hashlib.sha256(data).digest()
                    bits = int.from_bytes(digest[:8], "big")
                    dec = _fallback_tag(dec)
                # two's-complement into int64 for the Spark LongType
                if bits >= 1 << 63:
                    bits -= 1 << 64
                out.append((asset_id, bits, dec))
            yield pd.DataFrame(out, columns=["asset_id", "phash", "decoder"])

    return assets.select("asset_id", "payload").mapInPandas(
        fn, schema="asset_id long, phash long, decoder string"
    )


def _band_near_pairs(
    bk: DataFrame,
    ham,
    max_hamming: int,
    max_bucket_size: int | None = None,
    n_bands: int = 8,
) -> DataFrame:
    """The shared band-LSH pairing skeleton behind phash_near_pairs and
    dhash_near_pairs: self-join on (band, band_key) with id ordering,
    exact hamming filter. ``bk`` carries (id, band, band_key) plus
    whatever columns ``ham(aCol, bCol)`` needs; ``ham`` receives the
    two aliased sides and returns the hamming Column. max_hamming >
    n_bands - 1 is refused: n bands pigeonhole only <= n-1 differing
    bits — beyond that a qualifying pair can miss every band and the
    recall guarantee silently breaks (previously an undocumented hole
    in BOTH copies).

    The band relation is a handful of ints per asset but its LINEAGE is
    the full decode (MapInPandas over raw image bytes). A lazy
    self-join therefore executes that decode once per join side — at
    crawl scale decode dominates, so doubling it is the scale bug (the
    f8 persist lesson). localCheckpoint(eager=True) materializes the
    tiny relation here so both join legs — and the bucket-count agg
    when the guard is on — read stored blocks.

    ``max_bucket_size`` is the hot-bucket guard ported from
    `dedup.minhash_candidates`: real crawls are full of constant-color
    images, which dHash/pHash map to IDENTICAL
    band keys (all-zero rows), so one bucket can hold millions of ids
    and the candidate join goes O(n²) exactly on production inputs.
    Buckets above the cap are EXCLUDED FROM CANDIDATES, not sampled —
    `band_oversized_buckets` accounts for what was skipped (never a
    silent cap); flat-image cohorts are near-identical by construction,
    so routing them through exact (full-hash) dedup is the right call.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"{n_bands}-band LSH guarantees recall only for "
            f"max_hamming <= {n_bands - 1}"
        )
    bk = bk.localCheckpoint(eager=True)
    if max_bucket_size is not None:
        counts = bk.groupBy("band", "band_key").agg(
            F.count("*").alias("__n")
        )
        bk = (
            bk.join(F.broadcast(counts), ["band", "band_key"])
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham(a, b).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def band_oversized_buckets(
    bk: DataFrame, max_bucket_size: int
) -> DataFrame:
    """The accounting side of the image band guard: (band,
    band_key, n_assets) for every band bucket the cap excluded — the
    `dedup.oversized_buckets` contract over a (id, band, band_key)
    relation (use `phash_band_keys` / `dhash_band_keys` to build one
    from a hash DataFrame)."""
    return (
        bk.groupBy("band", "band_key")
        .agg(F.count("*").alias("n_assets"))
        .filter(F.col("n_assets") > max_bucket_size)
    )


_UNSET = object()

#: Coherent presets for the band candidate joins (round-10: safe by
#: DEFAULT). The three knobs are not independent: a 500k-image scale
#: drill showed byte bands + a cap collapsing recall (1,951/2,048 buckets
#: oversized -> 231/50,030 planted pairs found) while byte bands WITHOUT
#: a cap go O(n²) on flat cohorts — only the (wide bands, finite cap)
#: pair is crawl-viable, so the preset switches them together.
#:
#: - "crawl" (default): 16-bit bands (4 bands -> pigeonhole recall
#:   bound hamming <= 3, hence the matching max_hamming default) + a
#:   finite hot-bucket cap. What a 100-TB user gets without tuning
#:   the knobs. Excluded buckets are never silent: account with
#:   `band_oversized_buckets` and route those near-identical cohorts
#:   through exact (full-hash) dedup.
#: - "exhaustive": byte bands, no cap, hamming <= 6 — the all-pairs
#:   research/baseline form (f90's documented shape). Opt-in only;
#:   quadratic on flat cohorts at crawl density.
#:
#: Any explicitly passed argument overrides its preset component.
BAND_PROFILES: dict[str, dict] = {
    "crawl": {"max_hamming": 3, "max_bucket_size": 64, "band_width": 2},
    "exhaustive": {"max_hamming": 6, "max_bucket_size": None,
                   "band_width": 1},
}


def _resolve_band_profile(profile, max_hamming, max_bucket_size,
                          band_width):
    if profile not in BAND_PROFILES:
        raise ValueError(
            f"unknown profile {profile!r}; one of {sorted(BAND_PROFILES)}"
        )
    p = BAND_PROFILES[profile]
    return (
        p["max_hamming"] if max_hamming is None else max_hamming,
        p["max_bucket_size"] if max_bucket_size is _UNSET
        else max_bucket_size,
        p["band_width"] if band_width is None else band_width,
    )


def phash_band_keys(
    ph: DataFrame, bytes_per_band: int = 1
) -> DataFrame:
    """(id, phash, band, band_key): the 64-bit pHash split into
    8/bytes_per_band bands, the input relation for `_band_near_pairs`
    / `band_oversized_buckets`. ``bytes_per_band`` is the dHash
    `rows_per_band` density lever (see dhash_band_keys): 1 → 8 byte
    bands (256-value keys — saturate at crawl density), 2 → 4 16-bit
    bands (recall bound hamming <= 3), 4 → 2 32-bit bands (<= 1).
    Must divide 8."""
    if 8 % bytes_per_band:
        raise ValueError("bytes_per_band must divide the 8 hash bytes")
    n = 8 // bytes_per_band
    mask = (1 << (8 * bytes_per_band)) - 1
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("phash"), 8 * bytes_per_band * b)
            .bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(n)
    ])
    return ph.select(
        F.col("asset_id").alias("id"), "phash", F.explode(bands).alias("bk")
    ).select(
        "id", "phash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key"),
    )


def phash_near_pairs(
    ph: DataFrame,
    max_hamming: int | None = None,
    max_bucket_size=_UNSET,
    bytes_per_band: int | None = None,
    profile: str = "crawl",
) -> DataFrame:
    """Image near-dup pairs by pHash: the 64-bit hash split into bands,
    candidates on any shared band, exact hamming filter.

    Defaults come from ``BAND_PROFILES[profile]`` — "crawl" (16-bit
    bands + finite hot-bucket cap + hamming <= 3) unless a knob is
    passed explicitly; the unguarded byte-band all-pairs form requires
    an explicit ``profile="exhaustive"`` (round-10 flip: the old
    defaults handed a crawl-scale caller the O(n²)-prone shape).

    Pigeonhole guarantee: hamming <= n_bands - 1 differing bits cannot
    touch every band, so every pair within ``max_hamming`` shares at
    least one intact band and is ALWAYS generated — no recall hole. (The text
    SimHash path uses 4 bands because its hash is 32-bit; reusing it here
    would silently band only the low half.)

    ``max_bucket_size`` caps quadratic hot buckets (flat images hash
    identically); excluded buckets are reported by
    `band_oversized_buckets(phash_band_keys(ph), cap)`, never silently
    dropped. Note the cap weakens the pigeonhole guarantee for pairs
    whose every shared band is oversized — by construction those live in
    giant near-identical cohorts better served by exact dedup.
    ``bytes_per_band``: the wide-band density lever (phash_band_keys) —
    at crawl density prefer 2 (near-constant images are the dHash
    scale drill's saturation case)."""
    max_hamming, max_bucket_size, bytes_per_band = _resolve_band_profile(
        profile, max_hamming, max_bucket_size, bytes_per_band
    )
    return _band_near_pairs(
        phash_band_keys(ph, bytes_per_band),
        lambda a, b: F.bit_count(
            F.col("a.phash").bitwiseXOR(F.col("b.phash"))
        ),
        max_hamming,
        max_bucket_size,
        n_bands=8 // bytes_per_band,
    )


def image_dhash(assets: DataFrame, auto_batch: bool = True) -> DataFrame:
    """(asset_id, bands array<int>, decoder): 64-bit difference hash as
    8 per-row bytes — the EXACT-ARITHMETIC perceptual hash next to
    `image_phash`'s DCT form: block-mean resample to 9x8 (the shared
    `_block_mean`, identity on a native 9x8 image — which is what lets
    the f90 oracle state every bit analytically through the REAL
    decoder), then bit x of row y = 1 iff px[y, x+1] > px[y, x].
    Integer-safe band keys (0..255) slot straight into the LSH band
    join; hamming(a, b) = sum of bit_count(xor) over the 8 bytes.
    Corrupt payloads degrade to the sha256 fallback like image_phash.
    """
    import pandas as pd

    if auto_batch:
        autotune_arrow_batch(assets)  # session conf ratchet, not a df

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                dec = _image_magic(data)
                try:
                    if dec is None:
                        raise ValueError("no known magic")
                    gray = _gray_decode(data, dec)
                    # quantize the block means back to 8-bit levels
                    # before comparing: the integral-image cumsum
                    # carries ~1-ulp float noise, and a strict > on a
                    # CONSTANT region would otherwise emit spurious
                    # bits (dHash is defined over 8-bit pixels anyway)
                    small = np.rint(
                        _block_mean(gray, 8, 9) * 255.0
                    ).astype(np.int64)
                    bands = []
                    for y in range(8):
                        b = 0
                        for x in range(8):
                            if small[y, x + 1] > small[y, x]:
                                b |= 1 << x
                        bands.append(b)
                except (ValueError, struct.error):
                    digest = hashlib.sha256(data).digest()
                    bands = list(digest[:8])
                    dec = _fallback_tag(dec)
                out.append((asset_id, bands, dec))
            yield pd.DataFrame(
                out, columns=["asset_id", "bands", "decoder"]
            )

    return assets.select("asset_id", "payload").mapInPandas(
        fn, schema="asset_id long, bands array<int>, decoder string"
    )


def dhash_band_keys(dh: DataFrame, rows_per_band: int = 1) -> DataFrame:
    """(id, bands, band, band_key): the dHash's 8 row bytes grouped
    ``rows_per_band`` at a time into band keys — the input relation for
    `_band_near_pairs` / `band_oversized_buckets`.

    rows_per_band widens the band KEY SPACE, the density lever for
    crawl scale: 1 → 8 bands of 8-bit keys (256 values — every bucket
    goes hot once a partition-population far exceeds ~256·cap, and the
    guard starts excluding everything); 2 → 4 bands of 16-bit keys
    (65536 values, 256× lower bucket density, pigeonhole recall bound
    tightens to hamming <= 3); 4 → 2 bands of 32-bit keys (<= 1).
    Must divide 8."""
    if 8 % rows_per_band:
        raise ValueError("rows_per_band must divide the 8 dHash rows")
    n = 8 // rows_per_band
    grouped = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            sum(
                (
                    F.col("bands")[i * rows_per_band + j]
                    .cast("long") * F.lit(1 << (8 * j))
                )
                for j in range(rows_per_band)
            ).alias("key"),
        )
        for i in range(n)
    ])
    return dh.select(
        F.col("asset_id").alias("id"), "bands",
        F.explode(grouped).alias("bk"),
    ).select(
        "id", "bands",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key"),
    )


def dhash_near_pairs(
    dh: DataFrame,
    max_hamming: int | None = None,
    max_bucket_size=_UNSET,
    rows_per_band: int | None = None,
    profile: str = "crawl",
) -> DataFrame:
    """Image near-dup pairs by dHash: the 8 row bytes grouped into band
    keys, candidates on any shared band, exact hamming filter — the
    `phash_near_pairs` pigeonhole (8/rows_per_band bands
    recall-guarantee hamming <= n_bands - 1) with the bands already
    materialized as the hash encoding.

    Defaults come from ``BAND_PROFILES[profile]`` — "crawl"
    (rows_per_band=2 → 16-bit bands, finite hot-bucket cap,
    hamming <= 3) unless a knob is passed explicitly; the unguarded
    byte-band all-pairs form requires an explicit
    ``profile="exhaustive"`` (round-10 flip). ``max_bucket_size`` /
    `band_oversized_buckets`: see `phash_near_pairs` — flat images make
    one band key quadratic at crawl scale without the guard; 16-bit
    keys cut benign bucket collisions 256× so the cap excludes only
    genuine hot cohorts (see dhash_band_keys)."""
    max_hamming, max_bucket_size, rows_per_band = _resolve_band_profile(
        profile, max_hamming, max_bucket_size, rows_per_band
    )
    return _band_near_pairs(
        dhash_band_keys(dh, rows_per_band),
        lambda a, b: F.aggregate(
            F.zip_with(
                F.col("a.bands"), F.col("b.bands"),
                lambda x, y: F.bit_count(x.bitwiseXOR(y)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
        max_hamming,
        max_bucket_size,
        n_bands=8 // rows_per_band,
    )

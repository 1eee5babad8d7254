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
    A bad CRC raises ValueError — image_features maps that to the
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
                # deterministic fallback, tagged for downstream audit.
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
    payload (BMP/PPM/PNG/JPEG/GIF by magic bytes + `_block_mean`
    integral-image resampling), row-major ``width * height`` uint8 bytes.
    Undecodable payloads keep the deterministic hash-expanded
    pseudo-thumbnail; the ``decoder`` column says which path produced
    each row, same contract as `image_features`.
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
# Grayscale pixel grids and the block-mean resampler behind resize_images.
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
    # truncated payload must raise ValueError (which resize_images maps
    # to the corrupt-fallback path), never a numpy buffer error
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


def _block_mean(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean resample a grayscale grid to (out_h, out_w) via one
    cumulative-sum integral image — the exact-arithmetic resampler
    behind `resize_images`."""
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

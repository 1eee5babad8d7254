"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Spark-side plumbing is REAL (schemas, Arrow-batched mapInPandas pipelines,
partition sizing). The codec layer has one REAL path and one stub:

- Uncompressed 24-bit BMP, binary PPM (P6), and non-interlaced 8-bit PNG
  (gray/RGB/gray+alpha/RGBA; zlib inflate + full scanline unfilter,
  CRC-verified chunks) decode here in pure Python + numpy — no external
  libs. `image_features` dispatches on the payload's magic bytes and
  emits decoder='bmp'/'ppm'/'png' with true width/height/mean-luma.
- Baseline JPEG decodes for real (`functions/jpeg.py`: pure-Python
  T.81 — Huffman entropy decode, dequant, IDCT, YCbCr->RGB, 4:2:0/4:2:2
  subsampling, restart markers); progressive/arithmetic/12-bit reject to
  the corrupt-fallback path.
- RIFF/WAVE PCM audio (8/16-bit, any channel count) decodes for real too
  (`decode_wav`: chunk walk + numpy sample math), as does FLAC
  (`functions/flac.py`: rice-coded fixed-predictor subframes, stereo
  decorrelation, CRC-verified) — `audio_features` takes sample rate /
  duration / rms from the bytes, decoder='wav'/'flac'.
- Uncompressed AVI video decodes for real (`decode_avi`: RIFF walker +
  DIB frame math); `video_frame_features` emits per-frame rows whose
  pHashes drive video near-dup via the image band join.
- Lossy audio (mp3 — ID3/frame-sync magic; ogg — OggS) would need
  soundfile/ffmpeg for the SIGNAL, which this container lacks. Real
  bytes in those formats are NEVER summarized with fabricated numbers:
  when the container headers parse (`_lossy_header_info` — MPEG1/2/2.5
  Layer III framing, Vorbis I / Opus id headers, final-page granule),
  `audio_features` emits decoder='mp3-header'/'ogg-header' with the
  REAL sample rate + duration estimate those headers carry and NULL
  signal features; otherwise decoder='unsupported-lossy' with all
  features NULL (sha256 stays real) so downstream can drop, not trust.
  The deterministic
  digest-derived stub (decoder='fake-deterministic') remains only for
  unrecognized synthetic fixture bytes, or everywhere behind the opt-in
  `fake_features=True` flag — same output schema either way, so swapping
  in real codecs changes no plan shape.

Design for 100 TB of media:
- payloads stay in `binary` columns; nothing ever collects to the driver;
- `mapInPandas` streams Arrow record batches through the Python worker —
  tune `spark.sql.execution.arrow.maxRecordsPerBatch` DOWN for large
  payloads (a 10 MB image at the default 10k rows/batch would be a 100 GB
  Arrow batch; `media_batch_conf` computes a sane value);
- feature extraction emits SMALL typed rows (never re-emit the payload) so
  downstream shuffles move features, not media;
- frame sampling is metadata-only arithmetic (no decode) and explodes to one
  row per frame JVM-side.
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

try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except Exception:  # noqa: BLE001
    _HAVE_PIL = False

IMAGE_FEATURES_SCHEMA = (
    "asset_id long, width int, height int, n_channels int, "
    "mean_luma double, sha256 string, decoder string"
)

AUDIO_FEATURES_SCHEMA = (
    "asset_id long, sample_rate int, duration_ms long, rms double, "
    "n_windows int, sha256 string, decoder string"
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


def _is_lossy_audio(data: bytes) -> bool:
    """True for real-world lossy audio containers we deliberately do NOT
    decode (no codec libs in scope): mp3 — an ID3v2 tag or a bare MPEG
    audio frame sync (11 set bits: 0xFF then 0xE0 mask; public ISO 11172-3
    framing) — and ogg (RFC 3533 'OggS' capture pattern). These route to
    decoder='unsupported-lossy' with NULL features so downstream never
    consumes fabricated numbers for real recordings."""
    if data[:3] == b"ID3" or data[:4] == b"OggS":
        return True
    return len(data) >= 2 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0


_MP3_BR_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320, 0)
_MP3_BR_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                144, 160, 0)
_MP3_SR = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
           0: (11025, 12000, 8000)}


def _mp3_header_info(data: bytes) -> tuple[int, int] | None:
    """(sample_rate, est_duration_ms) from an MPEG Layer III frame
    header (public ISO/IEC 11172-3 / 13818-3 framing; ID3v2.x tag
    skipped via its synchsafe size). Header fields only — no audio
    decode; duration is the CBR estimate bytes*8/bitrate. Strict by
    design: reserved version/layer bits, 'free'/'bad' bitrate indexes,
    or no sync in the first 4 KiB all return None so junk that merely
    starts with an ID3 tag (the f70 policy fixtures) is never
    summarized."""
    off = 0
    if data[:3] == b"ID3":
        if len(data) < 10 or any(b & 0x80 for b in data[6:10]):
            return None
        off = 10 + (
            (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        )
    end = min(len(data) - 4, off + 4096)
    for i in range(off, end + 1):
        if data[i] != 0xFF or (data[i + 1] & 0xE0) != 0xE0:
            continue
        b1, b2 = data[i + 1], data[i + 2]
        ver = (b1 >> 3) & 3
        layer = (b1 >> 1) & 3
        if ver == 1 or layer != 1:  # reserved version / not Layer III
            continue
        bi, si = (b2 >> 4) & 15, (b2 >> 2) & 3
        if not 0 < bi < 15 or si > 2:
            continue
        kbps = (_MP3_BR_V1L3 if ver == 3 else _MP3_BR_V2L3)[bi]
        sr = _MP3_SR[ver][si]
        return sr, (len(data) - i) * 8 // kbps
    return None


def _ogg_header_info(data: bytes) -> tuple[int, int] | None:
    """(sample_rate, est_duration_ms) from Ogg page headers (RFC 3533)
    holding a Vorbis I or Opus (RFC 7845) identification header.
    Header fields only: sample rate from the id header on the BOS
    page, duration from the LAST page's granule position (total PCM
    samples for Vorbis; 48 kHz units for Opus). No audio decode."""
    if data[:4] != b"OggS" or len(data) < 28 or data[4] != 0:
        return None
    if not data[5] & 0x02:  # first page must be beginning-of-stream
        return None
    nseg = data[26]
    body = 27 + nseg
    if len(data) < body:
        return None
    payload = data[body:body + sum(data[27:body])]
    if payload[:7] == b"\x01vorbis" and len(payload) >= 16:
        sr = int.from_bytes(payload[12:16], "little")
        unit = sr
    elif payload[:8] == b"OpusHead" and len(payload) >= 16:
        sr = int.from_bytes(payload[12:16], "little") or 48_000
        unit = 48_000
    else:
        return None
    if sr <= 0:
        return None
    last = data.rfind(b"OggS")
    granule = 0
    if last >= 0 and len(data) >= last + 14:
        granule = max(
            0, int.from_bytes(data[last + 6:last + 14], "little",
                              signed=True)
        )
    return sr, granule * 1000 // unit


def encode_mp3_header_stub(pad: int, bitrate_index: int = 9,
                           sr_index: int = 0) -> bytes:
    """Fixture builder (the encode_wav convention): an empty ID3v2.4
    tag + one valid MPEG1 Layer III frame header + ``pad`` zero bytes.
    The header fields are real and parse under `_mp3_header_info`; the
    audio payload is silence-shaped filler, which is exactly why
    `audio_features` reports header metadata only, never signal
    features, for this format."""
    hdr = bytes([0xFF, 0xFB, (bitrate_index << 4) | (sr_index << 2), 0])
    return b"ID3\x04\x00\x00\x00\x00\x00\x00" + hdr + b"\x00" * pad


def _ogg_page(header_type: int, granule: int, payload: bytes) -> bytes:
    lacing = bytes([len(payload)]) if payload else b""
    return (
        b"OggS\x00" + bytes([header_type])
        + granule.to_bytes(8, "little")
        + b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00"
        + bytes([1 if payload else 0]) + lacing + payload
    )


def encode_ogg_header_stub(codec: str, sample_rate: int,
                           granule: int) -> bytes:
    """Fixture builder: a BOS page carrying a real Vorbis I / Opus id
    header plus an EOS page whose granule position encodes the stream
    length — the two pages `_ogg_header_info` reads. No audio pages."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis" + (0).to_bytes(4, "little")
            + bytes([1]) + sample_rate.to_bytes(4, "little")
            + b"\x00" * 12 + b"\x66" + b"\x01"
        )
    elif codec == "opus":
        ident = (
            b"OpusHead" + bytes([1, 1]) + (0).to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little")
            + (0).to_bytes(2, "little") + bytes([0])
        )
    else:
        raise ValueError(codec)
    return _ogg_page(0x02, 0, ident) + _ogg_page(0x04, granule, b"")


def _lossy_header_info(data: bytes) -> tuple[str, int, int] | None:
    """(decoder_tag, sample_rate, duration_ms) for lossy audio whose
    CONTAINER HEADERS parse cleanly — honest metadata extracted from
    the real bytes without pretending to decode the audio — else
    None (the row stays 'unsupported-lossy')."""
    got = _mp3_header_info(data)
    if got is not None:
        return ("mp3-header", *got)
    got = _ogg_header_info(data)
    if got is not None:
        return ("ogg-header", *got)
    return None


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


def _wav_pcm_ints(data: bytes) -> tuple[int, int, np.ndarray, float]:
    """Shared RIFF/WAVE walk: (sample_rate, n_channels, interleaved
    INTEGER samples int32 — int16 values for 16-bit, (u8 - 128) for
    8-bit — truncated to whole frames, full_scale divisor). The integer
    domain is what `audio_dhash`'s exact-arithmetic envelope needs;
    `decode_wav` normalizes by full_scale for its float rms."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        ctype = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated WAV chunk")
        if ctype == b"fmt ":
            if length < 16:
                raise ValueError("short WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif ctype == b"data":
            pcm = body
        pos += 8 + length + (length & 1)  # chunks pad to even offsets
    if fmt is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits})"
        )
    if n_channels < 1 or sample_rate <= 0:
        raise ValueError("invalid WAV fmt values")
    if block_align != n_channels * (bits // 8):
        raise ValueError("inconsistent WAV block alignment")
    if bits == 16:
        n = len(pcm) // 2
        x = np.frombuffer(pcm, dtype="<i2", count=n).astype(np.int32)
        full_scale = 32768.0
    else:
        x = np.frombuffer(pcm, dtype=np.uint8).astype(np.int32) - 128
        full_scale = 128.0
    n_frames = len(x) // n_channels
    if n_frames == 0:
        raise ValueError("empty WAV data")
    return sample_rate, n_channels, x[: n_frames * n_channels], full_scale


def decode_wav(data: bytes) -> tuple[int, int, int, int, float]:
    """Decode a RIFF/WAVE PCM payload: (sample_rate, n_channels,
    n_frames, duration_ms, rms). Stdlib-only: RIFF chunk walk, fmt
    parse, 8-bit unsigned / 16-bit signed PCM sample math in numpy.
    rms is over all channels, normalized to [0, 1] full scale.
    Compressed/float formats and other bit depths raise ValueError
    (-> deterministic-fallback path downstream), never silent noise."""
    sample_rate, n_channels, ints, full_scale = _wav_pcm_ints(data)
    x = ints.astype(np.float64) / full_scale
    n_frames = len(x) // n_channels
    rms = float(np.sqrt(np.mean(x * x)))
    duration_ms = n_frames * 1000 // sample_rate
    return sample_rate, n_channels, n_frames, int(duration_ms), rms


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16_000
) -> bytes:
    """Fixture encoder: float samples in [-1, 1] (1-D mono or (frames,
    channels)) -> 16-bit PCM RIFF/WAVE — the test/oracle side of
    `decode_wav`."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_channels = arr.shape[1]
    pcm = (
        np.clip(arr, -1.0, 1.0 - 1.0 / 32768) * 32768.0
    ).astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


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
    and 8-bit PNG (full signature) via the pure-Python codecs above; other
    formats fall back to PIL when available, else the deterministic fake
    (decoder column says which path produced each row). The mapInPandas
    shape, schema, and batch handling are identical across paths.

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
                    elif _HAVE_PIL:  # pragma: no cover - PIL absent here
                        raise NotImplementedError(
                            "real PIL decode path not exercised in this"
                            " container"
                        )
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


def audio_features(
    assets: DataFrame,
    window_ms: int = 25,
    auto_batch: bool = True,
    fake_features: bool = False,
) -> DataFrame:
    """Audio feature rows: REAL decode for RIFF/WAVE PCM payloads
    (8/16-bit, any channel count — `decode_wav`, decoder='wav', with
    sample rate / duration / rms taken from the BYTES, metadata columns
    ignored as a real pipeline must) and FLAC (decoder='flac'). Lossy
    formats we cannot decode (mp3 — ID3 tag or MPEG frame sync; ogg —
    OggS capture pattern) are NEVER summarized with fabricated numbers:
    they emit decoder='unsupported-lossy' with NULL sample_rate /
    duration_ms / rms / n_windows (sha256 stays real, so dedup and
    provenance still work), and downstream filters can drop them rather
    than trust made-up features. A WAV/FLAC-magic payload that fails to
    parse degrades to 'corrupt-fallback' rather than killing the job.
    Unrecognized bytes (synthetic test fixtures, not a known audio
    container) keep the deterministic hash-derived stub tagged
    decoder='fake-deterministic'; passing ``fake_features=True`` (an
    opt-in FIXTURE flag, never for real data) extends that stub to the
    lossy formats for deterministic-pipeline tests. ``auto_batch`` sizes
    the Arrow batch from a sampled payload probe (see image_features)."""
    if auto_batch:
        autotune_arrow_batch(assets)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.payload) if row.payload is not None else b""
                digest = hashlib.sha256(data).digest()
                # nullable integer columns surface as NaN floats in pandas
                dur = 0 if pd.isna(row.duration_ms) else int(row.duration_ms)
                sr = 16_000 if pd.isna(row.sample_rate) else int(row.sample_rate)
                if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                    try:
                        sr, _ch, _fr, dur, rms = decode_wav(data)
                        dec = "wav"
                    except (ValueError, struct.error):
                        rms = int.from_bytes(digest[:4], "big") / 0xFFFFFFFF
                        dec = "corrupt-fallback"
                elif data[:4] == b"fLaC":
                    try:
                        from borsa_spark.functions.flac import decode_flac

                        x, sr, fbps = decode_flac(data)
                        full = float(1 << (fbps - 1))
                        xf = x.astype(np.float64) / full
                        rms = float(np.sqrt(np.mean(xf * xf)))
                        dur = int(x.shape[0] * 1000 // sr)
                        dec = "flac"
                    except (ValueError, struct.error):
                        rms = int.from_bytes(digest[:4], "big") / 0xFFFFFFFF
                        dec = "corrupt-fallback"
                elif not fake_features and _is_lossy_audio(data):
                    # Real bytes in a format we can't decode. If the
                    # container HEADERS parse, emit the honest metadata
                    # they carry (sample rate, CBR/granule duration
                    # estimate) with NULL signal features; otherwise a
                    # pure NULL-feature marker row. Never fabricated
                    # numbers either way.
                    hdr = _lossy_header_info(data)
                    if hdr is not None:
                        tag, hsr, hdur = hdr
                        out.append(
                            (row.asset_id, hsr, hdur, None, None,
                             digest.hex(), tag)
                        )
                    else:
                        out.append(
                            (row.asset_id, None, None, None, None,
                             digest.hex(), "unsupported-lossy")
                        )
                    continue
                else:
                    rms = int.from_bytes(digest[:4], "big") / 0xFFFFFFFF
                    dec = "fake-deterministic"
                out.append(
                    (row.asset_id, sr, dur, rms, max(0, dur // window_ms),
                     digest.hex(), dec)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id", "sample_rate", "duration_ms", "rms",
                    "n_windows", "sha256", "decoder",
                ],
            )

    return assets.select(
        "asset_id", "payload", "duration_ms", "sample_rate"
    ).mapInPandas(fn, schema=AUDIO_FEATURES_SCHEMA)


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


def decode_avi(data: bytes) -> tuple[np.ndarray, int]:
    """Decode an uncompressed RGB AVI (RIFF 'AVI ', '00db' DIB frames):
    (frames (n, h, w, 3) uint8 top-down RGB, fps). The DIB frames follow
    BMP conventions — bottom-up rows, BGR, 4-byte row padding. Compressed
    streams (any non-zero biCompression / '00dc'-only movi) and malformed
    headers raise ValueError (-> corrupt-fallback downstream)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def walk(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            ctype = buf[pos : pos + 4]
            (length,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            if body_start + length > end:
                raise ValueError("truncated AVI chunk")
            yield ctype, body_start, length
            pos = body_start + length + (length & 1)

    width = height = None
    fps = 0
    frames: list[np.ndarray] = []
    stride = None

    def parse_list(pos: int, end: int) -> None:
        nonlocal width, height, fps, stride
        for ctype, start, length in walk(data, pos, end):
            if ctype == b"LIST":
                parse_list(start + 4, start + length)
            elif ctype == b"avih":
                if length < 40:
                    raise ValueError("short AVI main header")
                (us_per_frame,) = struct.unpack_from("<I", data, start)
                fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
            elif ctype == b"strf" and width is None:
                # BITMAPINFOHEADER of the first video stream
                if length < 40:
                    continue
                w, h = struct.unpack_from("<ii", data, start + 4)
                (bpp,) = struct.unpack_from("<H", data, start + 14)
                (compression,) = struct.unpack_from("<I", data, start + 16)
                if bpp != 24 or compression != 0:
                    raise ValueError(
                        f"unsupported AVI (bpp={bpp}, "
                        f"compression={compression})"
                    )
                width, height = w, abs(h)
                stride = (width * 3 + 3) & ~3
            elif ctype in (b"00db", b"00dc"):
                if ctype == b"00dc":
                    raise ValueError("compressed AVI frames unsupported")
                if width is None or stride is None:
                    raise ValueError("AVI frame before stream format")
                if length < stride * height:
                    raise ValueError("truncated AVI frame")
                rows = np.frombuffer(
                    data, np.uint8, stride * height, start
                ).reshape(height, stride)[:, : width * 3]
                bgr = rows.reshape(height, width, 3)[::-1]  # bottom-up
                frames.append(bgr[:, :, ::-1].copy())  # BGR -> RGB

    parse_list(12, len(data))
    if width is None or not frames:
        raise ValueError("AVI missing video stream/frames")
    return np.stack(frames), fps


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """Fixture encoder: (n, h, w, 3) uint8 top-down RGB -> uncompressed
    AVI ('00db' DIB frames, bottom-up BGR, padded rows) — the test/
    oracle side of `decode_avi`."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) & ~3

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return ctype + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // max(1, fps), 0, 0, 0x10, n, 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, max(1, fps), 0, n,
        stride * h, 0, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    movi_frames = []
    for f in frames:
        bgr = f[:, :, ::-1][::-1]  # RGB -> BGR, top-down -> bottom-up
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        movi_frames.append(chunk(b"00db", rows.tobytes()))
    body = (
        lst(b"hdrl", chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
        + lst(b"movi", b"".join(movi_frames))
    )
    return chunk(b"RIFF", b"AVI " + body)


VIDEO_FRAME_PHASH_SCHEMA = (
    "asset_id long, frame_idx int, width int, height int, "
    "frame_luma double, phash long, decoder string"
)


def video_frame_features(
    assets: DataFrame, every_n: int = 1, auto_batch: bool = True
) -> DataFrame:
    """REAL video frame extraction + per-frame features: one row per
    sampled frame (every ``every_n``-th) with dimensions, mean luma and
    the 64-bit perceptual hash — the decode stage `sample_video_frames`'
    docstring promises, for the one container-decodable format
    (uncompressed AVI). Frame pHashes feed `phash_near_pairs` unchanged,
    which makes VIDEO near-dup detection (same clip re-encoded shifted /
    re-muxed) a first-class pipeline: hash frames, band-join, count
    matching frames per video pair. Animated GIFs (a real web-crawl
    "video" format) go through `decode_gif_frames` — every sampled row
    is the COMPOSITED logical-screen canvas (disposal + transparency
    applied), decoder='gif', so a GIF re-encode of an AVI clip pairs
    with it frame-for-frame. Other payloads emit one deterministic fake
    row (decoder='fake-deterministic'); corrupt AVIs/GIFs degrade to
    'corrupt-fallback' — the job never dies inside the UDF."""
    if auto_batch:
        autotune_arrow_batch(assets)
    step = max(1, every_n)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from borsa_spark.functions.gif import decode_gif_frames

        def emit_frames(asset_id, frames_list, dec, out):
            for i in range(0, len(frames_list), step):
                g = frames_list[i].astype(np.float64).mean(axis=2) / 255.0
                bits = phash64(g)
                if bits >= 1 << 63:
                    bits -= 1 << 64
                out.append((
                    asset_id, i, g.shape[1], g.shape[0],
                    float(g.mean()), bits, dec,
                ))

        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                digest = hashlib.sha256(data).digest()
                if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
                    try:
                        frames, _fps = decode_avi(data)
                        emit_frames(asset_id, list(frames), "avi", out)
                        continue
                    except (ValueError, struct.error):
                        dec = "corrupt-fallback"
                elif data[:4] == b"GIF8":
                    try:
                        emit_frames(
                            asset_id, decode_gif_frames(data), "gif", out
                        )
                        continue
                    except (ValueError, struct.error):
                        dec = "corrupt-fallback"
                else:
                    dec = "fake-deterministic"
                w, h, _ = _fake_dims(digest)
                bits = int.from_bytes(digest[:8], "big")
                if bits >= 1 << 63:
                    bits -= 1 << 64
                out.append((
                    asset_id, 0, w, h,
                    sum(digest[:16]) / (16 * 255.0), bits, dec,
                ))
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id", "frame_idx", "width", "height",
                    "frame_luma", "phash", "decoder",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        fn, schema=VIDEO_FRAME_PHASH_SCHEMA
    )


def sample_video_frames(
    assets: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """One row per sampled frame timestamp — metadata-only, fully JVM-side
    (sequence + explode); the actual frame decode would hang off this plan
    as a mapInPandas stage exactly like image_features."""
    n = (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int")
    return (
        assets.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))
            ).alias("frame_idx"),
        )
        .select(
            "asset_id",
            "frame_idx",
            (F.col("frame_idx") * every_ms).cast("long").alias("frame_ts_ms"),
        )
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
    the full decode (MapInPandas over raw image/frame bytes). A lazy
    self-join therefore executes that decode once per join side — at
    crawl scale decode dominates, so doubling it is the scale bug (the
    f8 persist lesson). localCheckpoint(eager=True) materializes the
    tiny relation here so both join legs — and the bucket-count agg
    when the guard is on — read stored blocks.

    ``max_bucket_size`` is the hot-bucket guard ported from
    `dedup.minhash_candidates`: real crawls are full of constant-color
    images and flat video frames, which dHash/pHash map to IDENTICAL
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
    """The accounting side of the image/video band guard: (band,
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
    at crawl density prefer 2 (the video path's frame hashes are full
    of near-constant frames, the dHash scale drill's saturation
    case)."""
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


def audio_dhash(assets: DataFrame, auto_batch: bool = True) -> DataFrame:
    """(asset_id, bands array<int>, decoder): EXACT-ARITHMETIC envelope
    difference hash for audio — `image_dhash`'s contract over a
    waveform. The first channel's |integer PCM| is summed over 72
    equal-length blocks (q = n_frames // 72 frames each, tail
    ignored; integer sums — no float in the hash path, so every bit is
    SQL-stateable through the REAL RIFF/WAVE decode); bit x of band y =
    1 iff block_sum[y*9 + x + 1] > block_sum[y*9 + x] — the 8x9
    block-mean grid of the image form flattened onto the time axis.
    The output schema IS `image_dhash`'s, so the whole guarded band
    machinery (`dhash_near_pairs`, wide bands, `max_bucket_size`,
    `band_oversized_buckets`) applies to audio near-dup verbatim:
    re-encoded or lightly edited audio lands within a small hamming,
    constant tones hash to all-zero bands (route through the cap to
    exact dedup, exactly like flat images).

    Payloads that do not decode (non-WAV magic handled by the usual
    tag contract) or carry fewer than 72 frames degrade to the sha256
    fallback: 'corrupt-fallback' when RIFF-magic'd, else
    'fake-deterministic'."""
    import pandas as pd

    if auto_batch:
        autotune_arrow_batch(assets)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                is_wav = (
                    len(data) >= 12
                    and data[:4] == b"RIFF" and data[8:12] == b"WAVE"
                )
                try:
                    if not is_wav:
                        raise ValueError("no RIFF/WAVE magic")
                    _, n_ch, ints, _ = _wav_pcm_ints(data)
                    ch0 = np.abs(ints[::n_ch]).astype(np.int64)
                    q = len(ch0) // 72
                    if q == 0:
                        raise ValueError("under 72 frames")
                    sums = ch0[: 72 * q].reshape(72, q).sum(axis=1)
                    bands = []
                    for y in range(8):
                        b = 0
                        for x in range(8):
                            if sums[y * 9 + x + 1] > sums[y * 9 + x]:
                                b |= 1 << x
                        bands.append(b)
                    dec = "wav"
                except (ValueError, struct.error):
                    digest = hashlib.sha256(data).digest()
                    bands = list(digest[:8])
                    dec = _fallback_tag("wav" if is_wav else None)
                out.append((asset_id, bands, dec))
            yield pd.DataFrame(
                out, columns=["asset_id", "bands", "decoder"]
            )

    return assets.select("asset_id", "payload").mapInPandas(
        fn, schema="asset_id long, bands array<int>, decoder string"
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

"""Lossless 8-bit PNG codec in pure Python + numpy (no image libraries).

The decoder walks the chunks (verifying every CRC), inflates the IDAT
stream with zlib and reverses the five scanline filters (RFC 2083 §6).
It supports 8-bit gray (color type 0), RGB (2), gray+alpha (4) and RGBA
(6), non-interlaced; palette, 16-bit depth and Adam7 interlace raise
``ValueError`` rather than return a wrong grid. `encode_png_pixels` is
its inverse, so tests can drive every color type and filter branch.

No market module imports this; it is the last of the image codecs that
lived under `functions/` and is listed for removal in ROADMAP item 6.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: color type -> samples per pixel (8-bit depth only; palette unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunks(data: bytes):
    """Yield (type, payload) for each chunk, verifying lengths and CRCs.
    A bad CRC raises ValueError instead of trusting mangled pixels."""
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
    RGBA (6), non-interlaced. Palette (3), 16-bit depth, and Adam7
    interlace raise ValueError, never a silent wrong grid."""
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
    the encoder inverse of `_png_unfilter`, used by `encode_png_pixels`
    to exercise each unfilter branch."""
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


#: channel count -> PNG color type for `encode_png_pixels`
_ENC_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png_pixels(px: np.ndarray, filter_type: int = 0) -> bytes:
    """Encoder: (h, w, ch) uint8 -> valid non-interlaced 8-bit
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


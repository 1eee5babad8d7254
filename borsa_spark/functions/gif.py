"""GIF (87a/89a) still-image codec in pure Python + numpy — the last
common web-crawl image format the multimodal layer lacked (BMP/PPM/PNG/JPEG
already decode for real). Everything derives from the public GIF89a
specification; no image library is consulted.

Decoder scope: global and local color tables, real LZW decompression
(variable code width 3-12 bits, LSB-first bit packing, clear/end codes,
deferred-clear full-table handling), interlaced row ordering.
`decode_gif` returns the FIRST image frame raw (transparency ignored,
extensions skipped). Malformed streams raise ValueError and route to the
multimodal corrupt-fallback, never a silently wrong image.

Encoder scope (fixtures/tests): builds a palette from the image's unique
colors (<= 256, else ValueError) and emits a REAL LZW-compressed stream
(dictionary growth, width bumps, clear-on-full) with optional interlace,
so the decoder's dictionary arithmetic is exercised for real (genuinely
compressed, spec-conformant, never pass-through).
"""

from __future__ import annotations

import struct

import numpy as np

#: interlace passes: (row offset, row step) per GIF89a appendix E.
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit order, variable width 3-12)
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None

    acc = 0
    nbits = 0
    pos = 0
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width

        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            next_code = end + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and (code < clear or code >= end + 1):
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("invalid GIF LZW code")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_pixels])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear, width)
    seq = b""
    for b in indices:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # The decoder adds each entry one code LATER than the encoder
            # (it needs the following code to learn the entry's last
            # byte), so its width bump fires one entry after ours would
            # naively: bump at (1 << width) + 1, not (1 << width), or the
            # two sides read different widths for the very next code.
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # table full: reset (the decoder mirrors on the clear code)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = bytes([b])
    if seq:
        emit(table[seq], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------


def decode_gif(data: bytes) -> np.ndarray:
    """First image frame of a GIF -> (height, width, 3) uint8 RGB."""
    if len(data) < 13 or data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8)
        if gct.size != 3 * n:
            raise ValueError("GIF global color table truncated")
        gct = gct.reshape(n, 3)
        pos += 3 * n

    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02X}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(data[pos : pos + 3 * n], np.uint8)
            if pal.size != 3 * n:
                raise ValueError("GIF local color table truncated")
            pal = pal.reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image has no color table")
        if w == 0 or h == 0:
            raise ValueError("GIF zero-sized image")
        min_code_size = data[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError("GIF bad LZW minimum code size")
        chunks = bytearray()
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            chunks += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            _lzw_decode(bytes(chunks), min_code_size, w * h), np.uint8
        )
        if idx.size != w * h:
            raise ValueError("GIF pixel data short")
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("GIF pixel index outside color table")
        rows = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            ordered = np.empty_like(rows)
            src = 0
            for off, step in _INTERLACE:
                for y in range(off, h, step):
                    ordered[y] = rows[src]
                    src += 1
            rows = ordered
        return pal[rows]  # (h, w, 3) via palette lookup
    raise ValueError("GIF missing image data")


def encode_gif(px: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB -> GIF89a bytes. The palette is the image's
    unique colors (<= 256 required); the pixel stream is genuinely
    LZW-compressed. ``interlace`` writes rows in the 4-pass order."""
    arr = np.asarray(px)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError("encode_gif wants RGB")
    flat = arr.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise ValueError(f"encode_gif: {colors.shape[0]} colors > 256")
    # color-table size = 2^(n+1) >= n_colors; LZW min code size >= 2
    bits = 1
    while (1 << bits) < colors.shape[0]:
        bits += 1
    bits = max(bits, 2)
    table = np.zeros((1 << bits, 3), np.uint8)
    table[: colors.shape[0]] = colors

    idx = inverse.astype(np.uint8).reshape(h, w)
    if interlace:
        order = [
            y for off, step in _INTERLACE for y in range(off, h, step)
        ]
        idx = idx[order]

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    out += struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
    )
    out.append(bits)
    lzw = _lzw_encode(idx.tobytes(), bits)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)

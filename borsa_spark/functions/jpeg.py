"""Baseline JPEG (ITU-T T.81 / JFIF) codec in pure Python + numpy — the
last image format the multimodal layer stubbed.

Decoder scope: baseline sequential DCT, 8-bit samples, grayscale or
YCbCr, arbitrary 1-2 sampling factors (4:4:4 / 4:2:2 / 4:2:0), restart
markers, 0xFF00 byte stuffing. Progressive (SOF2), arithmetic coding,
12-bit precision, and hierarchical modes raise ValueError — the
multimodal dispatch maps that to the corrupt-fallback path, never a
silently wrong image.

Encoder scope (fixtures/tests only): baseline 4:4:4 YCbCr with the
T.81 Annex K example quantization and Huffman tables (the tables every
library ships as defaults), optional quality scaling via the IJG
formula. Encoding exists so tests can drive the decoder without PIL:
the natural oracles are (a) decode(encode(img)) ≈ img within the
quantization-error bound that the chosen tables imply, and (b)
flat-color images reconstruct to within one quantization step.

Everything here is derived from the public T.81 spec; no image library
is consulted (none exists in this container).
"""

from __future__ import annotations

import struct

import numpy as np

# Zigzag scan order: index = zigzag position, value = row-major position.
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# T.81 Annex K.1 example quantization tables (luminance, chrominance).
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# T.81 Annex K.3 example Huffman tables: (BITS counts per length 1..16,
# HUFFVAL symbol list).
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# Orthonormal 8x8 DCT-II basis: spatial = M.T @ coeffs @ M,
# coeffs = M @ spatial @ M.T.
_M = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _M[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _canonical_codes(bits: list[int], values: list[int]):
    """(code, length) per symbol from the BITS/HUFFVAL canonical form —
    T.81 Annex C code generation."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffTree:
    """Decoding table: (length, code) -> symbol, max 16-bit codes."""

    def __init__(self, bits: list[int], values: list[int]):
        self.lookup = {}
        for sym, (code, length) in _canonical_codes(bits, values).items():
            self.lookup[(length, code)] = sym


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    stuffing; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None  # set when a marker terminates the stream

    def _fill(self) -> bool:
        d = self.data
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                return False
            nxt = d[self.pos + 1]
            if nxt == 0x00:  # stuffed byte
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RST handled by caller via sync
                self.marker = nxt
                return False
            else:
                self.marker = nxt
                return False
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("JPEG entropy stream truncated")
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, tree: _HuffTree) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = tree.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_restart(self) -> None:
        """Consume an RSTn marker between restart intervals."""
        self.bitbuf = 0
        self.nbits = 0
        d = self.data
        # skip fill bytes up to the marker
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                self.marker = None
                return
            self.pos += 1
        raise ValueError("JPEG restart marker missing")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t received bits to the signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Full baseline JPEG decode -> (height, width, channels) uint8
    (channels 1 for grayscale, 3 for YCbCr->RGB)."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTree] = {}
    frame = None
    restart_interval = 0
    out = None

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(seg[p : p + 64], np.uint8)
                qtables[tq] = tbl.reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                values = list(seg[p + 17 : p + 17 + n])
                htables[(tc, th)] = _HuffTree(bits, values)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision = seg[0]
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            h, w = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({
                    "id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq,
                })
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (SOF marker 0xFF{marker:02X})"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i : 3 + 2 * i]
                comp = next(
                    c for c in frame["comps"] if c["id"] == cs
                )
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            out = _decode_scan(
                data, pos + seglen, frame, scan, qtables, htables,
                restart_interval,
            )
            break
        # APPn/COM/others: skip
        pos += seglen

    if out is None:
        raise ValueError("JPEG missing scan data")
    return out


def _decode_scan(data, pos, frame, scan, qtables, htables,
                 restart_interval) -> np.ndarray:
    w, h = frame["w"], frame["h"]
    comps = [c for c, _, _ in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 2 or vmax > 2:
        raise ValueError("unsupported JPEG sampling factors")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))

    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                reader.sync_restart()
                preds = [0] * len(comps)
            for ci, (c, td, ta) in enumerate(scan):
                dc_tree = htables.get((0, td))
                ac_tree = htables.get((1, ta))
                q = qtables.get(c["tq"])
                if dc_tree is None or ac_tree is None or q is None:
                    raise ValueError("JPEG scan references missing table")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coefs = np.zeros(64, dtype=np.int32)
                        t = reader.decode(dc_tree)
                        diff = _extend(reader.receive(t), t)
                        preds[ci] += diff
                        coefs[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode(ac_tree)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            coefs[ZIGZAG[k]] = _extend(
                                reader.receive(s), s
                            )
                            k += 1
                        block = (
                            coefs.reshape(8, 8).astype(np.float64)
                            * q
                        )
                        spatial = _M.T @ block @ _M + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1

    # upsample to full resolution and crop
    full = []
    for c, plane in zip(comps, planes):
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])

    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    if len(full) != 3:
        raise ValueError(f"unsupported JPEG component count {len(full)}")
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder (fixtures): baseline 4:4:4, Annex K tables, IJG quality scale.
# ---------------------------------------------------------------------------


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = np.floor((base * s + 50) / 100).astype(np.int32)
    return np.clip(t, 1, 255)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # 1-fill
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _magnitude(v: int) -> tuple[int, int]:
    """(category t, t-bit representation) for a signed coefficient."""
    t = 0
    a = abs(v)
    while a:
        t += 1
        a >>= 1
    if v < 0:
        v = v + (1 << t) - 1
    return t, v


def _encode_block(bw, coefs, dc_codes, ac_codes, pred):
    zz = coefs.flatten()[ZIGZAG]
    t, bitsv = _magnitude(int(zz[0]) - pred)
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(bitsv, t)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        t, bitsv = _magnitude(v)
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(bitsv, t)
        run = 0
    if last < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def encode_jpeg(
    px: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB or (h, w) / (h, w, 1) grayscale -> baseline
    JFIF bytes (Annex K tables scaled by ``quality``). ``subsampling``:
    '444' (one 8x8 block per component per MCU) or '420' (luma sampled
    2x2 per MCU, chroma averaged over 2x2 pixel groups — the common
    camera default; exercises the decoder's multi-block MCU + upsample
    path). ``restart_interval`` > 0 emits DRI + RSTn markers every N
    MCUs (exercises predictor resets + bitstream realignment)."""
    arr = np.asarray(px)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg wants 1 or 3 channels")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    sub = subsampling == "420" and nc == 3
    arr = arr.astype(np.float64)
    if nc == 3:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        qids = [0, 1, 1]
        hids = [0, 1, 1]
        samp = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * 3
    else:
        planes = [arr[:, :, 0]]
        qids = [0]
        hids = [0]
        samp = [(1, 1)]
    q0 = _scale_quant(QUANT_LUMA.reshape(8, 8), quality)
    q1 = _scale_quant(QUANT_CHROMA.reshape(8, 8), quality)
    qt = [q0, q1]

    dc_l = _canonical_codes(*HUFF_DC_LUMA)
    ac_l = _canonical_codes(*HUFF_AC_LUMA)
    dc_c = _canonical_codes(*HUFF_DC_CHROMA)
    ac_c = _canonical_codes(*HUFF_AC_CHROMA)
    dcs = [dc_l, dc_c]
    acs = [ac_l, ac_c]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcux = (w + mcu_w - 1) // mcu_w
    mcuy = (h + mcu_h - 1) // mcu_h

    def pad_to(p: np.ndarray, ph: int, pw: int) -> np.ndarray:
        ch, cw = p.shape
        pp = np.empty((ph, pw))
        pp[:ch, :cw] = p
        if ph > ch:
            pp[ch:, :cw] = p[-1:, :]
        if pw > cw:
            pp[:, cw:] = pp[:, cw - 1 : cw]
        return pp

    padded = []
    for (sh, sv), p in zip(samp, planes):
        if (sh, sv) != (hmax, vmax):  # chroma in 420: average 2x2
            ry, rx = vmax // sv, hmax // sh
            full = pad_to(
                p, (h + ry - 1) // ry * ry, (w + rx - 1) // rx * rx
            )
            p = full.reshape(
                full.shape[0] // ry, ry, full.shape[1] // rx, rx
            ).mean(axis=(1, 3))
        padded.append(pad_to(p, mcuy * 8 * sv, mcux * 8 * sh))

    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                preds = [0] * len(planes)
            for ci, p in enumerate(padded):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = p[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coefs = _M @ block @ _M.T
                        qz = np.round(
                            coefs / qt[qids[ci]]
                        ).astype(np.int32)
                        preds[ci] = _encode_block(
                            writer, qz, dcs[hids[ci]], acs[hids[ci]],
                            preds[ci],
                        )
            mcu_count += 1
    writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2
        ) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(
        q0.flatten()[ZIGZAG].astype(np.uint8)
    ))
    if nc == 3:
        out += seg(0xDB, bytes([0x01]) + bytes(
            q1.flatten()[ZIGZAG].astype(np.uint8)
        ))
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for i in range(nc):
        sof += bytes([i + 1, samp[i][0] << 4 | samp[i][1], qids[i]])
    out += seg(0xC0, bytes(sof))

    def dht(tc, th, table):
        bits, values = table
        return seg(0xC4, bytes([tc << 4 | th]) + bytes(bits)
                   + bytes(values))

    out += dht(0, 0, HUFF_DC_LUMA)
    out += dht(1, 0, HUFF_AC_LUMA)
    if nc == 3:
        out += dht(0, 1, HUFF_DC_CHROMA)
        out += dht(1, 1, HUFF_AC_CHROMA)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([nc])
    for i in range(nc):
        sos += bytes([i + 1, hids[i] << 4 | hids[i]])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)

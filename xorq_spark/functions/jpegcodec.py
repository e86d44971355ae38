"""Pure-stdlib JPEG codec (ITU-T T.81: baseline sequential DCT AND
progressive DCT, Huffman).

Ungates the imagecodec.py JPEG gate with zero dependencies: a complete
baseline decoder — marker parse (DQT/SOF0/DHT/DRI/SOS), canonical
Huffman decode with byte-stuffing and restart markers, DC prediction,
dequantization, float IDCT, chroma upsampling for any h,v ∈ {1,2}
sampling (4:4:4, 4:2:2, 4:2:0), JFIF YCbCr→RGB — plus a PROGRESSIVE
(SOF2) decoder implementing spectral selection and successive
approximation with EOB-run coding (T.81 G.2; round 7), and matching
encoders (baseline grayscale / 4:4:4 RGB, and a progressive encoder
with libjpeg's scan-script shape: DC first/refine + per-component AC
first/refine) used by tests and the certified query corpus.
Arithmetic-coded and 12-bit streams raise ValueError naming the
feature.

Exactness contract for the oracle-certified query
(queries/multimodal.py mm_decode_jpeg_stats): a uniform 8x8 block has
zero AC energy and DC = 8*(v-128); with the quality-50 Annex-K DC step
of 16 and an EVEN v-128, quantization is exact and decode(encode(img))
reproduces the source pixels bit-for-bit — so a closed-form SQL oracle
replays decoded pixel sums exactly, the same pattern as the PNG
queries. Lossy paths (AC energy, odd offsets, chroma) are covered by
pytest against an independent float IDCT within ±1/ulp tolerances.

Scale note: runs inside Arrow-batched mapInPandas workers
(functions/multimodal.py) — per-thumbnail pure-Python cost is
microseconds-to-milliseconds against payload I/O at 100 TB.
"""

from __future__ import annotations

import math
import struct
from typing import Dict, List, Optional, Tuple

import numpy as _np

# ---------------------------------------------------------------------------
# spec tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K quantization tables (quality 50 base)
Q_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
Q_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# Annex K Huffman specs: (bits[1..16], values)
DC_LUMA_SPEC = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
DC_CHROMA_SPEC = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
AC_LUMA_SPEC = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
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
    ),
)
AC_CHROMA_SPEC = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
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
    ),
)

# Progressive AC Huffman table: the Annex-K AC tables define only EOB0
# (0x00) and ZRL (0xF0) among the size-0 symbols, but progressive
# EOB-run coding needs EOBn for n up to 14 (T.81 G.1.2.2) — real
# progressive encoders ship custom tables. This one is the simplest
# canonical table covering the full progressive alphabet (EOB0..EOB14,
# ZRL, and every (run, size 1..10) pair): all 176 symbols at length 8.
PROG_AC_SPEC = (
    (0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(r << 4 for r in range(16))
    + tuple((r << 4) | sz for r in range(16) for sz in range(1, 11)),
)

# precomputed IDCT basis: cos((2x+1)*u*pi/16) * C(u)/2
_COS = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16)
        / 2.0
        for u in range(8)
    ]
    for x in range(8)
]


def scale_quant(table, quality: int) -> Tuple[int, ...]:
    """libjpeg-style quality scaling (50 = table verbatim)."""
    quality = max(1, min(100, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return tuple(max(1, min(255, (t * s + 50) // 100)) for t in table)


# ---------------------------------------------------------------------------
# Huffman code construction (canonical, T.81 Annex C)
# ---------------------------------------------------------------------------


def _build_codes(bits, values) -> Dict[int, Tuple[int, int]]:
    """value -> (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode(bits, values) -> Dict[Tuple[int, int], int]:
    """(length, code) -> value."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.buf)


class _BitReader:
    """Reads the entropy-coded segment, un-stuffing 0xFF00 and stopping
    at any other marker (position left ON the 0xFF)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("corrupt JPEG: entropy stream truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("corrupt JPEG: marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> None:
        """Drop partial byte and consume an RSTn marker if present."""
        self.acc = 0
        self.n = 0
        d = self.data
        if (
            self.pos + 1 < len(d)
            and d[self.pos] == 0xFF
            and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2

    def huff(self, table: Dict[Tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("corrupt JPEG: invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> Tuple[int, int]:
    """(category t, t-bit code) for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


# ---------------------------------------------------------------------------
# DCT
# ---------------------------------------------------------------------------


def _fdct(block) -> List[float]:
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for x in range(8):
                cu = _COS[x][u]
                for y in range(8):
                    s += block[x * 8 + y] * cu * _COS[y][v]
            out[u * 8 + v] = s
    return out


# Batched DCT (round 10, guide §4.2): the scalar _fdct/_idct dominated
# the codec queries' Python-worker CPU (profiled: 0.93 s of the 1.49 s
# jpeg-progressive fixture pipeline at sf0.1). The *_many forms run the
# SAME arithmetic with numpy where the vector axis is the BLOCK index:
# per output coefficient the accumulation order over (x, y) / (u, v)
# and the multiply order ((value * c1) * c2) are exactly the scalar
# loops', so every IEEE-754 intermediate — and therefore every rounded
# output — is bit-identical to the scalar path (pinned by
# tests/test_jpegcodec.py). For a single block, where vector overhead
# loses, the scalar loop runs.
# The scalar _idct's zero-skips (`if c == 0.0` / `if w`) only elide
# +/-0.0 terms, which cannot change any finite accumulation's rounded
# value, so the batched form may include them.
_COS_NP = None  # built lazily: _COS rows, float64, (8, 8) [x][u]


def _cos_np():
    global _COS_NP
    if _COS_NP is None:
        _COS_NP = _np.asarray(_COS, dtype=_np.float64)
    return _COS_NP


def _fdct_many_np(blocks):
    """(n, 64) float64 DCT coefficients for n blocks; see batching note."""
    B = _np.asarray(blocks, dtype=_np.float64)
    C = _cos_np()
    n = B.shape[0]
    S = _np.zeros((n, 8, 8))
    for x in range(8):
        cu = C[x]
        for y in range(8):
            # ((pixel * cu) * cv), accumulated in _fdct's (x, y) order
            t = B[:, x * 8 + y, None] * cu[None, :]
            S += t[:, :, None] * C[y][None, None, :]
    return S.reshape(n, 64)


def _fdct_quant_many(raw_blocks, q) -> List[List[int]]:
    """fdct + zigzag quantization for many blocks — bit-identical to
    per-block `_fdct` + `int(round(coef[ZIGZAG[i]] / q[ZIGZAG[i]]))`
    (same single IEEE division; np.rint and Python round are both
    round-half-even)."""
    if len(raw_blocks) < 2:
        out = []
        for b in raw_blocks:
            coef = _fdct(b)
            out.append(
                [int(round(coef[ZIGZAG[i]] / q[ZIGZAG[i]])) for i in range(64)]
            )
        return out
    S = _fdct_many_np(raw_blocks)
    zz = _np.asarray(ZIGZAG)
    qz = _np.asarray([q[ZIGZAG[i]] for i in range(64)], dtype=_np.float64)
    return _np.rint(S[:, zz] / qz).astype(_np.int64).tolist()


def _idct_many(coefs) -> List[List[int]]:
    """Batched _idct: list of 64-int pixel rows per block; see note."""
    if len(coefs) < 2:
        return [_idct(c) for c in coefs]
    W = _np.asarray(coefs, dtype=_np.float64)
    C = _cos_np()
    n = W.shape[0]
    S = _np.zeros((n, 8, 8))  # (block, x, y)
    for u in range(8):
        cx = C[:, u]
        for v in range(8):
            # ((w * c) * cy), accumulated in _idct's (u, v) order
            t = W[:, u * 8 + v, None] * cx[None, :]
            S += t[:, :, None] * C[:, v][None, None, :]
    P = _np.rint(S).astype(_np.int64) + 128
    return _np.clip(P, 0, 255).reshape(n, 64).tolist()


def _idct(coef) -> List[int]:
    out = [0] * 64
    for x in range(8):
        cx = _COS[x]
        for y in range(8):
            s = 0.0
            cy = _COS[y]
            for u in range(8):
                c = cx[u]
                if c == 0.0:
                    continue
                base = u * 8
                for v in range(8):
                    w = coef[base + v]
                    if w:
                        s += w * c * cy[v]
            p = int(round(s)) + 128
            out[x * 8 + y] = 0 if p < 0 else 255 if p > 255 else p
    return out


# ---------------------------------------------------------------------------
# encoder (grayscale / RGB 4:4:4)
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(r: int, g: int, b: int) -> Tuple[int, int, int]:
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    clamp = lambda x: 0 if x < 0 else 255 if x > 255 else int(round(x))  # noqa: E731
    return clamp(y), clamp(cb), clamp(cr)


def jpeg_encode(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quality: int = 50,
) -> bytes:
    """Encode 8-bit interleaved pixels as baseline JPEG (grayscale or
    4:4:4 YCbCr from RGB)."""
    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 or 3 (got {channels})")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    qt = [scale_quant(Q_LUMA, quality)]
    if channels == 3:
        qt.append(scale_quant(Q_CHROMA, quality))

    # component planes, level-shifted
    if channels == 1:
        planes = [[p - 128 for p in pixels]]
    else:
        ys, cbs, crs = [], [], []
        for i in range(0, len(pixels), 3):
            y, cb, cr = _rgb_to_ycbcr(pixels[i], pixels[i + 1], pixels[i + 2])
            ys.append(y - 128)
            cbs.append(cb - 128)
            crs.append(cr - 128)
        planes = [ys, cbs, crs]

    dc_codes = [_build_codes(*DC_LUMA_SPEC), _build_codes(*DC_CHROMA_SPEC)]
    ac_codes = [_build_codes(*AC_LUMA_SPEC), _build_codes(*AC_CHROMA_SPEC)]

    w = _BitWriter()
    pred = [0] * channels
    bw, bh = (width + 7) // 8, (height + 7) // 8
    # Batched DCT+quant per component (round 10, guide §4.2): blocks
    # are extracted in the same (by, bx) raster order the 1x1-sampled
    # MCU writer below consumes, transformed in one vectorized pass
    # (bit-identical to per-block _fdct + round — see _fdct_quant_many),
    # then the entropy loop just looks them up.
    comp_zz: List[List[List[int]]] = []
    for ci in range(channels):
        tsel = 0 if ci == 0 else 1
        plane, q = planes[ci], qt[tsel]
        raw = []
        for by in range(bh):
            for bx in range(bw):
                block = [0] * 64
                for yy in range(8):
                    sy = min(by * 8 + yy, height - 1)
                    for xx in range(8):
                        sx = min(bx * 8 + xx, width - 1)
                        block[yy * 8 + xx] = plane[sy * width + sx]
                raw.append(block)
        comp_zz.append(_fdct_quant_many(raw, q))
    for by in range(bh):
        for bx in range(bw):
            for ci in range(channels):
                tsel = 0 if ci == 0 else 1
                zz = comp_zz[ci][by * bw + bx]
                diff = zz[0] - pred[ci]
                pred[ci] = zz[0]
                t, code = _magnitude(diff)
                hc, hl = dc_codes[tsel][t]
                w.write(hc, hl)
                if t:
                    w.write(code, t)
                run = 0
                last = max((i for i in range(1, 64) if zz[i]), default=0)
                for i in range(1, last + 1):
                    if zz[i] == 0:
                        run += 1
                        continue
                    while run > 15:
                        hc, hl = ac_codes[tsel][0xF0]  # ZRL
                        w.write(hc, hl)
                        run -= 16
                    t, code = _magnitude(zz[i])
                    hc, hl = ac_codes[tsel][(run << 4) | t]
                    w.write(hc, hl)
                    w.write(code, t)
                    run = 0
                if last < 63:
                    hc, hl = ac_codes[tsel][0x00]  # EOB
                    w.write(hc, hl)

    out = bytearray(b"\xff\xd8")  # SOI
    for tid, table in enumerate(qt):
        zz = bytes(table[ZIGZAG[i]] for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz
    comps = b""
    for ci in range(channels):
        comps += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 8 + 3 * channels, 8, height, width, channels)
        + comps
    )
    for cls, tid, spec in (
        (0, 0, DC_LUMA_SPEC),
        (1, 0, AC_LUMA_SPEC),
    ) + (((0, 1, DC_CHROMA_SPEC), (1, 1, AC_CHROMA_SPEC)) if channels == 3 else ()):
        bits, values = spec
        out += (
            b"\xff\xc4"
            + struct.pack(">H", 19 + len(values))
            + bytes([(cls << 4) | tid])
            + bytes(bits)
            + bytes(values)
        )
    sos_comps = b""
    for ci in range(channels):
        tsel = 0 if ci == 0 else 1
        sos_comps += bytes([ci + 1, (tsel << 4) | tsel])
    out += (
        b"\xff\xda"
        + struct.pack(">HB", 6 + 2 * channels, channels)
        + sos_comps
        + bytes([0, 63, 0])
    )
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def jpeg_decode(data: bytes) -> Tuple[int, int, int, bytes]:
    """Decode a baseline (SOF0) or progressive (SOF2) JPEG ->
    (width, height, channels, pixels).

    Supports sequential and progressive DCT (spectral selection +
    successive approximation, T.81 G.1/G.2), 8-bit, Huffman, 1 or 3
    components with sampling factors in {1, 2}, restart intervals.
    Arithmetic coding, hierarchical, and 12-bit raise ValueError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: Dict[int, Tuple[int, ...]] = {}
    huff_dc: Dict[int, dict] = {}
    huff_ac: Dict[int, dict] = {}
    width = height = None
    comps: List[dict] = []
    restart = 0
    progressive = False
    prog: Optional[dict] = None  # progressive coefficient state
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                "unsupported JPEG: only baseline sequential (SOF0) and "
                "progressive (SOF2) decode"
            )
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                if pq != 0:
                    raise ValueError("unsupported JPEG: 16-bit quant table")
                if i + 64 > len(body):
                    raise ValueError("corrupt JPEG: truncated DQT")
                dezz = [0] * 64
                for k in range(64):
                    dezz[ZIGZAG[k]] = body[i + k]
                qt[tq] = tuple(dezz)
                i += 64
        elif marker in (0xC0, 0xC2):  # SOF0 / SOF2
            progressive = marker == 0xC2
            depth, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if depth != 8:
                raise ValueError("unsupported JPEG: only 8-bit depth")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG: {nc} components")
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * ci)
                h, v = hv >> 4, hv & 0xF
                if h not in (1, 2) or v not in (1, 2):
                    raise ValueError(
                        f"unsupported JPEG sampling {h}x{v}"
                    )
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("corrupt JPEG: truncated DHT")
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = tuple(body[i + 1 : i + 17])
                n = sum(bits)
                if i + 17 + n > len(body):
                    raise ValueError("corrupt JPEG: truncated DHT values")
                values = tuple(body[i + 17 : i + 17 + n])
                (huff_dc if cls == 0 else huff_ac)[tid] = _build_decode(
                    bits, values
                )
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                comp = next(c for c in comps if c["id"] == cid)
                scan.append((comp, tt >> 4, tt & 0xF))
            pos += seglen
            if not progressive:
                return _decode_scan(
                    data, pos, width, height, comps, scan, qt,
                    huff_dc, huff_ac, restart,
                )
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            if prog is None:
                prog = _prog_init(width, height, comps)
            pos = _decode_prog_scan(
                data, pos, prog, scan, ss, se, ahal >> 4, ahal & 0xF,
                huff_dc, huff_ac, restart,
            )
            continue
        pos += seglen
    if progressive and prog is not None:
        return _prog_finish(prog, width, height, comps, qt)
    raise ValueError("corrupt JPEG: no SOS marker")


def _decode_scan(
    data, pos, width, height, comps, scan, qt, huff_dc, huff_ac, restart
):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(bytearray(pw * ph))
        c["pw"], c["ph"] = pw, ph
    r = _BitReader(data, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    pending = []  # (scan-component index, px, py, dequantized coefs)
    comps_by_ci = [s[0] for s in scan]
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                r.align_to_marker()
                pred = [0] * len(comps)
            mcu_count += 1
            for ci, (c, tdc, tac) in enumerate(scan):
                q = qt[c["tq"]]
                dct, act = huff_dc[tdc], huff_ac[tac]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        t = r.huff(dct)
                        diff = _extend(r.bits(t), t)
                        pred[ci] += diff
                        zz = [0] * 64
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = r.huff(act)
                            rl, t = rs >> 4, rs & 0xF
                            if t == 0:
                                if rl == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += rl
                            if k > 63:
                                raise ValueError(
                                    "corrupt JPEG: AC run overflow"
                                )
                            zz[k] = _extend(r.bits(t), t)
                            k += 1
                        coef = [0] * 64
                        for i in range(64):
                            if zz[i]:
                                coef[ZIGZAG[i]] = zz[i] * q[ZIGZAG[i]]
                        # defer the IDCT: buffer (component, position,
                        # coefficients) and run ONE batched pass after
                        # the entropy loop (bit-identical; round 10)
                        px = (mx * c["h"] + bx) * 8
                        py = (my * c["v"] + by) * 8
                        pending.append((ci, px, py, coef))
    blks = _idct_many([p[3] for p in pending])
    for (ci, px, py, _coef), blk in zip(pending, blks):
        plane, pw = planes[ci], comps_by_ci[ci]["pw"]
        for yy in range(8):
            row = (py + yy) * pw + px
            plane[row : row + 8] = bytes(blk[yy * 8 : yy * 8 + 8])
    return _planes_to_pixels(planes, comps, width, height, hmax, vmax)


def _planes_to_pixels(planes, comps, width, height, hmax, vmax):
    """Crop (and for color: upsample chroma by pixel replication and
    convert JFIF YCbCr -> RGB) the decoded component planes into the
    interleaved pixel buffer. Shared by the baseline and progressive
    finishers."""
    nc = len(comps)
    if nc == 1:
        c = comps[0]
        pw = c["pw"]
        out = bytearray(width * height)
        for y in range(height):
            out[y * width : (y + 1) * width] = planes[0][
                y * pw : y * pw + width
            ]
        return width, height, 1, bytes(out)
    # upsample chroma to luma grid (pixel replication), YCbCr -> RGB
    out = bytearray(width * height * 3)
    yplane, cbp, crp = planes
    yc, cbc, crc = comps
    for y in range(height):
        yrow = y * yc["pw"]
        cbrow = (y * cbc["v"] // vmax) * cbc["pw"]
        crrow = (y * crc["v"] // vmax) * crc["pw"]
        o = y * width * 3
        for x in range(width):
            Y = yplane[yrow + x]
            cb = cbp[cbrow + (x * cbc["h"] // hmax)] - 128
            cr = crp[crrow + (x * crc["h"] // hmax)] - 128
            r_ = int(round(Y + 1.402 * cr))
            g_ = int(round(Y - 0.344136 * cb - 0.714136 * cr))
            b_ = int(round(Y + 1.772 * cb))
            out[o] = 0 if r_ < 0 else 255 if r_ > 255 else r_
            out[o + 1] = 0 if g_ < 0 else 255 if g_ > 255 else g_
            out[o + 2] = 0 if b_ < 0 else 255 if b_ > 255 else b_
            o += 3
    return width, height, 3, bytes(out)


# ---------------------------------------------------------------------------
# progressive decode (T.81 G.2: spectral selection + successive
# approximation; EOB-run coding per G.1.2.2/G.1.2.3)
# ---------------------------------------------------------------------------


def _prog_init(width, height, comps):
    """Coefficient state for a progressive frame: one zigzag-order
    int array per 8x8 block, MCU-padded grid per component."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    state = {
        "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
        "coefs": [], "order": {},
    }
    for c in comps:
        state["order"][id(c)] = len(state["order"])
        bw_pad, bh_pad = mcux * c["h"], mcuy * c["v"]
        c["bw_pad"], c["bh_pad"] = bw_pad, bh_pad
        # non-interleaved scans iterate the COMPONENT grid, not the
        # MCU-padded one (T.81 A.2.2)
        cw = (width * c["h"] + hmax - 1) // hmax
        ch = (height * c["v"] + vmax - 1) // vmax
        c["bw"], c["bh"] = (cw + 7) // 8, (ch + 7) // 8
        state["coefs"].append(
            [[0] * 64 for _ in range(bw_pad * bh_pad)]
        )
    return state


def _prog_dc_first(r, zz, dct, pred, ci, al):
    t = r.huff(dct)
    diff = _extend(r.bits(t), t)
    pred[ci] += diff
    zz[0] = pred[ci] << al


def _prog_dc_refine(r, zz, al):
    if r.bit():
        zz[0] |= 1 << al


def _prog_ac_first(r, zz, act, ss, se, al, eob):
    """Returns the remaining EOB run. `eob` is the run entering this
    block (blocks inside the run decode nothing)."""
    if eob > 0:
        return eob - 1
    k = ss
    while k <= se:
        rs = r.huff(act)
        rl, s = rs >> 4, rs & 0xF
        if s == 0:
            if rl < 15:
                eob = (1 << rl) - 1
                if rl:
                    eob += r.bits(rl)
                return eob
            k += 16
            continue
        k += rl
        if k > se:
            raise ValueError("corrupt JPEG: AC run overflow")
        zz[k] = _extend(r.bits(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(r, zz, act, ss, se, al, eob):
    """Successive-approximation AC refinement (G.1.2.3): history
    coefficients gain one correction bit; zero-history positions are
    run-length coded with newly-significant values of magnitude 1."""
    p1 = 1 << al

    def correct(k):
        if r.bit() and (zz[k] & p1) == 0:
            zz[k] += p1 if zz[k] > 0 else -p1

    if eob > 0:
        for k in range(ss, se + 1):
            if zz[k] != 0:
                correct(k)
        return eob - 1
    k = ss
    while k <= se:
        rs = r.huff(act)
        rl, s = rs >> 4, rs & 0xF
        sval = 0
        if s == 0:
            if rl < 15:
                eob = (1 << rl) - 1
                if rl:
                    eob += r.bits(rl)
                rl = 64  # flush: refine the rest of the band
        elif s == 1:
            sval = p1 if r.bit() else -p1
        else:
            raise ValueError(
                "corrupt JPEG: AC refinement magnitude must be 1"
            )
        while k <= se:
            if zz[k] != 0:
                correct(k)
            else:
                if rl == 0:
                    if sval:
                        zz[k] = sval
                    k += 1
                    break
                rl -= 1
            k += 1
    return eob


def _decode_prog_scan(
    data, pos, prog, scan, ss, se, ah, al, huff_dc, huff_ac, restart
):
    """Decode one progressive scan into the coefficient state; returns
    the stream position of the scan-terminating marker."""
    if (ss == 0) != (se == 0) or se > 63 or ss > se:
        raise ValueError(
            "corrupt JPEG: invalid progressive scan band (a DC scan is "
            "Ss=Se=0; an AC band needs 1 <= Ss <= Se <= 63)"
        )
    r = _BitReader(data, pos)
    coefs = prog["coefs"]
    comps_in_scan = [c for c, _, _ in scan]
    eob = 0
    if ss == 0 and se == 0:  # DC scan (interleaved or single)
        pred = {i: 0 for i in range(len(scan))}
        if len(scan) > 1:
            mcux, mcuy = prog["mcux"], prog["mcuy"]
            n = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart and n and n % restart == 0:
                        r.align_to_marker()
                        pred = {i: 0 for i in range(len(scan))}
                    n += 1
                    for ci, (c, tdc, _t) in enumerate(scan):
                        cz = coefs[_comp_index(prog, c)]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                idx = (my * c["v"] + by) * c["bw_pad"] + (
                                    mx * c["h"] + bx
                                )
                                if ah == 0:
                                    _prog_dc_first(
                                        r, cz[idx], huff_dc[tdc], pred, ci, al
                                    )
                                else:
                                    _prog_dc_refine(r, cz[idx], al)
        else:
            c, tdc, _t = scan[0]
            cz = coefs[_comp_index(prog, c)]
            n = 0
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    if restart and n and n % restart == 0:
                        r.align_to_marker()
                        pred = {0: 0}
                    n += 1
                    idx = by * c["bw_pad"] + bx
                    if ah == 0:
                        _prog_dc_first(r, cz[idx], huff_dc[tdc], pred, 0, al)
                    else:
                        _prog_dc_refine(r, cz[idx], al)
    else:  # AC scan: always single-component (T.81 B.2.3)
        if len(scan) != 1:
            raise ValueError("corrupt JPEG: interleaved AC scan")
        c, _t, tac = scan[0]
        cz = coefs[_comp_index(prog, c)]
        act = huff_ac[tac]
        n = 0
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                if restart and n and n % restart == 0:
                    r.align_to_marker()
                    eob = 0
                n += 1
                idx = by * c["bw_pad"] + bx
                if ah == 0:
                    eob = _prog_ac_first(r, cz[idx], act, ss, se, al, eob)
                else:
                    eob = _prog_ac_refine(r, cz[idx], act, ss, se, al, eob)
    _ = comps_in_scan
    # find the scan-terminating marker (entropy data cannot contain a
    # bare 0xFF followed by a non-stuffing, non-RST byte)
    p = r.pos
    while p + 1 < len(data):
        if (
            data[p] == 0xFF
            and data[p + 1] != 0x00
            and not (0xD0 <= data[p + 1] <= 0xD7)
        ):
            return p
        p += 1
    return p


def _comp_index(prog, c):
    # frame-order index recorded at _prog_init time (scan order may
    # differ from frame order; identity keys the same dicts the parser
    # built in the SOF loop)
    return prog["order"][id(c)]


def _prog_finish(prog, width, height, comps, qt):
    """Dequantize + IDCT every block and assemble pixels (same tail as
    the baseline decoder)."""
    hmax, vmax = prog["hmax"], prog["vmax"]
    planes = []
    for ci, c in enumerate(comps):
        pw, ph = c["bw_pad"] * 8, c["bh_pad"] * 8
        c["pw"], c["ph"] = pw, ph
        plane = bytearray(pw * ph)
        q = qt[c["tq"]]
        cz = prog["coefs"][ci]
        # dequantize every block, then ONE batched IDCT pass over the
        # component (bit-identical to per-block _idct; round 10)
        coefs = []
        for by in range(c["bh_pad"]):
            for bx in range(c["bw_pad"]):
                zz = cz[by * c["bw_pad"] + bx]
                coef = [0] * 64
                for i in range(64):
                    if zz[i]:
                        coef[ZIGZAG[i]] = zz[i] * q[ZIGZAG[i]]
                coefs.append(coef)
        blks = _idct_many(coefs)
        for by in range(c["bh_pad"]):
            for bx in range(c["bw_pad"]):
                blk = blks[by * c["bw_pad"] + bx]
                px, py = bx * 8, by * 8
                for yy in range(8):
                    row = (py + yy) * pw + px
                    plane[row : row + 8] = bytes(blk[yy * 8 : yy * 8 + 8])
        planes.append(plane)
    return _planes_to_pixels(planes, comps, width, height, hmax, vmax)


# ---------------------------------------------------------------------------
# progressive encoder (fixture generator: 1x1 sampling, Annex-K tables,
# 4-stage scan script exercising DC first/refine and AC first/refine
# with EOB-run coding — the scan shapes libjpeg's default script emits)
# ---------------------------------------------------------------------------


def _emit_eobrun(w, ac, eobrun, bits):
    """Flush a pending EOB run (+ buffered correction bits)."""
    if eobrun > 0:
        nb = eobrun.bit_length() - 1
        hc, hl = ac[nb << 4]
        w.write(hc, hl)
        if nb:
            w.write(eobrun - (1 << nb), nb)
    for b in bits:
        w.write(b, 1)
    return 0, []


def _encode_ac_first_scan(w, ac, blocks, al):
    """AC spectral-selection first scan (Ss=1..63, Ah=0) over one
    component's blocks in raster order."""
    eobrun, nobits = 0, []
    for zz in blocks:
        vals = []
        for k in range(1, 64):
            v = zz[k]
            vals.append(-((-v) >> al) if v < 0 else v >> al)
        last = max((i for i, v in enumerate(vals) if v), default=-1)
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun, _ = _emit_eobrun(w, ac, eobrun, nobits)
            continue
        eobrun, _ = _emit_eobrun(w, ac, eobrun, nobits)
        run = 0
        for i in range(last + 1):
            if vals[i] == 0:
                run += 1
                continue
            while run > 15:
                hc, hl = ac[0xF0]
                w.write(hc, hl)
                run -= 16
            t, code = _magnitude(vals[i])
            hc, hl = ac[(run << 4) | t]
            w.write(hc, hl)
            w.write(code, t)
            run = 0
        if last < 62:
            eobrun += 1
    _emit_eobrun(w, ac, eobrun, nobits)


def _encode_ac_refine_scan(w, ac, blocks, al):
    """AC successive-approximation refinement (Ah=Al+1 -> Al): history
    coefficients emit one correction bit, newly-significant ones are
    run-length coded over zero-history positions (T.81 G.1.2.3, the
    libjpeg encode_mcu_AC_refine construction)."""
    eobrun, pending = 0, []
    for zz in blocks:
        ab = [0] * 64
        eobpos = 0
        for k in range(1, 64):
            ab[k] = abs(zz[k]) >> al
            if ab[k] == 1:
                eobpos = k
        run, br = 0, []
        for k in range(1, 64):
            t = ab[k]
            if t == 0:
                run += 1
                continue
            while run > 15 and k <= eobpos:
                eobrun, pending = _emit_eobrun(w, ac, eobrun, pending)
                hc, hl = ac[0xF0]
                w.write(hc, hl)
                run -= 16
                for b in br:
                    w.write(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            eobrun, pending = _emit_eobrun(w, ac, eobrun, pending)
            hc, hl = ac[(run << 4) | 1]
            w.write(hc, hl)
            w.write(1 if zz[k] > 0 else 0, 1)
            for b in br:
                w.write(b, 1)
            br = []
            run = 0
        if run > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF or len(pending) > 900:
                eobrun, pending = _emit_eobrun(w, ac, eobrun, pending)
    _emit_eobrun(w, ac, eobrun, pending)


def jpeg_encode_progressive(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quality: int = 50,
) -> bytes:
    """Encode 8-bit interleaved pixels as PROGRESSIVE JPEG (SOF2):
    grayscale or 4:4:4 YCbCr. Scan script: interleaved DC first
    (Al=1), DC refine, then per component AC 1..63 first (Al=1) and
    AC refine (Al=0). The quantized coefficients are identical to
    jpeg_encode's, so jpeg_decode of both streams yields bit-identical
    pixels — the property the tests and the certified query pin."""
    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 or 3 (got {channels})")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    qt = [scale_quant(Q_LUMA, quality)]
    if channels == 3:
        qt.append(scale_quant(Q_CHROMA, quality))
    if channels == 1:
        planes = [[p - 128 for p in pixels]]
    else:
        ys, cbs, crs = [], [], []
        for i in range(0, len(pixels), 3):
            y, cb, cr = _rgb_to_ycbcr(pixels[i], pixels[i + 1], pixels[i + 2])
            ys.append(y - 128)
            cbs.append(cb - 128)
            crs.append(cr - 128)
        planes = [ys, cbs, crs]

    # quantized zigzag coefficients per component, raster block order
    bw, bh = (width + 7) // 8, (height + 7) // 8
    comp_blocks: List[List[List[int]]] = []
    for ci in range(channels):
        tsel = 0 if ci == 0 else 1
        plane, q = planes[ci], qt[tsel]
        raw = []
        for by in range(bh):
            for bx in range(bw):
                block = [0] * 64
                for yy in range(8):
                    sy = min(by * 8 + yy, height - 1)
                    for xx in range(8):
                        sx = min(bx * 8 + xx, width - 1)
                        block[yy * 8 + xx] = plane[sy * width + sx]
                raw.append(block)
        # one vectorized DCT+quant pass over the component's blocks
        # (bit-identical to the former per-block loop; round 10)
        comp_blocks.append(_fdct_quant_many(raw, q))

    dc_codes = [_build_codes(*DC_LUMA_SPEC), _build_codes(*DC_CHROMA_SPEC)]
    prog_ac = _build_codes(*PROG_AC_SPEC)

    out = bytearray(b"\xff\xd8")
    for tid, table in enumerate(qt):
        zzt = bytes(table[ZIGZAG[i]] for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zzt
    comps_hdr = b""
    for ci in range(channels):
        comps_hdr += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += (
        b"\xff\xc2"
        + struct.pack(">HBHHB", 8 + 3 * channels, 8, height, width, channels)
        + comps_hdr
    )
    for cls, tid, spec in (
        (0, 0, DC_LUMA_SPEC),
        (1, 0, PROG_AC_SPEC),
    ) + (((0, 1, DC_CHROMA_SPEC),) if channels == 3 else ()):
        bits, values = spec
        out += (
            b"\xff\xc4"
            + struct.pack(">H", 19 + len(values))
            + bytes([(cls << 4) | tid])
            + bytes(bits)
            + bytes(values)
        )

    def sos(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            td = 0 if cid == 1 else 1
            body += bytes([cid, (td << 4) | 0])  # AC table 0 for all
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    # scan 1: DC first, interleaved, Al=1
    out += sos(list(range(1, channels + 1)), 0, 0, 0, 1)
    w = _BitWriter()
    pred = [0] * channels
    for bi in range(bw * bh):
        for ci in range(channels):
            v = comp_blocks[ci][bi][0] >> 1
            diff = v - pred[ci]
            pred[ci] = v
            t, code = _magnitude(diff)
            hc, hl = dc_codes[0 if ci == 0 else 1][t]
            w.write(hc, hl)
            if t:
                w.write(code, t)
    out += w.flush()

    # scan 2: DC refine, Al=0
    out += sos(list(range(1, channels + 1)), 0, 0, 1, 0)
    w = _BitWriter()
    for bi in range(bw * bh):
        for ci in range(channels):
            w.write(comp_blocks[ci][bi][0] & 1, 1)
    out += w.flush()

    # per component: AC first (Al=1) then AC refine (Al=0)
    for ci in range(channels):
        out += sos([ci + 1], 1, 63, 0, 1)
        w = _BitWriter()
        _encode_ac_first_scan(w, prog_ac, comp_blocks[ci], 1)
        out += w.flush()
    for ci in range(channels):
        out += sos([ci + 1], 1, 63, 1, 0)
        w = _BitWriter()
        _encode_ac_refine_scan(w, prog_ac, comp_blocks[ci], 0)
        out += w.flush()

    out += b"\xff\xd9"
    return bytes(out)

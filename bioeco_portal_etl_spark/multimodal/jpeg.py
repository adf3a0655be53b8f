"""Baseline JPEG codec (sequential DCT; stdlib bitstream, numpy DCT and
color planes): the second REAL pixel decoder behind the ``decode_fn``
seam in multimodal/media.py.

Round 5 wired genuine PNG decode (multimodal/png.py); JPEG remained the
documented raise. This module closes that corner for the baseline
sequential grayscale profile (ITU-T T.81 / ISO 10918-1, the public spec):

- decoder: marker parse (SOI/APPn/COM/DQT/DHT/SOF0/SOS/EOI), canonical
  Huffman code reconstruction from BITS/HUFFVAL, byte-unstuffing
  (FF 00), DC DPCM + AC run-length block decode in zigzag order,
  dequantize, float 2-D IDCT, level shift + clamp;
- encoder: the exact inverse for 8-bit grayscale — forward DCT,
  round-to-nearest quantization, standard Annex K luminance Huffman
  tables, bit-stuffing, edge-replication padding for non-multiple-of-8
  dimensions.

Round 7 extends the same machinery to BASELINE 4:4:4 YCbCr COLOR
(VERDICT r6 #6): three interleaved 8x8 blocks per MCU (Y, Cb, Cr — no
chroma subsampling, so no upsampling filter enters the exactness
argument), Annex K chrominance Huffman tables (K.4/K.6), a second
all-ones quantization table, and the JFIF RGB<->YCbCr conversion with a
PINNED rounding convention (floor(v + 0.5), clamp to [0, 255]; see
_rgb_to_ycbcr) so an arithmetic oracle can mirror it literal-for-literal.

NOT supported (raise ValueError, per the seam's "raise, never fake
pixels" contract): progressive (SOF2), arithmetic coding, chroma
SUBSAMPLING (4:2:0 / 4:2:2 — the upsampling filter choice is
decoder-specific, so an independent arithmetic oracle cannot pin it),
restart intervals (DRI), 12-bit depth, component counts other than 1 or
3. A production deployment swaps PIL in at the same decode seam.

Exactness model for oracle-checked fixtures (the PNG playbook adapted to
a LOSSY codec): with all-ones quantization tables and images CONSTANT
within each 8x8 tile, the forward DCT is exactly the DC coefficient
8*(v-128) and all ACs are 0 (float error < 1e-8 rounds away), and the
IDCT reconstructs exactly v — so encode->decode is the identity on
block-constant rasters while the code path exercised (Huffman, DPCM
across blocks, zigzag, stuffing, padding) is the full general decoder.
The compensating-bug risk of testing a codec against its own inverse is
broken by hand-pinned bitstreams in tests/test_jpeg.py: scan bytes for
known blocks are derived from the spec's code tables BY HAND and
asserted literally, and the decoder is driven with a hand-assembled file
the encoder never produced. The numpy DCT is checked against an
independent per-term scalar loop that lives only in that test file.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# --- standard Annex K luminance Huffman tables (ITU-T T.81, public) ------

#: DC table: BITS[i] = number of codes of length i+1, then values in order
DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_VALS = tuple(range(12))

AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
# fmt: off
AC_VALS = (
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
)
# --- Annex K chrominance tables (ITU-T T.81 Tables K.4 / K.6, public) ----

DC_BITS_C = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_VALS_C = tuple(range(12))

AC_BITS_C = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
# fmt: off
AC_VALS_C = (
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
)
# fmt: on
assert sum(AC_BITS_C) == len(AC_VALS_C) == 162

# zigzag index -> raster index (standard scan order)
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)
# fmt: on


def is_jpeg(payload: bytes) -> bool:
    return payload[:2] == b"\xff\xd8"


def _canonical_codes(bits, vals):
    """BITS/HUFFVAL -> {value: (code_int, length)} per T.81 Annex C."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes

_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)
_DC_ENC_C = _canonical_codes(DC_BITS_C, DC_VALS_C)
_AC_ENC_C = _canonical_codes(AC_BITS_C, AC_VALS_C)


def _clamp8(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


# JFIF color conversion with a PINNED rounding convention. Five literals
# only (0.299, 0.587, 0.114, 1.402, 1.772); the derived forms keep the
# forward/inverse pair mathematically exact before rounding:
#   y  = 0.299 r + 0.587 g + 0.114 b
#   cb = 128 + (b - y) / 1.772        (equiv. -0.1687 r - 0.3313 g + 0.5 b)
#   cr = 128 + (r - y) / 1.402        (equiv.  0.5 r - 0.4187 g - 0.0813 b)
# inverse: r = y + 1.402 (cr-128); b = y + 1.772 (cb-128);
#          g = (y - 0.299 r0 - 0.114 b0) / 0.587  on the UNROUNDED r0/b0.
# Each output rounds floor(v + 0.5) then clamps to [0, 255]. The oracle
# SQL (catalog mm23) mirrors these literals and this order EXACTLY —
# IEEE doubles make the two engines bit-identical.


def _rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    y0 = 0.299 * r + 0.587 * g + 0.114 * b
    cb0 = 128.0 + (b - y0) / 1.772
    cr0 = 128.0 + (r - y0) / 1.402
    return (
        _clamp8(math.floor(y0 + 0.5)),
        _clamp8(math.floor(cb0 + 0.5)),
        _clamp8(math.floor(cr0 + 0.5)),
    )


def _ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    r0 = y + 1.402 * (cr - 128)
    b0 = y + 1.772 * (cb - 128)
    g0 = (y - 0.299 * r0 - 0.114 * b0) / 0.587
    return (
        _clamp8(math.floor(r0 + 0.5)),
        _clamp8(math.floor(g0 + 0.5)),
        _clamp8(math.floor(b0 + 0.5)),
    )

# 8x8 DCT basis: _COS[u][x] = cos((2x+1) u pi / 16), C(u) normalization
_COS = np.array(
    [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)]
)
_C = [1 / math.sqrt(2)] + [1.0] * 7
_CCW = 0.25 * np.outer(_C, _C)  # [u][v] DCT normalization

# Association-stability snap for the two DCT-side roundings (round-13,
# ADVICE r12): the matrix sandwich below and a per-term scalar loop (the
# reference in tests/test_jpeg.py) sum the same 64 products in different
# orders, so a coefficient that lands EXACTLY on a round-half boundary in
# one form can land ~1e-13-relative below it in the other (measured: -7.5
# vs -7.499999999999993) and the encoded bytes would depend on the
# summation order, which also varies with the BLAS numpy is built on. Snapping by a fixed epsilon BEFORE the floor makes both
# forms round identically: their divergence is bounded by ~1e-10 absolute
# (64-term accumulation over |sum| <= 16320, scaled by 0.25), 4 orders of
# magnitude under the snap, while real coefficient distinctions are O(1),
# 6 orders above it. Applied to the encoder's round-half-away magnitude
# and the decoder's floor(v + 128.5) — NOT to the YCbCr conversions, which
# are elementwise with the same IEEE operation order as _rgb_to_ycbcr /
# _ycbcr_to_rgb and are mirrored literal-for-literal by the oracle SQL.
_ROUND_SNAP = 1e-6


def _fdct_quant(block):
    """64 spatial samples (level-shifted, 8x8) -> 64 quantized (q=1)
    coeffs in RASTER order, round-half-away-from-zero (the encoder
    convention), as one 8x8 matrix sandwich (COS @ B @ COS^T). The
    rounding goes through the _ROUND_SNAP epsilon, so it quantizes
    exactly like the per-term scalar loop, including at exact round-half
    coefficients (tests/test_jpeg.py asserts equality on random blocks)."""
    val = _CCW * (_COS @ np.asarray(block, dtype=np.float64) @ _COS.T)
    mag = np.floor(np.abs(val) + (0.5 + _ROUND_SNAP))
    return np.where(val >= 0, mag, -mag).astype(np.int64).ravel().tolist()


def _idct(coeffs):
    """64 dequantized coeffs (raster order) -> 8x8 spatial samples
    (still level-shifted, float), the transpose sandwich of _fdct_quant;
    the decoder's floor(v + 128.5) rounds through the same _ROUND_SNAP."""
    w = _CCW * np.asarray(coeffs, dtype=np.float64).reshape(8, 8)
    return _COS.T @ w @ _COS


def _magnitude_category(n: int) -> int:
    return n.bit_length() if n >= 0 else (-n).bit_length()


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # bit stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _encode_amplitude(n: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (extra bits, category). Negative
    values are stored as value - 1 masked to the category width."""
    cat = _magnitude_category(n)
    if n < 0:
        n = n + (1 << cat) - 1
    return n, cat


def _encode_coeffs(bw: _BitWriter, coeffs, prev_dc: int, dc_enc, ac_enc) -> int:
    """Huffman-encode one quantized block (raster order): DC DPCM against
    ``prev_dc``, AC run-length in zigzag. Returns the block's DC for the
    next prediction. Shared by the grayscale and color encoders."""
    diff = coeffs[0] - prev_dc
    amp, cat = _encode_amplitude(diff)
    code, length = dc_enc[cat]
    bw.write(code, length)
    if cat:
        bw.write(amp, cat)
    zz = [coeffs[ZIGZAG[i]] for i in range(1, 64)]
    last_nz = -1
    for i, v in enumerate(zz):
        if v:
            last_nz = i
    run = 0
    for i in range(last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            zcode, zlen = ac_enc[0xF0]  # ZRL
            bw.write(zcode, zlen)
            run -= 16
        amp, cat = _encode_amplitude(v)
        acode, alen = ac_enc[(run << 4) | cat]
        bw.write(acode, alen)
        bw.write(amp, cat)
        run = 0
    if last_nz < 62:
        ecode, elen = ac_enc[0x00]  # EOB
        bw.write(ecode, elen)
    return coeffs[0]


def encode_jpeg_gray(rows: list[list[int]]) -> bytes:
    """8-bit grayscale rows -> baseline sequential JFIF bytes with
    all-ones quantization (quality-100-lossless-for-flat-blocks) and the
    Annex K luminance Huffman tables. Edge-replication padding for
    non-multiple-of-8 dimensions (decoder crops back to SOF dims)."""
    h = len(rows)
    if h == 0 or len(rows[0]) == 0:
        raise ValueError("empty image")
    w = len(rows[0])
    if any(len(r) != w for r in rows):
        raise ValueError("ragged rows")
    bw = _BitWriter()
    prev_dc = 0
    # pad the whole plane once (edge replication) and slice blocks
    padded = np.pad(
        np.asarray(rows, dtype=np.float64) - 128.0,
        ((0, (-h) % 8), (0, (-w) % 8)),
        mode="edge",
    )
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            coeffs = _fdct_quant(padded[by : by + 8, bx : bx + 8])
            prev_dc = _encode_coeffs(bw, coeffs, prev_dc, _DC_ENC, _AC_ENC)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes([1] * 64))  # DQT table 0, all ones
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_color(rows: list[list[int]]) -> bytes:
    """8-bit interleaved-RGB rows (each of length 3*width) -> baseline
    sequential 4:4:4 YCbCr JFIF bytes. Per MCU one 8x8 block per
    component in (Y, Cb, Cr) order with independent DC predictors; Y uses
    the Annex K luminance tables + quant table 0, Cb/Cr the chrominance
    tables + quant table 1 (both all-ones). RGB->YCbCr uses the pinned
    conversion above, so for tile-constant RGB the encode->decode
    round-trip equals exactly the double conversion
    _ycbcr_to_rgb(_rgb_to_ycbcr(px)) — pure arithmetic an oracle can
    mirror (the mm14 block-constant playbook, now through three
    interleaved component pipelines)."""
    h = len(rows)
    if h == 0 or len(rows[0]) == 0:
        raise ValueError("empty image")
    if any(len(r) % 3 for r in rows):
        raise ValueError("interleaved RGB rows must have length 3*width")
    w = len(rows[0]) // 3
    if any(len(r) != 3 * w for r in rows):
        raise ValueError("ragged rows")
    tabs = ((_DC_ENC, _AC_ENC), (_DC_ENC_C, _AC_ENC_C), (_DC_ENC_C, _AC_ENC_C))
    bw = _BitWriter()
    prev = [0, 0, 0]
    # elementwise pinned RGB->YCbCr over the whole raster: the SAME
    # per-element IEEE operation order as _rgb_to_ycbcr, so the plane
    # values are bit-identical to it
    arr = np.asarray(rows, dtype=np.float64)
    r, g, b = arr[:, 0::3], arr[:, 1::3], arr[:, 2::3]
    y0 = 0.299 * r + 0.587 * g + 0.114 * b
    cb0 = 128.0 + (b - y0) / 1.772
    cr0 = 128.0 + (r - y0) / 1.402
    pads = ((0, (-h) % 8), (0, (-w) % 8))
    planes = [
        np.pad(np.clip(np.floor(v + 0.5), 0, 255) - 128.0, pads, mode="edge")
        for v in (y0, cb0, cr0)
    ]
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            for c in range(3):
                coeffs = _fdct_quant(planes[c][by : by + 8, bx : bx + 8])
                prev[c] = _encode_coeffs(bw, coeffs, prev[c], *tabs[c])
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # two all-ones 8-bit quant tables in one DQT segment
    out += seg(0xFFDB, b"\x00" + bytes([1] * 64) + b"\x01" + bytes([1] * 64))
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + b"\x01\x11\x00"  # Y:  id 1, 1x1 sampling, qtable 0
        + b"\x02\x11\x01"  # Cb: id 2, 1x1 sampling, qtable 1
        + b"\x03\x11\x01",  # Cr: id 3, 1x1 sampling, qtable 1
    )
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALS_C))
    out += seg(0xFFC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALS_C))
    out += seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._acc = 0
        self._nbits = 0

    def read_bit(self) -> int:
        if self._nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG scan data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside scan data")
                self.pos += 1  # skip stuffed zero
            self._acc = b
            self._nbits = 8
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _build_decode_table(bits, vals):
    """(code_int, length) -> value lookup as a dict keyed by (length, code)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_huffman(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code in scan data")


def _extend(amp: int, cat: int) -> int:
    """Inverse of _encode_amplitude (T.81 EXTEND)."""
    if cat == 0:
        return 0
    if amp < (1 << (cat - 1)):
        return amp - (1 << cat) + 1
    return amp


def decode_jpeg(payload: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Baseline sequential decode -> (width, height, channels, rows of
    flat 8-bit samples) — the decode_image contract of
    multimodal/media.py. Grayscale (1 component) yields channels=1;
    4:4:4 YCbCr (3 components, all 1x1 sampling) yields channels=3 with
    interleaved RGB via the pinned inverse conversion. Raises ValueError
    on profiles outside the supported baseline (see module docstring)."""
    if not is_jpeg(payload):
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    w = h = None
    sof_comps: list[tuple[int, int]] = []  # (component id, qtable id)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("no scan data")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit depth supported")
            if ncomp not in (1, 3):
                raise ValueError(
                    "only 1-component (gray) or 3-component (YCbCr) "
                    "JPEG supported"
                )
            sof_comps = []
            for i in range(ncomp):
                # component spec: id(1) sampling(1) qtable(1) from offset 6
                cid, sampling, qid = body[6 + 3 * i : 9 + 3 * i]
                if sampling != 0x11:
                    raise ValueError(
                        "subsampled JPEG (4:2:0/4:2:2) unsupported — only "
                        "4:4:4 decodes here (no upsampling filter to pin)"
                    )
                sof_comps.append((cid, qid))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xDD:
            raise ValueError("restart intervals (DRI) unsupported")
        elif marker == 0xDA:  # SOS — scan data follows the header
            if w is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            if ns != len(sof_comps):
                raise ValueError("scan/frame component count mismatch")
            sel = {body[1 + 2 * i]: body[2 + 2 * i] for i in range(ns)}
            comps = []
            for cid, qid in sof_comps:
                if cid not in sel or qid not in qtables:
                    raise ValueError("SOS component without tables")
                dc_tab = htables.get((0, sel[cid] >> 4))
                ac_tab = htables.get((1, sel[cid] & 0x0F))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("missing Huffman tables")
                comps.append((qtables[qid], dc_tab, ac_tab))
            return _decode_scan(payload[pos + seg_len :], w, h, comps)
        pos += seg_len
    raise ValueError("no SOS marker found")


def _decode_block(br: _BitReader, dc_tab, ac_tab, q, prev_dc: int):
    """One entropy-coded block -> (8x8 spatial floats, new DC predictor)."""
    zz = [0] * 64
    cat = _read_huffman(br, dc_tab)
    prev_dc += _extend(br.read_bits(cat), cat)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = _read_huffman(br, ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(br.read_bits(size), size)
        k += 1
    coeffs = [0] * 64
    for i in range(64):
        coeffs[ZIGZAG[i]] = zz[i] * q[i]
    return _idct(coeffs), prev_dc


def _decode_scan(data, w, h, comps):
    """Interleaved MCU scan: per MCU one 8x8 block per component (4:4:4,
    so an MCU is one tile position), independent DC predictors. 1
    component -> grayscale rows; 3 -> interleaved RGB rows through the
    pinned YCbCr inverse."""
    br = _BitReader(data)
    nc = len(comps)
    bw_blocks = (w + 7) // 8
    bh_blocks = (h + 7) // 8
    prev = [0] * nc
    # whole-plane assembly: block placement is a slice store; level shift,
    # clamp and the pinned YCbCr inverse run elementwise over the full
    # raster with the SAME per-element IEEE operation order as
    # _ycbcr_to_rgb (bit-identical to it)
    fplanes = [np.empty((bh_blocks * 8, bw_blocks * 8)) for _ in range(nc)]
    for by in range(bh_blocks):
        for bx in range(bw_blocks):
            for c, (q, dc_tab, ac_tab) in enumerate(comps):
                spat, prev[c] = _decode_block(br, dc_tab, ac_tab, q, prev[c])
                fplanes[c][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = spat
    iplanes = [
        np.clip(np.floor(fp[:h, :w] + (128.5 + _ROUND_SNAP)), 0, 255).astype(
            np.int64
        )
        for fp in fplanes
    ]
    if nc == 1:
        return w, h, 1, iplanes[0].tolist()
    yp, cbp, crp = (p.astype(np.float64) for p in iplanes)
    r0 = yp + 1.402 * (crp - 128)
    b0 = yp + 1.772 * (cbp - 128)
    g0 = (yp - 0.299 * r0 - 0.114 * b0) / 0.587
    rgb = np.empty((h, 3 * w), dtype=np.int64)
    rgb[:, 0::3] = np.clip(np.floor(r0 + 0.5), 0, 255)
    rgb[:, 1::3] = np.clip(np.floor(g0 + 0.5), 0, 255)
    rgb[:, 2::3] = np.clip(np.floor(b0 + 0.5), 0, 255)
    return w, h, 3, rgb.tolist()

"""Baseline JPEG codec (multimodal/jpeg.py).

The roundtrip tests alone can't catch compensating bugs (a wrong zigzag
used by BOTH encoder and decoder still roundtrips), so the first two
tests pin scan bytes derived BY HAND from the T.81 Annex K code tables:
DC cat-0 = '00', DC cat-4 = '101', AC EOB = '1010', pad bits = 1s.
"""

from __future__ import annotations

import math

import pytest

from bioeco_portal_etl_spark.multimodal.jpeg import (
    decode_jpeg,
    encode_jpeg_gray,
    is_jpeg,
)


def _scan_bytes(payload: bytes) -> bytes:
    """Entropy-coded bytes between the SOS header and EOI."""
    import struct

    pos = 2
    while True:
        marker = payload[pos + 1]
        pos += 2
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xDA:
            return payload[pos + seg_len : -2]
        pos += seg_len


def test_hand_pinned_single_block_scan():
    """8x8 all-128: level shift 0 -> DC diff 0 ('00') + EOB ('1010'),
    padded with 1s -> 0b00101011 = 0x2B. One byte, derived by hand."""
    img = [[128] * 8 for _ in range(8)]
    assert _scan_bytes(encode_jpeg_gray(img)) == b"\x2b"


def test_hand_pinned_two_block_dpcm_scan():
    """16x8, left block 128s, right block 129s. Block 2's DC is
    8*(129-128)=8, DPCM diff 8 -> category 4 ('101') + amplitude '1000'.
    Bits: 00 1010 | 101 1000 1010 + 7 pad 1s = 0x2A 0xC5 0x7F."""
    img = [[128] * 8 + [129] * 8 for _ in range(8)]
    assert _scan_bytes(encode_jpeg_gray(img)) == b"\x2a\xc5\x7f"


def test_decoder_on_hand_assembled_file():
    """Drive the decoder with a byte string the encoder never produced:
    headers assembled inline + the hand-derived 0x2B scan byte. Proves
    the decoder reads spec bytes, not just our encoder's output."""
    import struct

    from bioeco_portal_etl_spark.multimodal.jpeg import (
        AC_BITS,
        AC_VALS,
        DC_BITS,
        DC_VALS,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    payload = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes([1] * 64))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
        + seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
        + seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
        + b"\x2b"
        + b"\xff\xd9"
    )
    w, h, c, rows = decode_jpeg(payload)
    assert (w, h, c) == (8, 8, 1)
    assert all(v == 128 for r in rows for v in r)


@pytest.mark.parametrize("seed", [0, 1, 7, 13, 200])
def test_block_constant_roundtrip_exact(seed):
    """Images constant within each 8x8 tile survive Q=1 encode->decode
    bit-exactly — including non-multiple-of-8 dims (edge padding) and
    multi-block DC prediction chains."""
    w, h = 19 + seed % 6, 17 + seed % 5
    img = [
        [(seed * 31 + (x // 8) * 7 + (y // 8) * 11) % 256 for x in range(w)]
        for y in range(h)
    ]
    dw, dh, c, rows = decode_jpeg(encode_jpeg_gray(img))
    assert (dw, dh, c) == (w, h, 1)
    assert rows == img


def test_gradient_roundtrip_bounded_error():
    """A NON-block-constant image goes through the full AC path (runs,
    ZRL, magnitude coding). With all-ones quantization the only loss is
    coefficient rounding, so reconstruction error stays within a couple
    of levels."""
    w, h = 24, 16
    img = [[(3 * x + 5 * y) % 256 for x in range(w)] for y in range(h)]
    dw, dh, c, rows = decode_jpeg(encode_jpeg_gray(img))
    assert (dw, dh, c) == (w, h, 1)
    worst = max(
        abs(rows[y][x] - img[y][x]) for y in range(h) for x in range(w)
    )
    assert worst <= 2, worst


def test_bit_stuffing_roundtrip():
    """DC diffs with long all-1 amplitude fields produce 0xFF scan bytes
    that must be stuffed (FF 00) and unstuffed symmetrically."""
    # alternate extreme tiles to force large DC swings (diff = +/-2040)
    img = [
        [255 if ((x // 8) + (y // 8)) % 2 == 0 else 0 for x in range(32)]
        for y in range(32)
    ]
    payload = encode_jpeg_gray(img)
    assert b"\xff\x00" in _scan_bytes(payload)  # stuffing actually occurred
    _, _, _, rows = decode_jpeg(payload)
    assert rows == img


def test_header_fn_and_signature():
    img = [[10] * 9 for _ in range(21)]
    p = encode_jpeg_gray(img)
    assert is_jpeg(p)
    assert not is_jpeg(b"\x89PNG")


def test_decoder_rejects_unsupported_profiles():
    import struct

    img = [[128] * 8 for _ in range(8)]
    p = bytearray(encode_jpeg_gray(img))
    # flip SOF0 -> SOF2 (progressive)
    i = p.find(b"\xff\xc0")
    p[i + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(p))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01")
    # truncated scan
    good = encode_jpeg_gray([[((x * 37) ^ (y * 91)) % 256 for x in range(16)] for y in range(16)])
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])
    # subsampled 3-component SOF (2x2 luma sampling) — 4:4:4 color IS
    # supported since round 7 (test_jpeg_color.py); subsampling still raises
    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    multi = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes([1] * 64))
        + seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 8, 3)
            + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01",
        )
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="subsampled"):
        decode_jpeg(multi)
    # component counts other than 1/3 still raise
    four = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes([1] * 64))
        + seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 8, 4)
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01\x04\x11\x01",
        )
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="1-component|3-component"):
        decode_jpeg(four)


# Independent scalar oracle for the numpy DCT: per-term loops over their
# own basis table. They sum the 64 products in a different order than the
# matrix sandwich, which is exactly what exposes a missing round-half snap.
_SCALAR_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)
]
_SCALAR_C = [1 / math.sqrt(2)] + [1.0] * 7
_SCALAR_SNAP = 1e-6  # the pinned round-half snap (jpeg._ROUND_SNAP)


def _scalar_fdct_quant(block):
    out = [0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for y in range(8):
                cy = _SCALAR_COS[u][y]
                row = block[y]
                for x in range(8):
                    s += row[x] * cy * _SCALAR_COS[v][x]
            val = 0.25 * _SCALAR_C[u] * _SCALAR_C[v] * s
            out[u * 8 + v] = int(math.floor(abs(val) + (0.5 + _SCALAR_SNAP))) * (
                1 if val >= 0 else -1
            )
    return out


def _scalar_idct(coeffs):
    out = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                cu = _SCALAR_C[u] * _SCALAR_COS[u][y]
                base = u * 8
                for v in range(8):
                    s += _SCALAR_C[v] * coeffs[base + v] * cu * _SCALAR_COS[v][x]
            out[y][x] = 0.25 * s
    return out


def test_numpy_scalar_equivalence_randomized(monkeypatch):
    """Round-13 regression (ADVICE r12): the numpy matrix-sandwich DCT and
    the scalar loop reassociate float sums, so raw floor(|v| + 0.5)
    quantization flipped at exact round-half coefficients (-7.5 vs
    -7.499999999999993) and encoder bytes depended on the summation order.
    Integer inputs produce exact-half DC and (0,4)/(4,0)/(4,4)
    coefficients routinely (eighth-integer grids), so random images
    exercise the boundary densely. With the _ROUND_SNAP the numpy kernels
    must be byte- and pixel-identical to the test-local scalar loops on
    arbitrary inputs, not just the block-constant fixtures."""
    import random

    from bioeco_portal_etl_spark.multimodal import jpeg as J

    rng = random.Random(1312)

    # raw kernel: random blocks quantize identically
    for _ in range(300):
        block = [[rng.randrange(-128, 128) for _ in range(8)] for _ in range(8)]
        assert J._fdct_quant(block) == _scalar_fdct_quant(block)

    # full codec: gray + color roundtrips through the numpy kernels, then
    # with the scalar loops patched in; bytes and pixels identical
    images = []
    for _ in range(12):
        w, h = 8 + rng.randrange(12), 8 + rng.randrange(10)
        gray = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        rgb = [[rng.randrange(256) for _ in range(3 * w)] for _ in range(h)]
        images.append((gray, rgb))

    def run():
        out = []
        for gray, rgb in images:
            for enc in (J.encode_jpeg_gray(gray), J.encode_jpeg_color(rgb)):
                out.append((enc, J.decode_jpeg(enc)))
        return out

    got_np = run()
    monkeypatch.setattr(J, "_fdct_quant", _scalar_fdct_quant)
    monkeypatch.setattr(J, "_idct", _scalar_idct)
    got_sc = run()
    for i, ((enc_np, dec_np), (enc_sc, dec_sc)) in enumerate(zip(got_np, got_sc)):
        kind = ("gray", "color")[i % 2]
        assert enc_np == enc_sc, f"{kind} encode bytes diverge (img {i // 2})"
        assert dec_np == dec_sc, f"{kind} decode pixels diverge (img {i // 2})"

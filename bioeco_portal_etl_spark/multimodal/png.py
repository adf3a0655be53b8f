"""PNG codec (zlib + struct, numpy for whole-raster slices): the REAL pixel
decoder behind the ``decode_fn`` seam in multimodal/media.py.

This environment has no PIL/opencv, but PNG's baseline profile needs only
``zlib`` — so the codec seam can be exercised on genuine raster bytes
end-to-end (encode -> Spark BinaryType column -> mapInPandas decode ->
pixel-level features) instead of header stubs. Supports what a curation
pipeline's thumbnail/QA stages need:

- 8-bit depth, color types 0 (grayscale), 2 (RGB), 6 (RGBA);
- all five scanline filters (None/Sub/Up/Average/Paeth) on decode;
- filter-0 (None) scanlines on encode — valid PNG, decodable by any viewer.

Interlaced (Adam7) and 16-bit/palette images raise ValueError — the decode
seam contract is "raise on what you can't decode", so a corrupt or exotic
payload surfaces as a per-row error, never silent wrong pixels.

Scale note: this runs inside the Arrow batch loop of ``mapInPandas``
(multimodal/media.py) — per-payload Python/numpy cost, zero JVM round-trips,
payload never leaves the batch. A production deployment swaps these
functions for PIL at the same seam without touching the Spark plan.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 6: 4}


def is_png(payload: bytes) -> bool:
    return payload[:8] == _SIGNATURE


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(rows: list[list[int]], channels: int = 1) -> bytes:
    """Encode 8-bit pixel rows as a valid PNG. ``rows`` is height lists of
    width*channels flat sample values (0-255); ``channels`` 1=gray, 3=RGB,
    4=RGBA. Filter 0 on every scanline (simple, always valid)."""
    if channels not in (1, 3, 4):
        raise ValueError(f"channels must be 1, 3 or 4, got {channels}")
    height = len(rows)
    if height == 0:
        raise ValueError("empty image")
    width, rem = divmod(len(rows[0]), channels)
    if rem or width == 0:
        raise ValueError("row length not a multiple of channels")
    color_type = {1: 0, 3: 2, 4: 6}[channels]
    raw = bytearray()
    for r in rows:
        if len(r) != width * channels:
            raise ValueError("ragged rows")
        raw.append(0)  # filter type 0 (None)
        raw.extend(r)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Full pixel decode: (width, height, channels, rows) where ``rows`` is
    height lists of width*channels flat 8-bit samples — the inverse of
    :func:`encode_png`, but accepting ALL five scanline filters so PNGs
    from real encoders (which pick filters per-row) decode correctly."""
    if not is_png(payload):
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    height = channels = bpp = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            channels = _CHANNELS[color_type]
            bpp = channels  # bytes per pixel at 8-bit depth
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    if not arr[:, 0].any():
        # every scanline filter-0 (what encode_png writes, and the common
        # case for synthetic corpora): the whole raster is a slice — no
        # per-byte unfilter loop
        return width, height, channels, arr[:, 1:].astype(np.int64).tolist()
    # some scanline uses filter 1-4: unfilter byte by byte
    rows: list[list[int]] = []
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        prev = line
        rows.append(list(line))
    return width, height, channels, rows


def png_header_fn(payload: bytes) -> tuple[int, int, str]:
    """``decode_fn`` adapter for :func:`decode_media_metadata`
    (``bytes -> (width, height, format)``) backed by the REAL decoder —
    dims come from a verified full pixel decode, not a fixed-offset peek."""
    w, h, _, _ = decode_png(payload)
    return w, h, "png"


def resize_nearest(
    width: int, height: int, channels: int, rows: list[list[int]], max_dim: int
) -> tuple[int, int, list[list[int]]]:
    """Nearest-neighbor downsample preserving aspect ratio so
    max(w', h') <= max_dim (no upscaling). Pure integer source indexing
    (src = i * size // size') — deterministic across platforms."""
    scale_num, scale_den = min(max_dim, max(width, height)), max(width, height)
    out_w = max(width * scale_num // scale_den, 1)
    out_h = max(height * scale_num // scale_den, 1)
    # integer source indexing src = i * size // size', as two gather
    # index vectors
    a = np.asarray(rows, dtype=np.int64).reshape(len(rows), width, channels)
    sy = (np.arange(out_h, dtype=np.int64) * height) // out_h
    sx = (np.arange(out_w, dtype=np.int64) * width) // out_w
    picked = a[sy][:, sx].reshape(out_h, out_w * channels)
    return out_w, out_h, picked.tolist()

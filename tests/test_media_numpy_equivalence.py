"""Round-13 (guide §4.2): the numpy kernels inside the Arrow tasks of the
WAV/PNG operators must be EXACTLY equivalent to plain integer loops —
any divergence is output that depends on the arithmetic form (the jpeg.py
round-half lesson, ADVICE r12). The codecs have no stdlib fallback, so
the reference forms live here in the test: ``struct.pack`` + ``wave`` for
WAV bytes, the input rows for PNG decode, and the integer
nearest-neighbour loop for ``resize_nearest``. Inputs are randomized and
results must be bit-identical (bytes for codecs, values for stats).
"""

from __future__ import annotations

import io
import random
import struct
import wave
import zlib

import numpy as np
import pytest

from bioeco_portal_etl_spark.multimodal import png as PNG
from bioeco_portal_etl_spark.multimodal import wavpcm as W


def _struct_wav(samples, sample_rate=W.SAMPLE_RATE):
    """Reference WAV bytes: ``struct.pack`` frames through ``wave``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def _loop_resize_nearest(width, height, channels, rows, max_dim):
    """Reference nearest-neighbour downsample: integer source indexing
    src = i * size // size', one output pixel at a time."""
    scale_num, scale_den = min(max_dim, max(width, height)), max(width, height)
    out_w = max(width * scale_num // scale_den, 1)
    out_h = max(height * scale_num // scale_den, 1)
    out = []
    for oy in range(out_h):
        src = rows[oy * height // out_h]
        line = []
        for ox in range(out_w):
            sx = ox * width // out_w
            line.extend(src[sx * channels : (sx + 1) * channels])
        out.append(line)
    return out_w, out_h, out


def test_wav_encode_decode_equivalence():
    rng = random.Random(7)
    for _ in range(20):
        n = rng.randrange(0, 2000)
        samples = [rng.randrange(-32768, 32768) for _ in range(n)]
        enc_np = W.encode_wav(samples)
        assert enc_np == _struct_wav(samples)
        assert W.encode_wav(np.asarray(samples, dtype=np.int64)) == enc_np
        rate, s_list = W.decode_wav(enc_np)
        rate2, s_np = W.decode_wav_np(enc_np)
        assert rate == rate2 and s_np.tolist() == s_list == samples
        # a data chunk shorter than the header's frame count: both raise
        for cut in (1, 2) if n else ():
            for decode in (W.decode_wav, W.decode_wav_np):
                with pytest.raises(ValueError, match="truncated"):
                    decode(enc_np[:-cut])


def test_wav_encode_range_check_matches_struct():
    """encode_wav rejects what ``struct.pack('<h')`` rejects: out-of-range
    and non-integer samples (a float is never truncated to an int)."""
    with pytest.raises(ValueError):
        W.encode_wav([40000])
    with pytest.raises(struct.error):
        _struct_wav([40000])
    for bad in ([1.5], [0, 2.0], np.array([1.5])):
        with pytest.raises(TypeError):
            W.encode_wav(bad)
        with pytest.raises(struct.error):
            _struct_wav(list(bad))


def test_png_filter0_fast_path_equivalence():
    rng = random.Random(11)
    for ch in (1, 3, 4):
        w, h = 5 + rng.randrange(9), 4 + rng.randrange(7)
        rows = [
            [rng.randrange(256) for _ in range(w * ch)] for _ in range(h)
        ]
        payload = PNG.encode_png(rows, channels=ch)
        assert PNG.decode_png(payload) == (w, h, ch, rows)


def test_png_nonzero_filters_still_loop_decode():
    """A hand-built PNG with Up-filtered scanlines must NOT take the
    filter-0 slice; the per-byte unfilter recovers the source rows."""
    w, h, ch = 4, 3, 1
    base = [[(x * 37 + y * 11) % 256 for x in range(w)] for y in range(h)]
    raw = bytearray()
    prev = [0] * w
    for r in base:
        raw.append(2)  # Up filter
        raw.extend((v - p) & 0xFF for v, p in zip(r, prev))
        prev = r
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + PNG._chunk(b"IHDR", ihdr)
        + PNG._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + PNG._chunk(b"IEND", b"")
    )
    assert PNG.decode_png(payload) == (w, h, ch, base)


def test_resize_nearest_equivalence():
    rng = random.Random(13)
    for ch in (1, 3):
        w, h = 6 + rng.randrange(20), 5 + rng.randrange(15)
        rows = [
            [rng.randrange(256) for _ in range(w * ch)] for _ in range(h)
        ]
        for max_dim in (1, 3, 7, max(w, h) + 5):
            got = PNG.resize_nearest(w, h, ch, rows, max_dim)
            assert got == _loop_resize_nearest(w, h, ch, rows, max_dim)


def _collect_map_in_pandas(fn_df):
    return [tuple(r) for r in fn_df.orderBy(fn_df.columns[0]).collect()]


def test_media_operators_numpy_vs_scalar(spark):
    """End-to-end: synth -> stats/trim/downsample through mapInPandas,
    compared against a scalar reference built from the SAME formulas
    here in the test."""
    import pyspark.sql.functions as F

    from bioeco_portal_etl_spark.multimodal import media as M

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    wav = M.synth_pcm_wav(ids, "doc_id")
    stats = {r["media_id"]: r for r in M.wav_clip_stats(wav).collect()}
    bounds = {r["media_id"]: r for r in M.wav_trim_bounds(wav).collect()}
    ds = {
        r["media_id"]: r
        for r in M.wav_clip_stats(M.wav_downsample(wav)).collect()
    }
    for mid in range(40):
        n = M.SYNTH_N_BASE + mid % M.SYNTH_N_MOD
        s = [(mid * 13 + i * 7) % 2048 - 1024 for i in range(n)]
        r = stats[mid]
        assert r["n_samples"] == n
        assert r["energy"] == sum(v * v for v in s)
        assert r["min_s"] == min(s) and r["max_s"] == max(s)
        assert r["zero_cross"] == sum(
            1 for a, b in zip(s, s[1:]) if (a >= 0) != (b >= 0)
        )
        loud = [i for i, v in enumerate(s) if abs(v) >= 128]
        b = bounds[mid]
        assert (b["first_loud"], b["last_loud"]) == (loud[0], loud[-1])
        assert b["kept_energy"] == sum(
            v * v for v in s[loud[0] : loud[-1] + 1]
        )
        out = [
            sum(s[j * 4 : (j + 1) * 4]) // 4 for j in range(len(s) // 4)
        ]
        d = ds[mid]
        assert d["n_samples"] == len(out)
        assert d["energy"] == sum(v * v for v in out)

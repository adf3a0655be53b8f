"""Real PCM WAV encode/decode on in-memory bytes — the audio twin of
multimodal/png.py: a genuine RIFF/WAVE codec (stdlib ``wave`` + ``struct``,
numpy for sample packing) so the audio stages of the media pipeline can be
proven end-to-end on real container bytes instead of the ASCII stand-in
payloads mm4 documents (multimodal/media.py audio_frame_features).

The reference has no audio surface at all (854 lines of R over tabular/geo
data — `notebooks/index.Rmd`); this exists for the training-data-pipeline
extension, where audio arrives as opaque binary + typed metadata and the
first executor-side stage is exactly this: parse the container, get PCM,
reduce to features. Mono 16-bit little-endian PCM is the interchange
format every resampler/featurizer accepts.

Scale posture: both functions are pure bytes->bytes/ints helpers invoked
inside Arrow ``mapInPandas`` batches (see media.py synth_pcm_wav /
wav_clip_stats) — payloads never cross to the JVM, and per-clip work is
O(samples) with no Python-loop-over-rows on the Spark side.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

SAMPLE_RATE = 16000


def encode_wav(samples, sample_rate: int = SAMPLE_RATE) -> bytes:
    """Mono 16-bit PCM WAV bytes for ``samples`` (ints in [-32768, 32767];
    list or 1-D integer numpy array). Deterministic: fixed
    rate/width/channels, no metadata chunks beyond what ``wave`` always
    writes — byte-identical across runs and hosts. Packs via
    ``astype('<i2').tobytes()`` (the little-endian int16 bytes
    ``struct.pack('<h')`` writes) with explicit type and range checks: a
    float sample is rejected, never truncated."""
    arr = np.asarray(samples)
    if arr.size and arr.dtype.kind not in "biu":
        raise TypeError(f"samples must be integers, got {arr.dtype}")
    if arr.size and (arr.min() < -32768 or arr.max() > 32767):
        raise ValueError("sample out of int16 range")
    frames = arr.astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def _read_pcm(payload: bytes) -> tuple[int, int, bytes]:
    """(sample_rate, nframes, frame bytes) of mono 16-bit PCM WAV bytes.
    Raises on anything else, and on a data chunk shorter than its header
    says — a curation pipeline wants loud failures on codec surprises,
    not silently resampled or truncated garbage."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError(
                "expected mono 16-bit PCM, got "
                f"{w.getnchannels()}ch/{8 * w.getsampwidth()}-bit"
            )
        n = w.getnframes()
        raw = w.readframes(n)
        if len(raw) != 2 * n:
            raise ValueError(f"truncated data chunk: {len(raw)} of {2 * n} bytes")
        return w.getframerate(), n, raw


def decode_wav(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) from mono 16-bit PCM WAV bytes; raises as
    :func:`_read_pcm` does."""
    rate, n, raw = _read_pcm(payload)
    return rate, list(struct.unpack(f"<{n}h", raw))


def decode_wav_np(payload: bytes):
    """(sample_rate, int64 numpy array) — the vectorized twin of
    :func:`decode_wav` for numpy consumers:
    ``frombuffer('<i2')`` reads the identical little-endian int16 frames,
    widened to int64 so downstream integer arithmetic (energy sums,
    products) cannot overflow. Raises exactly like decode_wav."""
    rate, _, raw = _read_pcm(payload)
    return rate, np.frombuffer(raw, dtype="<i2").astype(np.int64)

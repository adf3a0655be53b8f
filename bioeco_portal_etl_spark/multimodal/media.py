"""Opaque-binary media columns with typed metadata + Arrow-batched decode.

Images/audio/video travel through the pipeline as ``BinaryType`` payload
columns plus a typed metadata struct; decode / feature-extract runs as
``mapInPandas`` (Arrow batches, one Python process per task — the ONLY
sanctioned Python hot path in the engine). Codec status: PNG decodes
PIXEL-LEVEL for real via the zlib + numpy codec in :mod:`multimodal.png`
(``decode_image``, and the ``decode_fn`` seams on the metadata/resize
stages) and for baseline JPEG via :mod:`multimodal.jpeg`; profiles beyond
those route through the OPTIONAL Pillow arm (``_pil_decode``) when Pillow
is installed, and raise otherwise. Audio decodes for real via the
``wave`` + numpy WAV codec in :mod:`multimodal.wavpcm`; compressed containers
(MP3/FLAC/OGG) route through the OPTIONAL PyAV/ffmpeg arm
(``_av_decode_audio`` behind ``decode_audio``) when PyAV is installed, and
raise otherwise. Video remains frame-STUBBED by deliberate decline: every
video stage (``sample_frames``, ``scene_cuts``, ``frame_motion``) already
exposes the ``decode_fn``/byte-window seam where a keyframe extractor
plugs in, the Spark-side contract (fan-out shape, ordering column, binary
frame schema) is what the engine owns and tests, and a container-less fake
of ffmpeg's demux+GOP machinery would be pretend coverage rather than a
codec — a deployment with PyAV passes ``decode_fn=lambda b:
frame_means_via_av(b)`` at those seams without touching this module. The
default-path
stubs (``decode_media_metadata`` with ``decode_fn=None`` etc.) derive
deterministic fake dimensions from the byte stream so the Spark-side
contract — schema, batch shape, partitioning — stays oracle-checkable with
no codec at all.

The vectorized kernels (pixel stats, histograms, WAV synth, clip stats,
trim and downsample, byte features) have one code path, numpy: it is
always present wherever ``mapInPandas`` runs, since that needs pandas.

Scale notes: binary payloads make rows wide -> keep
``spark.sql.files.maxPartitionBytes`` at default 128 MB so tasks stay
memory-bounded, and NEVER collect payload columns; metadata extraction
projects the payload away immediately after the mapInPandas stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import numpy as np

MEDIA_META_SCHEMA = (
    "media_id long, n_bytes long, width long, height long, media_format string"
)


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Test-harness payload: utf-8 bytes of a text column as the opaque blob
    (stands in for image bytes; deterministic so oracles can re-derive it).
    Null text -> empty payload (never a null blob — every downstream stub
    calls len(payload); mirrors content_hash's coalesce convention)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8").alias("payload"),
    )


# Deterministic stand-in for a real header parse. Single source of truth for
# BOTH the pandas stages below and the MM1 oracle SQL (catalog_media builds the
# SQL from these constants): width = n % W_MOD + DIM_OFF,
# height = n // H_DIV % H_MOD + DIM_OFF.
FAKE_W_MOD, FAKE_H_DIV, FAKE_H_MOD, FAKE_DIM_OFF = 640, 7, 480, 16


def decode_media_metadata(df: DataFrame, decode_fn=None) -> DataFrame:
    """mapInPandas decode stage: (media_id, payload) -> typed metadata rows.

    ``decode_fn`` is the REAL-CODEC SEAM: a plain callable
    ``bytes -> (width, height, format_str)`` executed per payload inside the
    Arrow batch loop (this is where ``PIL.Image.open(io.BytesIO(b)).size``
    plugs in). It ships on the closure to executors like any mapInPandas
    body, so it must be picklable and import its libraries lazily. With the
    default ``None`` the deterministic header stub runs instead (no image
    libs in this environment) — same schema, batch shape, and partitioning
    either way, which is what makes the seam testable without PIL:
    tests/test_multimodal.py drives real BMP bytes through
    :func:`parse_bmp_header` on this exact path.

    Batch shape: pandas DataFrames with a bytes column in, metadata-only out —
    the payload never crosses back to the JVM."""
    import pandas as pd

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            if decode_fn is None:
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "n_bytes": n,
                        "width": n % FAKE_W_MOD + FAKE_DIM_OFF,
                        "height": n // FAKE_H_DIV % FAKE_H_MOD + FAKE_DIM_OFF,
                        "media_format": "fake-rgb",
                    }
                )
            else:
                decoded = [decode_fn(b) for b in pdf["payload"]]
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "n_bytes": n,
                        "width": [d[0] for d in decoded],
                        "height": [d[1] for d in decoded],
                        "media_format": [d[2] for d in decoded],
                    }
                )

    return df.mapInPandas(decode, schema=MEDIA_META_SCHEMA)


def parse_bmp_header(payload: bytes) -> tuple[int, int, str]:
    """Minimal REAL image codec, pure stdlib: BMP (BITMAPINFOHEADER) width/
    height from the fixed-offset header fields (little-endian int32 at
    bytes 18 and 22; negative height = top-down row order). Exists so the
    ``decode_fn`` seam is exercised end-to-end on genuine image bytes in an
    environment without PIL/ffmpeg."""
    import struct

    if len(payload) < 26 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    w, h = struct.unpack_from("<ii", payload, 18)
    return w, abs(h), "bmp"


def _pil_available() -> bool:
    """True when Pillow is importable. Import-probe (not find_spec) so
    tests can exercise the optional path by planting a stand-in module."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError:
        return False
    return True


def _pil_decode(payload: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Optional-Pillow arm of the ``decode_image`` seam: same
    ``(width, height, channels, rows of flat 8-bit samples)`` contract as
    the stdlib codecs. Grayscale stays 1-channel; everything else is
    normalized to RGB (3 channels) so downstream pixel stages see the
    same shapes the PNG/JPEG codecs produce. Lazy import + module-level
    def keep it picklable for mapInPandas closures."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as img:
        img.load()
        if img.mode != "L":
            img = img.convert("RGB")
        width, height = img.size
        channels = 1 if img.mode == "L" else 3
        flat = list(img.getdata())
    if channels == 1:
        rows = [list(flat[y * width : (y + 1) * width]) for y in range(height)]
    else:
        rows = [
            [s for px in flat[y * width : (y + 1) * width] for s in px]
            for y in range(height)
        ]
    return width, height, channels, rows


def decode_image(payload: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Full-pixel decode plug-point: (width, height, channels, rows of flat
    8-bit samples). REAL for PNG — the zlib + numpy codec in
    :mod:`multimodal.png` (zlib inflate + all five scanline filters) — and
    for baseline sequential JPEG, grayscale AND 4:4:4 YCbCr color —
    :mod:`multimodal.jpeg` (Huffman + DPCM + dequant + IDCT + pinned
    YCbCr<->RGB). Profiles outside that (progressive/subsampled JPEG,
    WebP, ...) fall through to the OPTIONAL Pillow arm (:func:`_pil_decode`,
    import-gated like requests in sources/rest.py); without Pillow the
    seam's error contract holds — raise on what you can't decode, never
    silent fake pixels."""
    from bioeco_portal_etl_spark.multimodal.jpeg import decode_jpeg, is_jpeg
    from bioeco_portal_etl_spark.multimodal.png import decode_png, is_png

    if is_png(payload):
        return decode_png(payload)
    if is_jpeg(payload):
        try:
            return decode_jpeg(payload)
        except ValueError:
            # Outside the stdlib baseline (progressive, subsampled, 16-bit
            # tables) — or genuinely corrupt, in which case Pillow raises
            # its own parse error with this ValueError chained as context.
            if _pil_available():
                return _pil_decode(payload)
            raise
    if _pil_available():
        return _pil_decode(payload)
    raise NotImplementedError(
        "only PNG and baseline JPEG (grayscale + 4:4:4 color) decode "
        "pixel-level without Pillow (multimodal/png.py, multimodal/"
        "jpeg.py); install Pillow to light up the _pil_decode arm for "
        "WebP and progressive/subsampled JPEG — same (w, h, channels, "
        "rows) contract"
    )


def _av_available() -> bool:
    """True when PyAV (the ffmpeg binding) is importable. Import-probe,
    not find_spec, so tests can plant a stand-in module — same posture
    as :func:`_pil_available`."""
    try:
        import av  # noqa: F401
    except ImportError:
        return False
    return True


def _frame_channel_count(frame: object) -> int:
    """Channel count of a PyAV audio frame, defensively: legacy PyAV
    (<12) exposes ``frame.layout.channels`` as a tuple of channel
    descriptors, modern PyAV (>=12) carries ``layout.nb_channels`` (and
    some builds expose ``channels`` as a plain int, so the tuple path
    only fires when the value is actually sized — ADVICE r10);
    stand-in frames in tests may expose neither, which means "trust the
    ndarray shape" (mono for packed)."""
    layout = getattr(frame, "layout", None)
    if layout is None:
        return 1
    chs = getattr(layout, "channels", None)
    if chs is not None and hasattr(chs, "__len__"):
        return len(chs)
    if isinstance(chs, int) and chs > 0:
        return chs
    return int(getattr(layout, "nb_channels", 1) or 1)


def _av_decode_audio(payload: bytes) -> tuple[int, list[int]]:
    """Optional-PyAV arm of the :func:`decode_audio` seam: same
    ``(sample_rate, mono 16-bit samples)`` contract as
    :func:`wavpcm.decode_wav`, for every compressed container ffmpeg can
    open (MP3/FLAC/OGG/M4A...). Multi-channel input is mixed down by
    per-sample channel mean — the interchange shape every downstream
    audio stage (wav_clip_stats, audio_frame_features, ...) consumes.
    PLANAR formats arrive from ``to_ndarray()`` as ``(channels, n)`` and
    mix down along axis 0; PACKED formats arrive as ``(1, n*ch)``
    interleaved (ffmpeg's FLAC decoder emits packed s16/s32), so a
    shape-only check would silently return 2x-length interleaved L/R —
    the frame's channel count disambiguates (ADVICE r9). Lazy import +
    module-level def keep it picklable for mapInPandas closures,
    mirroring :func:`_pil_decode`."""
    import io

    import av

    rate = 0
    chunks: list[list[int]] = []
    with av.open(io.BytesIO(payload)) as container:
        stream = next(s for s in container.streams if s.type == "audio")
        for frame in container.decode(stream):
            rate = int(frame.sample_rate or rate)
            arr = frame.to_ndarray()  # planar: (channels, n); packed: (1, n*ch)
            if getattr(arr.dtype, "kind", "i") == "f":
                arr = (arr * 32767.0).round()
            if arr.ndim == 2 and arr.shape[0] > 1:
                arr = arr.mean(axis=0).round()  # planar multi-channel mixdown
            else:
                ch = _frame_channel_count(frame)
                if ch > 1:  # packed interleaved multi-channel mixdown
                    arr = arr.reshape(-1, ch).mean(axis=1).round()
            flat = [int(v) for v in arr.reshape(-1)]
            chunks.append([max(-32768, min(32767, v)) for v in flat])
    return rate, [s for c in chunks for s in c]


def decode_audio(payload: bytes) -> tuple[int, list[int]]:
    """Audio-decode plug-point: container bytes -> (sample_rate, mono
    16-bit PCM samples). REAL for RIFF/WAVE via the ``wave`` codec in
    :mod:`multimodal.wavpcm`; every other container routes through the
    OPTIONAL PyAV/ffmpeg arm (:func:`_av_decode_audio`, import-gated like
    Pillow in :func:`decode_image`); without PyAV the seam's error
    contract holds — raise on what you can't decode, never silent fake
    samples."""
    from bioeco_portal_etl_spark.multimodal.wavpcm import decode_wav

    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if _av_available():
        return _av_decode_audio(payload)
    raise NotImplementedError(
        "only RIFF/WAVE PCM decodes without PyAV (multimodal/wavpcm.py); "
        "install PyAV (ffmpeg binding) to light up the _av_decode_audio "
        "arm for MP3/FLAC/OGG — same (sample_rate, mono 16-bit samples) "
        "contract"
    )


# Deterministic synthetic raster: dims and per-pixel channel values derive
# from the id alone, so an oracle can compute ground-truth statistics with
# PURE ARITHMETIC (no codec) while the Spark side must round-trip the same
# values through a REAL PNG encode->decode. Single source of truth for both
# synth_rgb_png below and the MM6 oracle SQL (catalog_media builds the SQL
# from these constants): w = W_BASE + id % W_MOD, h = H_BASE + id % H_MOD,
# v(id, x, y, c) = (id*7 + x*3 + y*5 + c*11) % 256.
SYNTH_W_BASE, SYNTH_W_MOD = 8, 5
SYNTH_H_BASE, SYNTH_H_MOD = 6, 3


def synth_rgb_png(
    df: DataFrame, id_col: str, seed_col: str | None = None
) -> DataFrame:
    """(media_id, payload) with payload a REAL RGB PNG (multimodal/png.py
    encoder) of the deterministic gradient above — the harness source for
    pixel-level stages in an environment with no image corpus: every
    downstream number is independently recomputable from the id.

    ``seed_col`` decouples payload content from identity: dims and pixels
    derive from the SEED while ``media_id`` stays ``id_col`` — distinct
    ids sharing a seed carry byte-identical payloads, which is how the
    dedupe-stage fixtures (mm11) plant known duplicate groups."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.png import encode_png

        for pdf in batches:
            ids, blobs = [], []
            seeds = pdf[seed_col] if seed_col else pdf[id_col]
            for mid, seed in zip(pdf[id_col], seeds):
                seed = int(seed)
                w = SYNTH_W_BASE + seed % SYNTH_W_MOD
                h = SYNTH_H_BASE + seed % SYNTH_H_MOD
                rows = [
                    [
                        (seed * 7 + x * 3 + y * 5 + c * 11) % 256
                        for x in range(w)
                        for c in range(3)
                    ]
                    for y in range(h)
                ]
                ids.append(int(mid))
                blobs.append(encode_png(rows, channels=3))
            yield pd.DataFrame({"media_id": ids, "payload": blobs})

    return df.mapInPandas(gen, schema="media_id long, payload binary")


# JPEG synth fixtures: block-constant grayscale tiles (constant within
# each 8x8 tile) survive the lossy codec bit-exactly under all-ones
# quantization (multimodal/jpeg.py docstring has the proof), so the
# oracle can recompute pixels with pure arithmetic EXACTLY as for PNG —
# while the Spark side must run the real Huffman/DPCM/IDCT decode path.
# Dims deliberately avoid multiples of 8 so every image exercises edge
# padding: w = JW_BASE + id % JW_MOD, h = JH_BASE + id % JH_MOD,
# tile value v(id, x, y) = (id*31 + (x//8)*7 + (y//8)*11) % 256.
JPEG_W_BASE, JPEG_W_MOD = 19, 6
JPEG_H_BASE, JPEG_H_MOD = 17, 5


def synth_gray_jpeg(
    df: DataFrame, id_col: str, seed_col: str | None = None
) -> DataFrame:
    """(media_id, payload) with payload a REAL baseline JPEG
    (multimodal/jpeg.py encoder) of the block-constant gray tiling above —
    the synth_rgb_png counterpart for the lossy-codec path. ``seed_col``
    semantics match synth_rgb_png (shared seeds -> byte-identical
    payloads)."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.jpeg import encode_jpeg_gray

        for pdf in batches:
            ids, blobs = [], []
            seeds = pdf[seed_col] if seed_col else pdf[id_col]
            for mid, seed in zip(pdf[id_col], seeds):
                seed = int(seed)
                w = JPEG_W_BASE + seed % JPEG_W_MOD
                h = JPEG_H_BASE + seed % JPEG_H_MOD
                rows = [
                    [
                        (seed * 31 + (x // 8) * 7 + (y // 8) * 11) % 256
                        for x in range(w)
                    ]
                    for y in range(h)
                ]
                ids.append(int(mid))
                blobs.append(encode_jpeg_gray(rows))
            yield pd.DataFrame({"media_id": ids, "payload": blobs})

    return df.mapInPandas(gen, schema="media_id long, payload binary")


def synth_rgb_jpeg(
    df: DataFrame, id_col: str, seed_col: str | None = None
) -> DataFrame:
    """(media_id, payload) with payload a REAL baseline 4:4:4 YCbCr COLOR
    JPEG (multimodal/jpeg.py encode_jpeg_color) of a block-constant RGB
    tiling: channel c of tile (tx, ty) is
    ``(seed*31 + tx*7 + ty*11 + c*17) % 256`` — the gray formula plus a
    per-channel offset. Tile-constant RGB means tile-constant YCbCr, so
    under all-ones quantization decode(encode(px)) equals EXACTLY the
    pinned double conversion ycbcr_to_rgb(rgb_to_ycbcr(px)) — pure
    arithmetic the mm23 oracle mirrors literal-for-literal while the
    Spark side runs three interleaved Huffman/DPCM/IDCT pipelines."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.jpeg import encode_jpeg_color

        for pdf in batches:
            ids, blobs = [], []
            seeds = pdf[seed_col] if seed_col else pdf[id_col]
            for mid, seed in zip(pdf[id_col], seeds):
                seed = int(seed)
                w = JPEG_W_BASE + seed % JPEG_W_MOD
                h = JPEG_H_BASE + seed % JPEG_H_MOD
                rows = [
                    [
                        (seed * 31 + (x // 8) * 7 + (y // 8) * 11 + c * 17)
                        % 256
                        for x in range(w)
                        for c in range(3)
                    ]
                    for y in range(h)
                ]
                ids.append(int(mid))
                blobs.append(encode_jpeg_color(rows))
            yield pd.DataFrame({"media_id": ids, "payload": blobs})

    return df.mapInPandas(gen, schema="media_id long, payload binary")


CHANNEL_STATS_SCHEMA = (
    "media_id long, channel long, n_px long, mean_v long, min_v long, max_v long"
)

#: quarantine face — see wav_clip_stats: one (decode_ok=0) row per bad
#: payload, channel NULL, stats NULL
QUARANTINED_CHANNEL_SCHEMA = (
    CHANNEL_STATS_SCHEMA + ", decode_ok long, decode_err string"
)

_CHANNEL_COLS = ("media_id", "channel", "n_px", "mean_v", "min_v", "max_v")


def png_channel_stats(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """(media_id, payload) -> per-channel pixel statistics via a FULL
    :func:`decode_image` raster reconstruction inside the Arrow batch:
    n_px, floor mean, min, max per channel — the per-image QA numbers an
    image-curation pipeline gates on (dead channels, clipped exposure).
    All integer arithmetic, so results are engine-exact for an oracle
    that knows the source pixels. Payload never returns to the JVM.

    ``on_error="quarantine"`` routes undecodable payloads to one
    (decode_ok=0, decode_err, channel NULL) row each instead of failing
    the task — same production posture as wav_clip_stats."""
    import pandas as pd

    quarantine = on_error == "quarantine"

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows_out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, ch, rows = decode_image(bytes(payload))
                    # one int64 matrix per image; channel c is the
                    # strided column slice; // floors the nonneg mean
                    a = np.asarray(rows, dtype=np.int64)
                    for c in range(ch):
                        vals = a[:, c::ch]
                        rows_out.append(
                            {
                                "media_id": mid,
                                "channel": c,
                                "n_px": int(vals.size),
                                "mean_v": int(vals.sum() // vals.size),
                                "min_v": int(vals.min()),
                                "max_v": int(vals.max()),
                                "decode_ok": 1,
                                "decode_err": None,
                            }
                        )
                except Exception as e:  # noqa: BLE001 — quarantine boundary
                    if not quarantine:
                        raise
                    rows_out.append(
                        {
                            **{c: None for c in _CHANNEL_COLS},
                            "media_id": mid,
                            "decode_ok": 0,
                            "decode_err": f"{type(e).__name__}: {e}",
                        }
                    )
            cols = list(_CHANNEL_COLS) + (
                ["decode_ok", "decode_err"] if quarantine else []
            )
            yield pd.DataFrame({c: [r[c] for r in rows_out] for c in cols})

    return df.mapInPandas(
        stats,
        schema=QUARANTINED_CHANNEL_SCHEMA if quarantine else CHANNEL_STATS_SCHEMA,
    )


HISTOGRAM_STATS_SCHEMA = (
    "media_id long, channel long, n_px long, n_distinct long, "
    "mode_v long, mode_count long, gini_e6 long"
)


def image_histogram_stats(df: DataFrame) -> DataFrame:
    """(media_id, payload) -> per-channel value-distribution statistics
    via a FULL :func:`decode_image` raster reconstruction: distinct
    value count, mode (ties break on the smallest value), and Gini
    impurity 1 - Σ(c/n)² as an INTEGER e6 — the contrast/flatness
    triage metric (gini 0 = flat single-color channel, → 1e6 = uniform
    noise). Gini is rational in the counts, so unlike Shannon entropy it
    needs no transcendental and both engines match bit-for-bit:
    gini_e6 = 1e6 - (1e6 · Σc²) div n². Payload stays in the batch."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ch, rows = decode_image(bytes(payload))
                a = np.asarray(rows, dtype=np.int64)
                for c in range(ch):
                    # 8-bit values -> one bincount; argmax returns the
                    # SMALLEST value among max-count ties
                    counts = np.bincount(a[:, c::ch].ravel(), minlength=256)
                    n = int(counts.sum())
                    mode_v = int(counts.argmax())
                    sq = int(counts @ counts)
                    out.append(
                        (
                            mid,
                            c,
                            n,
                            int((counts > 0).sum()),
                            mode_v,
                            int(counts[mode_v]),
                            1_000_000 - (1_000_000 * sq) // (n * n),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "channel",
                    "n_px",
                    "n_distinct",
                    "mode_v",
                    "mode_count",
                    "gini_e6",
                ],
            )

    return df.mapInPandas(stats, schema=HISTOGRAM_STATS_SCHEMA)


FRAME_MOTION_SCHEMA = (
    "media_id long, n_frames long, total_motion long, max_step_motion long"
)


def frame_motion(
    df: DataFrame, frame_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """(media_id, payload) -> inter-frame motion energy: for each
    consecutive frame pair, the sum of absolute byte differences over
    the overlapping positions (the SAD statistic block-motion search
    minimizes); total and max step per clip. Scene_cuts flags WHERE a
    shot changes; this measures HOW MUCH is moving — the
    static-slideshow vs action triage an ingest pipeline uses to pick
    frame-sampling rates. Integer sums inside the Arrow batch."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                frames = [
                    b[i * frame_bytes : (i + 1) * frame_bytes]
                    for i in range(
                        min(max_frames, (len(b) + frame_bytes - 1) // frame_bytes)
                    )
                ]
                steps = [
                    sum(
                        abs(x - y)
                        for x, y in zip(frames[i - 1], frames[i])
                    )
                    for i in range(1, len(frames))
                ]
                out.append(
                    (
                        mid,
                        len(frames),
                        sum(steps),
                        max(steps) if steps else 0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "n_frames",
                    "total_motion",
                    "max_step_motion",
                ],
            )

    return df.mapInPandas(stats, schema=FRAME_MOTION_SCHEMA)


CHANNEL_CORR_SCHEMA = "media_id long, pair string, r_e4 long"


def channel_correlation(df: DataFrame) -> DataFrame:
    """(media_id, payload) -> per-image Pearson correlation (floor e4)
    between channel pairs ('rg', 'rb', 'gb') via a FULL
    :func:`decode_image` raster: the grayscale-as-RGB (r = 1 on every
    pair) and dead-channel (NULL — zero variance) detector. Integer
    sufficient statistics inside the Arrow batch; the denominator is
    sqrt(a)·sqrt(b) — NEVER sqrt(a·b), whose int64 product wraps (the
    degree-assortativity postmortem). Requires 3-channel payloads."""
    import math

    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ch, rows = decode_image(bytes(payload))
                if ch < 3:
                    raise ValueError(
                        f"channel_correlation needs 3 channels, got {ch}"
                    )
                chans = [
                    [v for r in rows for v in r[c::ch]] for c in range(3)
                ]
                n = len(chans[0])
                s = [sum(c) for c in chans]
                ss = [sum(v * v for v in c) for c in chans]
                for pair, (i, j) in (
                    ("gb", (1, 2)),
                    ("rb", (0, 2)),
                    ("rg", (0, 1)),
                ):
                    cov = n * sum(
                        a * b for a, b in zip(chans[i], chans[j])
                    ) - s[i] * s[j]
                    va = n * ss[i] - s[i] * s[i]
                    vb = n * ss[j] - s[j] * s[j]
                    if va > 0 and vb > 0:
                        r_e4 = math.floor(
                            10000 * cov / (math.sqrt(va) * math.sqrt(vb))
                        )
                    else:
                        r_e4 = None
                    out.append((mid, pair, r_e4))
            yield pd.DataFrame(out, columns=["media_id", "pair", "r_e4"])

    return df.mapInPandas(stats, schema=CHANNEL_CORR_SCHEMA)


GAIN_SCHEMA = (
    "media_id long, n_samples long, energy long, gain_e4 long, "
    "n_clipped long"
)


def wav_gain_normalization(df: DataFrame, target_rms: int = 500) -> DataFrame:
    """(media_id, payload) -> loudness-normalization report per clip:
    the e4 gain that would bring the clip's RMS to ``target_rms``
    (gain_e4 = floor(1e4·target / sqrt(energy/n)) — IEEE /, sqrt only,
    which both engines round identically) and how many samples would
    clip past int16 at that gain (an integer cross-multiply:
    |s|·gain_e4 > 32767·1e4). The gain-staging pass every audio-ingest
    pipeline runs before featurization; clips that would clip get a
    limiter or rejection downstream. Silent clips (energy 0) report
    NULL gain and 0 clipped."""
    import math

    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.wavpcm import decode_wav

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _, s = decode_wav(bytes(payload))
                n = len(s)
                energy = sum(v * v for v in s)
                if energy > 0:
                    gain_e4 = math.floor(
                        10000 * target_rms / math.sqrt(energy / n)
                    )
                    clipped = sum(
                        1 for v in s if abs(v) * gain_e4 > 32767 * 10000
                    )
                else:
                    gain_e4, clipped = None, 0
                out.append((mid, n, energy, gain_e4, clipped))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "n_samples",
                    "energy",
                    "gain_e4",
                    "n_clipped",
                ],
            )

    return df.mapInPandas(stats, schema=GAIN_SCHEMA)


BLOCKINESS_SCHEMA = (
    "media_id long, n_boundary long, boundary_abs_sum long, "
    "n_interior long, interior_abs_sum long"
)


def jpeg_blockiness(df: DataFrame) -> DataFrame:
    """(media_id, payload) -> the classic no-reference blockiness
    measurement on channel 0: horizontal-neighbor absolute differences
    split into 8-pixel-grid BOUNDARY pairs (x+1 divisible by 8) vs
    INTERIOR pairs. A block codec's artifacts concentrate energy on the
    grid boundaries; boundary-vs-interior difference mass is the
    standard detection statistic (Wang/Bovik-family metrics). Runs
    through the FULL :func:`decode_image` raster (real JPEG/PNG decode),
    integer sums only — engine-exact for a formula oracle."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ch, rows = decode_image(bytes(payload))
                nb = ni = sb = si = 0
                for r in rows:
                    chan = r[::ch] if ch > 1 else r
                    for x in range(w - 1):
                        d = abs(chan[x] - chan[x + 1])
                        if (x + 1) % 8 == 0:
                            nb += 1
                            sb += d
                        else:
                            ni += 1
                            si += d
                out.append((mid, nb, sb, ni, si))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "n_boundary",
                    "boundary_abs_sum",
                    "n_interior",
                    "interior_abs_sum",
                ],
            )

    return df.mapInPandas(stats, schema=BLOCKINESS_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, thumb binary, thumb_width long, thumb_height long"
)


def resize_media(df: DataFrame, max_dim: int = 64, decode_fn=None) -> DataFrame:
    """Resize stage: (media_id, payload) -> thumbnail payload + dims.

    ``decode_fn`` is the REAL-CODEC SEAM: ``bytes -> (width, height,
    channels, rows)`` (the :func:`decode_image` signature — PNG works
    pixel-level today via multimodal/png.py). When given, each payload is
    actually decoded, nearest-neighbor downsampled to fit ``max_dim``
    (aspect-preserving, no upscale), and re-encoded as PNG — a genuine
    decode→resample→re-encode loop inside the Arrow batch, which is
    exactly what a PIL-backed deployment does at this seam. With the
    default ``None`` the deterministic stub runs instead (byte slice +
    proportionally-scaled fake dims) so the Spark-side contract —
    binary-in/binary-out schema, Arrow batch shape, size reduction — stays
    testable without any codec."""
    import pandas as pd

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.png import (
            encode_png,
            resize_nearest,
        )

        for pdf in batches:
            if decode_fn is not None:
                ids, thumbs, tws, ths = [], [], [], []
                for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                    w, h, ch, rows = decode_fn(payload)
                    tw, th, trows = resize_nearest(w, h, ch, rows, max_dim)
                    ids.append(mid)
                    thumbs.append(encode_png(trows, channels=ch))
                    tws.append(tw)
                    ths.append(th)
                yield pd.DataFrame(
                    {
                        "media_id": ids,
                        "thumb": thumbs,
                        "thumb_width": tws,
                        "thumb_height": ths,
                    }
                )
                continue
            n = pdf["payload"].map(len)
            w = n % FAKE_W_MOD + FAKE_DIM_OFF
            h = n // FAKE_H_DIV % FAKE_H_MOD + FAKE_DIM_OFF
            scale = (max_dim / pd.concat([w, h], axis=1).max(axis=1)).clip(upper=1.0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "thumb": pdf["payload"].map(lambda b: b[: max_dim * max_dim // 8]),
                    "thumb_width": (w * scale).astype("int64"),
                    "thumb_height": (h * scale).astype("int64"),
                }
            )

    return df.mapInPandas(resize, schema=RESIZE_SCHEMA)


FRAMES_SCHEMA = "media_id long, frame_idx long, frame binary"


def sample_frames(df: DataFrame, every_n_bytes: int = 256, max_frames: int = 8) -> DataFrame:
    """Frame-sampling stage: one payload row -> up to ``max_frames`` frame
    rows (fan-out inside mapInPandas — the video-decode batch shape).

    The real implementation seeks keyframes (pyav/ffmpeg). STUB: fixed-stride
    byte windows stand in for frames; row fan-out, ordering column, and
    binary schema are the real contract."""
    import pandas as pd

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_frames = min(max(len(payload) // every_n_bytes, 1), max_frames)
                for i in range(n_frames):
                    ids.append(mid)
                    idxs.append(i)
                    blobs.append(payload[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": blobs})

    return df.mapInPandas(frames, schema=FRAMES_SCHEMA)


AUDIO_FRAME_SCHEMA = "media_id long, frame_idx long, n_samples long, energy long, peak long"
_AUDIO_CENTER = 64  # u8 midpoint for the ASCII-payload stand-in


def audio_frame_features(
    df: DataFrame,
    frame_bytes: int = 32,
    max_frames: int = 4,
    decode_fn=None,
) -> DataFrame:
    """mapInPandas audio stage: (media_id, payload) -> per-frame energy /
    peak rows — the frame-level feature extraction an audio curation
    pipeline runs before VAD/quality gating, with the same plumbing
    contract as the image stages: payload stays in the Arrow batch, only
    typed features return to the JVM, one row per (media, frame).

    ``decode_fn`` is the REAL-CODEC SEAM (``bytes -> sequence[int]`` PCM
    samples — where ``audioop``/``soundfile`` plugs in). The default
    treats the payload as unsigned 8-bit PCM (1 byte = 1 sample), which
    makes the harness's utf-8 stand-in payload fully oracle-computable:
    energy = Σ (b-64)², peak = max |b-64| per ``frame_bytes`` window,
    first ``max_frames`` frames, trailing partial frame kept. All integer
    arithmetic — engine-exact for ASCII payloads where DuckDB's
    ``unicode()`` equals the byte value.
    """
    import pandas as pd

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, ns, energies, peaks = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples = (
                    list(payload) if decode_fn is None else list(decode_fn(payload))
                )
                for fi in range(min(max_frames, -(-len(samples) // frame_bytes))):
                    fr = samples[fi * frame_bytes : (fi + 1) * frame_bytes]
                    dev = [s - _AUDIO_CENTER for s in fr]
                    ids.append(mid)
                    idxs.append(fi)
                    ns.append(len(fr))
                    energies.append(sum(d * d for d in dev))
                    peaks.append(max(abs(d) for d in dev))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "n_samples": ns,
                    "energy": energies,
                    "peak": peaks,
                }
            )

    return df.mapInPandas(frames, schema=AUDIO_FRAME_SCHEMA)


SCENE_CUT_SCHEMA = "media_id long, frame_idx long, mean_u8 long, is_cut boolean"


def scene_cuts(
    df: DataFrame,
    frame_bytes: int = 64,
    threshold: int = 8,
    max_frames: int = 8,
    decode_fn=None,
) -> DataFrame:
    """mapInPandas video stage: (media_id, payload) -> per-frame mean
    intensity + scene-cut flags — the shot-boundary detection a video
    curation pipeline runs before frame sampling (a cut = adjacent-frame
    intensity jump above ``threshold``; real systems use histogram
    deltas, same plumbing).

    ``decode_fn`` is the real-codec seam (``bytes -> sequence[int]``
    per-frame intensity samples — where ffmpeg plugs in). The default
    reads the payload as u8 "pixels" in ``frame_bytes`` windows. Frame
    mean is integer floor division (non-negative); frame 0 is never a
    cut. Same contract as the other media stages: payload never leaves
    the Arrow batch, only typed rows return.

    ASCII-payload assumption (same caveat as audio_frame_features): the
    default decode windows over UTF-8 *bytes*, while the mm5 catalog
    oracle windows over per-character codepoints (substr/unicode) —
    frame boundaries and means agree only while payloads are ASCII
    (one byte == one codepoint). A non-ASCII corpus must supply a
    ``decode_fn`` (or the oracle must window bytewise) or the mm5 hash
    gate silently diverges."""
    import pandas as pd

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, means, cuts = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples = (
                    list(payload) if decode_fn is None else list(decode_fn(payload))
                )
                prev = None
                for fi in range(min(max_frames, -(-len(samples) // frame_bytes))):
                    fr = samples[fi * frame_bytes : (fi + 1) * frame_bytes]
                    m = sum(fr) // len(fr)
                    ids.append(mid)
                    idxs.append(fi)
                    means.append(m)
                    cuts.append(prev is not None and abs(m - prev) > threshold)
                    prev = m
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "mean_u8": means,
                    "is_cut": cuts,
                }
            )

    return df.mapInPandas(frames, schema=SCENE_CUT_SCHEMA)


# Deterministic synthetic PCM: clip length and per-sample values derive
# from the id alone — the audio twin of the SYNTH_* raster above. Single
# source of truth for synth_pcm_wav below and the MM7 oracle SQL
# (catalog_media builds the SQL from these constants):
# n = N_BASE + id % N_MOD, s(id, i) = (id*13 + i*7) % 2048 - 1024.
SYNTH_N_BASE, SYNTH_N_MOD = 800, 257


def synth_pcm_wav(df: DataFrame, id_col: str) -> DataFrame:
    """(media_id, payload) with payload a REAL mono 16-bit PCM WAV
    (multimodal/wavpcm.py encoder) of the deterministic waveform above —
    the harness source for sample-level audio stages in an environment
    with no audio corpus: every downstream number is independently
    recomputable from the id."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                n = SYNTH_N_BASE + mid % SYNTH_N_MOD
                ids.append(mid)
                i = np.arange(n, dtype=np.int64)
                blobs.append(encode_wav((mid * 13 + i * 7) % 2048 - 1024))
            yield pd.DataFrame({"media_id": ids, "payload": blobs})

    return df.mapInPandas(gen, schema="media_id long, payload binary")


CLIP_STATS_SCHEMA = (
    "media_id long, n_samples long, energy long, min_s long, max_s long, "
    "zero_cross long"
)

#: quarantine face: stats become nullable, plus a per-record verdict —
#: at 100 TB one corrupt container must cost one row, not a 10-hour job
QUARANTINED_CLIP_SCHEMA = (
    CLIP_STATS_SCHEMA + ", decode_ok long, decode_err string"
)


def wav_clip_stats(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """(media_id, payload) -> per-clip PCM statistics via a FULL
    :func:`wavpcm.decode_wav_np` container parse inside the Arrow batch:
    sample count, integer energy (sum of squares), min/max amplitude and
    zero-crossing count — the silence/clipping/voicing triage numbers an
    audio-curation pipeline gates on before any expensive featurizer.
    All-integer arithmetic, so results are engine-exact for an oracle that
    knows the source samples. Payload never returns to the JVM.

    ``on_error``: ``"raise"`` (default — a codec surprise fails the task;
    right for the deterministic gate) or ``"quarantine"`` — per-record
    try/except inside the Arrow batch routes bad payloads to
    (decode_ok=0, decode_err) rows with NULL stats instead of killing the
    job: the production posture for web-crawled media, where some percent
    of containers is ALWAYS malformed. The same wrapper shape applies to
    any decode stage in this module. Empty-but-valid clips are data, not
    errors: zero counts, NULL min/max, either mode."""
    import pandas as pd

    quarantine = on_error == "quarantine"

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.wavpcm import decode_wav_np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    # int64 throughout: energy = exact integer dot;
                    # zero_cross counts sign flips between neighbors
                    _, a = decode_wav_np(bytes(payload))
                    nz = bool(a.size)
                    rec = {
                        "media_id": mid,
                        "n_samples": int(a.size),
                        "energy": int(a @ a),
                        "min_s": int(a.min()) if nz else None,
                        "max_s": int(a.max()) if nz else None,
                        "zero_cross": int(((a[:-1] >= 0) != (a[1:] >= 0)).sum()),
                        "decode_ok": 1,
                        "decode_err": None,
                    }
                except Exception as e:  # noqa: BLE001 — quarantine boundary
                    if not quarantine:
                        raise
                    rec = {
                        "media_id": mid,
                        "n_samples": None,
                        "energy": None,
                        "min_s": None,
                        "max_s": None,
                        "zero_cross": None,
                        "decode_ok": 0,
                        "decode_err": f"{type(e).__name__}: {e}",
                    }
                rows.append(rec)
            cols = [
                "media_id",
                "n_samples",
                "energy",
                "min_s",
                "max_s",
                "zero_cross",
            ] + (["decode_ok", "decode_err"] if quarantine else [])
            yield pd.DataFrame(
                {c: [r[c] for r in rows] for c in cols}
            )

    return df.mapInPandas(
        stats,
        schema=QUARANTINED_CLIP_SCHEMA if quarantine else CLIP_STATS_SCHEMA,
    )


TRIM_BOUNDS_SCHEMA = (
    "media_id long, n_samples long, first_loud long, last_loud long, "
    "n_trimmed long, kept_energy long"
)


def wav_trim_bounds(df: DataFrame, threshold: int = 128) -> DataFrame:
    """(media_id, payload) -> leading/trailing low-amplitude trim points
    via a FULL :func:`wavpcm.decode_wav_np` parse: first_loud / last_loud
    are the first and last sample indices with |s| >= ``threshold``,
    n_trimmed the samples a trim would drop, kept_energy the integer
    energy of the retained span — the silence-trimming stage an
    audio-curation pipeline runs before windowed featurizers so padding
    doesn't dilute frame statistics. A clip with NO loud sample reports
    NULL bounds and n_trimmed = n_samples (all padding).

    All-integer arithmetic on the decoded samples -> engine-exact for an
    oracle that knows the source waveform. Payload stays in the batch."""
    import pandas as pd

    def bounds(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.wavpcm import decode_wav_np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # int64 abs (no int16 |−32768| overflow), nonzero for the
                # first/last loud index, exact integer dot for the
                # kept-span energy
                _, a = decode_wav_np(bytes(payload))
                (loud_idx,) = np.nonzero(np.abs(a) >= threshold)
                n = int(a.size)
                if loud_idx.size:
                    lo, hi = int(loud_idx[0]), int(loud_idx[-1])
                    kept = a[lo : hi + 1]
                    rec = (mid, n, lo, hi, lo + (n - 1 - hi), int(kept @ kept))
                else:
                    rec = (mid, n, None, None, n, None)
                rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_samples",
                    "first_loud",
                    "last_loud",
                    "n_trimmed",
                    "kept_energy",
                ],
            )

    return df.mapInPandas(bounds, schema=TRIM_BOUNDS_SCHEMA)


def wav_downsample(df: DataFrame, factor: int = 4) -> DataFrame:
    """(media_id, payload) -> (media_id, payload) with the clip
    downsampled by ``factor`` via block means — the decimation-with-
    anti-alias-box-filter stage every audio-ingest pipeline runs to
    normalize heterogeneous sample rates before featurization.

    A REAL decode -> resample -> re-encode loop inside the Arrow batch
    (wavpcm.py both directions): block j of the output is
    ``floor(mean(samples[j*factor : (j+1)*factor]))`` over FULL blocks
    only (a trailing partial block is dropped — deterministic, and what a
    fixed-hop resampler does). Python's ``//`` floors negative sums the
    same way both engines' ``floor(x / f)`` does, so an oracle that knows
    the source samples reproduces the output exactly. The payload stays
    binary-in/binary-out, so downstream stages (wav_clip_stats) compose —
    proving the container crosses TWO stage boundaries intact."""
    import pandas as pd

    def ds(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.wavpcm import (
            decode_wav_np,
            encode_wav,
        )

        for pdf in batches:
            ids, blobs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # full blocks only (truncate), int64 block sums; numpy //
                # floors negative block sums exactly as Python does
                rate, a = decode_wav_np(bytes(payload))
                nb = a.size // factor
                out = a[: nb * factor].reshape(nb, factor).sum(axis=1) // factor
                ids.append(mid)
                blobs.append(encode_wav(out, sample_rate=rate // factor))
            yield pd.DataFrame({"media_id": ids, "payload": blobs})

    return df.mapInPandas(ds, schema="media_id long, payload binary")


def patch_grid(meta: DataFrame, patch: int = 4) -> DataFrame:
    """ViT-style patch tiling from decoded image metadata: one row per
    ``patch x patch`` tile of each image, with the tile's pixel offset
    and its (edge-clipped) actual extent — the tensorization layout
    vision-transformer preprocessing emits before pixel gather.

    Input is :func:`decode_media_metadata` output (media_id, width,
    height, ...): the grid derives from HEADER dims only, so the
    payload never re-enters the plan — tiling a 100 TB image corpus is
    a metadata-sized job (rows = images x patches, no pixels moved until
    a downstream gather stage uses the offsets). Pure built-in
    arithmetic + one explode; no Python in the loop.

    Columns: media_id, n_x, n_y (grid shape, ceil-divided), patch_id
    (row-major), px0/py0 (origin), pw/ph (clipped extent)."""
    nx = F.floor((F.col("width") + patch - 1) / patch).cast("long")
    ny = F.floor((F.col("height") + patch - 1) / patch).cast("long")
    g = meta.select(
        "media_id",
        "width",
        "height",
        nx.alias("n_x"),
        ny.alias("n_y"),
    ).withColumn(
        "patch_id",
        F.explode(F.sequence(F.lit(0), (F.col("n_x") * F.col("n_y")) - 1)),
    )
    px0 = (F.col("patch_id") % F.col("n_x")) * patch
    py0 = F.floor(F.col("patch_id") / F.col("n_x")).cast("long") * patch
    return g.select(
        "media_id",
        "n_x",
        "n_y",
        F.col("patch_id").cast("long").alias("patch_id"),
        px0.cast("long").alias("px0"),
        py0.cast("long").alias("py0"),
        F.least(F.lit(patch), F.col("width") - px0).cast("long").alias("pw"),
        F.least(F.lit(patch), F.col("height") - py0).cast("long").alias("ph"),
    )


def patch_ahash(df: DataFrame, patch: int = 4) -> DataFrame:
    """Patch-level average-hash fingerprint through the REAL pixel
    decode: one mapInPandas stage decodes each payload, tiles it with
    the SAME ceil-divided grid as :func:`patch_grid`, and emits

        bit(tile) = 1  iff  tile_mean >= image_mean   (floored ints)
        fingerprint = sum(bit << patch_id)            (row-major ids)

    i.e. the classic aHash coarsened to the ViT tile grid. Grouping a
    corpus by (width, height, fingerprint) finds visually-duplicate
    images whose BYTES differ (re-encodes, metadata edits) — the
    multimodal analogue of text near-dup dedupe, and the piece exact
    payload-hash dedupe structurally misses. All arithmetic is integer
    (sum // count), so an oracle that knows the source pixels reproduces
    every fingerprint exactly.

    Scale shape: pixels stay inside the Arrow batch; only (media_id, w,
    h, fingerprint, n_tiles) leaves Python, and the dedupe groupBy
    shuffles that metadata-sized table — never payload bytes."""
    import pandas as pd

    def hash_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "fingerprint": [], "n_tiles": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ch, rows = decode_image(bytes(payload))
                flat = [v for r in rows for v in r]
                img_mean = sum(flat) // len(flat)
                nx = (w + patch - 1) // patch
                ny = (h + patch - 1) // patch
                fp = 0
                for ty in range(ny):
                    for tx in range(nx):
                        vals = [
                            rows[y][x * ch + c]
                            for y in range(ty * patch, min(h, (ty + 1) * patch))
                            for x in range(tx * patch, min(w, (tx + 1) * patch))
                            for c in range(ch)
                        ]
                        if sum(vals) // len(vals) >= img_mean:
                            fp |= 1 << (ty * nx + tx)
                out["media_id"].append(int(mid))
                out["width"].append(w)
                out["height"].append(h)
                out["fingerprint"].append(fp)
                out["n_tiles"].append(nx * ny)
            yield pd.DataFrame(out)

    return df.mapInPandas(
        hash_batch,
        schema="media_id long, width long, height long, "
        "fingerprint long, n_tiles long",
    )


def wav_frame_zcr(df: DataFrame, frame: int = 160) -> DataFrame:
    """Frame-level zero-crossing rate + energy through the REAL WAV
    decode — the classic voiced/unvoiced (speech vs tone vs silence)
    front-end feature pair, computed per ``frame``-sample window:

        zcr    = #(i in frame, i+1 in frame : s_i * s_{i+1} < 0)
        energy = sum(s_i^2)   (exact int64 — samples are 16-bit)

    vs mm4's audio_frame_features, which frames a TEXT stand-in payload:
    this stage decodes genuine RIFF/PCM bytes (multimodal/wavpcm.py), so
    the oracle must reproduce the codec round-trip from the synth_pcm_wav
    sample formula. Crossings are counted WITHIN frames only (the
    boundary pair belongs to neither frame — the convention the oracle
    mirrors); a zero sample never crosses (s_i * s_{i+1} < 0 is strict).

    Pixels/samples stay inside the Arrow batch; only (media_id, frame_id,
    n_samples, zcr, energy) rows leave Python."""
    import pandas as pd

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from bioeco_portal_etl_spark.multimodal.wavpcm import decode_wav

        for pdf in batches:
            out = {"media_id": [], "frame_id": [], "n_samples": [],
                   "zcr": [], "energy": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _, samples = decode_wav(bytes(payload))
                for f0 in range(0, len(samples), frame):
                    chunk = samples[f0 : f0 + frame]
                    zcr = sum(
                        1
                        for i in range(len(chunk) - 1)
                        if chunk[i] * chunk[i + 1] < 0
                    )
                    out["media_id"].append(int(mid))
                    out["frame_id"].append(f0 // frame)
                    out["n_samples"].append(len(chunk))
                    out["zcr"].append(zcr)
                    out["energy"].append(sum(s * s for s in chunk))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        feats,
        schema="media_id long, frame_id long, n_samples long, "
        "zcr long, energy long",
    )

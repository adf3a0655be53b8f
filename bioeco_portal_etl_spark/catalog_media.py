"""Multimodal catalog entries (mm*): PNG / JPEG / WAV decode, round trips,
resizes, histograms, perceptual hashes and frame features, run inside
mapInPandas tasks (multimodal/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.multimodal.media import (
    FAKE_DIM_OFF,
    FAKE_H_DIV,
    FAKE_H_MOD,
    FAKE_W_MOD,
    attach_payload,
    decode_media_metadata,
)
from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


def mm1_media_metadata(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return decode_media_metadata(attach_payload(d, "doc_id", "text")).orderBy(
        "media_id"
    )


def mm2_resize_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Resize stage metadata (multimodal/media.py resize_media): the
    binary-in/binary-out mapInPandas contract under the driver gate. The
    stub's thumbnail is a deterministic payload slice with proportionally
    scaled dims, so byte counts and dims are oracle-computable; the blob
    itself stays executor-side (only its length crosses back)."""
    from bioeco_portal_etl_spark.multimodal.media import resize_media

    d = T(spark, sf, "documents")
    r = resize_media(attach_payload(d, "doc_id", "text"), max_dim=64)
    return r.select(
        "media_id",
        F.length("thumb").cast("long").alias("thumb_bytes"),
        "thumb_width",
        "thumb_height",
    ).orderBy("media_id")


MM2_SQL = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
),
d AS (
  SELECT media_id, n, n % {FAKE_W_MOD} + {FAKE_DIM_OFF} AS w,
         (n // {FAKE_H_DIV})::BIGINT % {FAKE_H_MOD} + {FAKE_DIM_OFF} AS h
  FROM m
)
SELECT media_id, least(n, 512)::BIGINT AS thumb_bytes,
       floor(w * least(64.0 / greatest(w, h), 1.0))::BIGINT AS thumb_width,
       floor(h * least(64.0 / greatest(w, h), 1.0))::BIGINT AS thumb_height
FROM d ORDER BY media_id
"""


MM1_SQL = f"""
SELECT doc_id AS media_id,
       octet_length(encode(coalesce(text, ''))) AS n_bytes,
       octet_length(encode(coalesce(text, ''))) % {FAKE_W_MOD} + {FAKE_DIM_OFF} AS width,
       (octet_length(encode(coalesce(text, ''))) // {FAKE_H_DIV})::BIGINT % {FAKE_H_MOD} + {FAKE_DIM_OFF} AS height,
       'fake-rgb' AS media_format
FROM documents ORDER BY media_id
"""


def mm3_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling stage (multimodal/media.py sample_frames) under the
    driver gate: ONE payload row fans out to up to 8 ordered frame rows
    inside mapInPandas — the video-decode batch shape (row fan-out +
    ordering column + binary schema). The oracle recomputes the frame
    COUNT and per-frame byte LENGTHS from first principles (DuckDB's md5
    is VARCHAR-only, so blob content equality is pinned byte-for-byte in
    tests/test_multimodal.py instead); the frame blobs themselves never
    cross to the driver."""
    from bioeco_portal_etl_spark.multimodal.media import sample_frames

    d = T(spark, sf, "documents")
    fr = sample_frames(attach_payload(d, "doc_id", "text"), every_n_bytes=256,
                       max_frames=8)
    return fr.select(
        "media_id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_bytes"),
    ).orderBy("media_id", "frame_idx")


MM3_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
),
f AS (
  SELECT media_id, n,
         unnest(range(least(greatest(n // 256, 1), 8))) AS frame_idx
  FROM m
)
SELECT media_id, frame_idx,
       greatest(least(n - frame_idx * 256, 256), 0)::BIGINT AS frame_bytes
FROM f ORDER BY media_id, frame_idx
"""


# ---------------------------------------------------------------------------
# mm4 — audio frame features through the Arrow media path
# ---------------------------------------------------------------------------


def mm4_audio_energy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-frame energy/peak over the binary payload treated as u8 PCM
    (multimodal/media.py audio_frame_features): mapInPandas frame
    windows, first 4 frames of 32 samples. The utf-8 payload is ASCII in
    the harness tables, so DuckDB recomputes the exact integers from code
    points without touching bytes."""
    from bioeco_portal_etl_spark.multimodal.media import (
        attach_payload,
        audio_frame_features,
    )

    d = T(spark, sf, "documents")
    media = attach_payload(d, "doc_id", "text")
    return audio_frame_features(media, frame_bytes=32, max_frames=4).orderBy(
        "media_id", "frame_idx"
    )


MM4_SQL = """
WITH f AS (
  SELECT doc_id AS media_id,
         unnest(range(0, least(4, (length(text) + 31) // 32))) AS frame_idx,
         text
  FROM documents
),
sub AS (
  SELECT media_id, frame_idx,
         list_transform(
           range(1, length(substr(text, CAST(frame_idx * 32 + 1 AS INT), 32)) + 1),
           j -> unicode(substr(substr(text, CAST(frame_idx * 32 + 1 AS INT), 32), CAST(j AS INT), 1)) - 64
         ) AS dev
  FROM f
)
SELECT media_id, frame_idx,
       len(dev) AS n_samples,
       CAST(list_sum(list_transform(dev, d -> d * d)) AS BIGINT) AS energy,
       list_max(list_transform(dev, d -> abs(d))) AS peak
FROM sub
ORDER BY media_id, frame_idx
"""


# ---------------------------------------------------------------------------
# mm5 — video scene-cut detection
# ---------------------------------------------------------------------------


def mm5_scene_cuts(spark: SparkSession, sf: str) -> DataFrame:
    """Shot-boundary flags over the payload as u8 frames
    (multimodal/media.py scene_cuts): per-frame integer mean + lag
    delta, mapInPandas, first 8 frames of 64 bytes."""
    from bioeco_portal_etl_spark.multimodal.media import (
        attach_payload,
        scene_cuts,
    )

    d = T(spark, sf, "documents")
    media = attach_payload(d, "doc_id", "text")
    return scene_cuts(media, frame_bytes=64, threshold=8, max_frames=8).orderBy(
        "media_id", "frame_idx"
    )


MM5_SQL = """
WITH f AS (
  SELECT doc_id AS media_id,
         unnest(range(0, least(8, (length(text) + 63) // 64))) AS frame_idx,
         text
  FROM documents
),
m AS (
  SELECT media_id, frame_idx,
         (list_sum(list_transform(
            range(1, length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) + 1),
            j -> unicode(substr(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64), CAST(j AS INT), 1))
          )) // length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)))::BIGINT
           AS mean_u8
  FROM f
),
lagged AS (
  SELECT media_id, frame_idx, mean_u8,
         lag(mean_u8) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
  FROM m
)
SELECT media_id, frame_idx, mean_u8,
       coalesce(abs(mean_u8 - prev) > 8, FALSE) AS is_cut
FROM lagged ORDER BY media_id, frame_idx
"""


# ---------------------------------------------------------------------------
# mm6 — PNG codec round-trip proven by pixel statistics
# ---------------------------------------------------------------------------


def mm6_png_channel_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-channel pixel stats through the REAL codec: deterministic RGB
    gradients are encoded to genuine PNG bytes (multimodal/png.py) in one
    mapInPandas stage, then fully DECODED (inflate + filter
    reconstruction) and reduced to (n_px, floor-mean, min, max) per
    channel in a second — a binary column crossing a stage boundary, like
    a real image pipeline. The oracle recomputes the same numbers from the
    pixel FORMULA with pure SQL arithmetic; matching hashes prove
    encode->decode is the identity on every byte that matters."""
    from bioeco_portal_etl_spark.multimodal.media import (
        png_channel_stats,
        synth_rgb_png,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    return png_channel_stats(synth_rgb_png(ids, "doc_id")).orderBy(
        "media_id", "channel"
    )


def _mm6_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id,
         {SYNTH_W_BASE} + doc_id % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + doc_id % {SYNTH_H_MOD} AS h
  FROM ids
),
xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
cs AS (SELECT doc_id, x, y, unnest([0, 1, 2]) AS c FROM ys),
px AS (
  SELECT doc_id, c AS channel,
         (doc_id * 7 + x * 3 + y * 5 + c * 11) % 256 AS v
  FROM cs
)
SELECT doc_id AS media_id, channel,
       count(*)::BIGINT AS n_px,
       CAST(sum(v) // count(*) AS BIGINT) AS mean_v,
       min(v)::BIGINT AS min_v,
       max(v)::BIGINT AS max_v
FROM px
GROUP BY doc_id, channel
ORDER BY media_id, channel"""


# ---------------------------------------------------------------------------
# mm7 — WAV codec round-trip proven by clip statistics
# ---------------------------------------------------------------------------


def mm7_wav_clip_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Silence/clipping/voicing triage stats through the REAL audio codec:
    deterministic sawtooth PCM is encoded to genuine RIFF/WAVE bytes
    (multimodal/wavpcm.py) in one mapInPandas stage, then fully parsed
    back and reduced to (n_samples, energy, min, max, zero-crossings) in a
    second — a binary column crossing a stage boundary, like a real audio
    pipeline. The oracle recomputes the same numbers from the sample
    FORMULA with pure SQL arithmetic; matching hashes prove encode->decode
    is the identity on every sample."""
    from bioeco_portal_etl_spark.multimodal.media import (
        synth_pcm_wav,
        wav_clip_stats,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 500)
    )
    return wav_clip_stats(synth_pcm_wav(ids, "doc_id")).orderBy("media_id")


def _mm7_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 500),
idx AS (
  SELECT doc_id,
         unnest(range(0, {SYNTH_N_BASE} + doc_id % {SYNTH_N_MOD})) AS i
  FROM ids
),
smp AS (
  SELECT doc_id, i, (doc_id * 13 + i * 7) % 2048 - 1024 AS s FROM idx
),
lagd AS (
  SELECT doc_id, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS p
  FROM smp
)
SELECT doc_id AS media_id,
       count(*)::BIGINT AS n_samples,
       sum(s * s)::BIGINT AS energy,
       min(s)::BIGINT AS min_s,
       max(s)::BIGINT AS max_s,
       sum(CASE WHEN p IS NOT NULL AND ((s >= 0) <> (p >= 0))
                THEN 1 ELSE 0 END)::BIGINT AS zero_cross
FROM lagd
GROUP BY doc_id
ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm8 — perceptual hash through the real PNG codec
# ---------------------------------------------------------------------------


def mm8_phash_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Average-hash of every synthetic image through the REAL PNG
    encode->decode path (multimodal/phash.py ahash), plus each image's
    exact-duplicate group size. The oracle recomputes the 16-bit hash
    from the pixel FORMULA in pure SQL — integer block means and strict
    thresholds, so a hash match proves the decode AND the grid math.
    Near-dup pair mining over these hashes is phash_near_pairs (banded;
    pytest-pinned against brute force — the synthetic gradient corpus
    collapses to few distinct hashes, so the pair list is not a useful
    gate surface, but group sizes are)."""
    from bioeco_portal_etl_spark.multimodal.media import synth_rgb_png
    from bioeco_portal_etl_spark.multimodal.phash import (
        ahash,
        phash_dup_groups,
    )

    ids = (
        T(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    )
    hashed = ahash(synth_rgb_png(ids, "doc_id"))
    return phash_dup_groups(hashed).orderBy("media_id")


def _mm8_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id AS mid FROM documents WHERE doc_id < 200),
dims AS (
  SELECT mid, {SYNTH_W_BASE} + mid % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + mid % {SYNTH_H_MOD} AS h
  FROM ids
),
xs AS (SELECT mid, w, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT mid, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (
  SELECT mid, w, h,
         (y * 4) // h AS by, (x * 4) // w AS bx,
         ((mid * 7 + x * 3 + y * 5) % 256
          + (mid * 7 + x * 3 + y * 5 + 11) % 256
          + (mid * 7 + x * 3 + y * 5 + 22) % 256) // 3 AS g
  FROM ys
),
blk AS (
  SELECT mid, by, bx, sum(g) // count(*) AS bm
  FROM px GROUP BY mid, by, bx
),
thr AS (SELECT mid, sum(bm) // 16 AS t FROM blk GROUP BY mid),
hsh AS (
  SELECT b.mid,
         sum(CASE WHEN b.bm > thr.t
             THEN (1::BIGINT << (b.by * 4 + b.bx)) ELSE 0 END)::BIGINT
           AS phash
  FROM blk b JOIN thr ON b.mid = thr.mid GROUP BY b.mid
)
SELECT h.mid AS media_id, d.w::BIGINT AS width, d.h::BIGINT AS height,
       h.phash,
       count(*) OVER (PARTITION BY h.phash)::BIGINT AS group_n
FROM hsh h JOIN dims d ON h.mid = d.mid
ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm9 — audio decimation through two codec round-trips
# ---------------------------------------------------------------------------

_MM9_FACTOR = 4


def mm9_wav_downsample(spark: SparkSession, sf: str) -> DataFrame:
    """Decimate every synthetic clip by {f}x (block means through the
    REAL WAV codec, multimodal/media.py wav_downsample) and re-run the
    clip-stats stage on the resampled container — the payload survives
    synth -> downsample -> stats across two Arrow boundaries, and the
    oracle recomputes every number from the sample formula."""
    from bioeco_portal_etl_spark.multimodal.media import (
        synth_pcm_wav,
        wav_clip_stats,
        wav_downsample,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 500)
    )
    return wav_clip_stats(
        wav_downsample(synth_pcm_wav(ids, "doc_id"), factor=_MM9_FACTOR)
    ).orderBy("media_id")


mm9_wav_downsample.__doc__ = mm9_wav_downsample.__doc__.format(f=_MM9_FACTOR)


def _mm9_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
    )

    f = _MM9_FACTOR
    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 500),
idx AS (
  SELECT doc_id,
         unnest(range(0, ({SYNTH_N_BASE} + doc_id % {SYNTH_N_MOD}) // {f}))
           AS j
  FROM ids
),
blk AS (
  SELECT doc_id, j,
         CAST(floor(CAST(list_reduce(list_transform(range(0, {f}),
                t -> (doc_id * 13 + (j * {f} + t) * 7) % 2048 - 1024),
              (a, b) -> a + b) AS DOUBLE) / {f}) AS BIGINT) AS s
  FROM idx
),
lagd AS (
  SELECT doc_id, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS p
  FROM blk
)
SELECT doc_id AS media_id,
       count(*)::BIGINT AS n_samples,
       sum(s * s)::BIGINT AS energy,
       min(s)::BIGINT AS min_s,
       max(s)::BIGINT AS max_s,
       sum(CASE WHEN p IS NOT NULL AND ((s >= 0) <> (p >= 0))
                THEN 1 ELSE 0 END)::BIGINT AS zero_cross
FROM lagd
GROUP BY doc_id
ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm10 — ViT patch tiling from real header decode
# ---------------------------------------------------------------------------

_MM10_PATCH = 4


def mm10_patch_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Patch-tile layout for every synthetic PNG (doc_id < 120): dims
    come off the REAL png header parser riding the decode_fn seam, the
    grid/offset arithmetic is pure built-ins + one explode — tiling is a
    metadata-sized job; pixels move only in a downstream gather."""
    from bioeco_portal_etl_spark.multimodal.media import (
        decode_media_metadata,
        patch_grid,
        synth_rgb_png,
    )
    from bioeco_portal_etl_spark.multimodal.png import png_header_fn

    ids = (
        T(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") < 120)
    )
    meta = decode_media_metadata(
        synth_rgb_png(ids, "doc_id"), decode_fn=png_header_fn
    )
    return patch_grid(meta, patch=_MM10_PATCH).orderBy("media_id", "patch_id")


def _mm10_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    p = _MM10_PATCH
    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id,
         {SYNTH_W_BASE} + doc_id % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + doc_id % {SYNTH_H_MOD} AS h
  FROM ids
),
g AS (
  SELECT doc_id, w, h,
         (w + {p - 1}) // {p} AS nx, (h + {p - 1}) // {p} AS ny
  FROM dims
),
t AS (SELECT doc_id, w, h, nx, ny, unnest(range(0, nx * ny)) AS pid FROM g)
SELECT doc_id AS media_id, nx::BIGINT AS n_x, ny::BIGINT AS n_y,
       pid::BIGINT AS patch_id,
       ((pid % nx) * {p})::BIGINT AS px0,
       ((pid // nx) * {p})::BIGINT AS py0,
       least({p}, w - (pid % nx) * {p})::BIGINT AS pw,
       least({p}, h - (pid // nx) * {p})::BIGINT AS ph
FROM t ORDER BY media_id, patch_id"""


# ---------------------------------------------------------------------------
# mm11 — patch-hash duplicate image groups
# ---------------------------------------------------------------------------


def mm11_patch_dupes(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-image groups by patch-level average-hash: 240 synthetic
    PNGs seeded with doc_id % 16 (16 planted duplicate classes), hashed
    through the REAL decode (multimodal/media.py patch_ahash), grouped
    by (width, height, fingerprint). Only hash metadata is shuffled —
    payload bytes never leave the Arrow stage."""
    from bioeco_portal_etl_spark.multimodal.media import (
        patch_ahash,
        synth_rgb_png,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id", (F.col("doc_id") % 16).alias("seed"))
        .filter(F.col("doc_id") < 240)
    )
    hashed = patch_ahash(synth_rgb_png(ids, "doc_id", "seed"), patch=4)
    return (
        hashed.groupBy("width", "height", "fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.min("media_id").cast("long").alias("first_media"),
            F.max("media_id").cast("long").alias("last_media"),
        )
        .orderBy("width", "height", "fingerprint")
    )


def _mm11_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    return f"""
WITH ids AS (
  SELECT doc_id, doc_id % 16 AS seed FROM documents WHERE doc_id < 240
),
seeds AS (SELECT DISTINCT seed FROM ids),
dims AS (
  SELECT seed,
         {SYNTH_W_BASE} + seed % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + seed % {SYNTH_H_MOD} AS h
  FROM seeds
),
xs AS (SELECT seed, w, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT seed, w, h, x, unnest(range(0, h)) AS y FROM xs),
cs AS (SELECT seed, w, h, x, y, unnest([0, 1, 2]) AS c FROM ys),
px AS (
  SELECT seed, w, h, x // 4 AS tx, y // 4 AS ty,
         (w + 3) // 4 AS nx,
         (seed * 7 + x * 3 + y * 5 + c * 11) % 256 AS v
  FROM cs
),
img AS (SELECT seed, sum(v) // count(*) AS img_mean FROM px GROUP BY seed),
tiles AS (
  SELECT seed, any_value(w) AS w, any_value(h) AS h, nx, ty, tx,
         sum(v) // count(*) AS tile_mean
  FROM px GROUP BY seed, nx, ty, tx
),
fp AS (
  SELECT t.seed, any_value(t.w) AS width, any_value(t.h) AS height,
         CAST(sum(CASE WHEN t.tile_mean >= i.img_mean
                       THEN CAST(1 AS BIGINT) << CAST(t.ty * t.nx + t.tx AS INT)
                       ELSE 0 END) AS BIGINT) AS fingerprint
  FROM tiles t JOIN img i ON i.seed = t.seed
  GROUP BY t.seed
)
SELECT fp.width, fp.height, fp.fingerprint,
       count(*)::BIGINT AS n_images,
       min(ids.doc_id)::BIGINT AS first_media,
       max(ids.doc_id)::BIGINT AS last_media
FROM ids JOIN fp ON fp.seed = ids.seed
GROUP BY fp.width, fp.height, fp.fingerprint
ORDER BY width, height, fingerprint"""


# ---------------------------------------------------------------------------
# mm12 — real pixel resize round-trip
# ---------------------------------------------------------------------------

_MM12_MAX_DIM = 5


def mm12_resize_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """Decode -> nearest-neighbor downsample (aspect-preserving, integer
    source indexing) -> PNG re-encode -> decode again, proven by
    per-channel stats of the THUMBNAIL pixels: the full image-transform
    loop a thumbnailing pipeline runs, all through the real stdlib
    codec. The oracle recomputes every resampled pixel from the source
    formula + the same integer index map."""
    from bioeco_portal_etl_spark.multimodal.media import (
        decode_image,
        png_channel_stats,
        resize_media,
        synth_rgb_png,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id", (F.col("doc_id") % 16).alias("seed"))
        .filter(F.col("doc_id") < 200)
    )
    thumbs = resize_media(
        synth_rgb_png(ids, "doc_id", "seed"),
        max_dim=_MM12_MAX_DIM,
        decode_fn=decode_image,
    ).select("media_id", F.col("thumb").alias("payload"))
    return png_channel_stats(thumbs).orderBy("media_id", "channel")


def _mm12_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    m = _MM12_MAX_DIM
    return f"""
WITH ids AS (
  SELECT doc_id, doc_id % 16 AS seed FROM documents WHERE doc_id < 200
),
seeds AS (SELECT DISTINCT seed FROM ids),
dims AS (
  SELECT seed,
         {SYNTH_W_BASE} + seed % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + seed % {SYNTH_H_MOD} AS h
  FROM seeds
),
-- resize_nearest geometry: max dim is always w here (w >= 8 > h <= 8),
-- scale = m / w, out_w = w*m//w = m, out_h = max(h*m//w, 1)
odims AS (
  SELECT seed, w, h, {m} AS out_w,
         greatest((h * {m}) // w, 1) AS out_h
  FROM dims
),
oxs AS (SELECT seed, w, h, out_w, out_h, unnest(range(0, out_w)) AS ox
        FROM odims),
oys AS (SELECT seed, w, h, out_w, out_h, ox, unnest(range(0, out_h)) AS oy
        FROM oxs),
cs AS (SELECT seed, w, h, out_w, out_h, ox, oy, unnest([0, 1, 2]) AS c
       FROM oys),
px AS (
  SELECT seed, c AS channel,
         (seed * 7 + ((ox * w) // out_w) * 3
          + ((oy * h) // out_h) * 5 + c * 11) % 256 AS v
  FROM cs
),
st AS (
  SELECT seed, channel, count(*) AS n_px,
         sum(v) // count(*) AS mean_v, min(v) AS min_v, max(v) AS max_v
  FROM px GROUP BY seed, channel
)
SELECT ids.doc_id AS media_id, st.channel,
       st.n_px::BIGINT AS n_px, st.mean_v::BIGINT AS mean_v,
       st.min_v::BIGINT AS min_v, st.max_v::BIGINT AS max_v
FROM ids JOIN st ON st.seed = ids.seed
ORDER BY media_id, channel"""


# ---------------------------------------------------------------------------
# mm13 — frame-level ZCR through the real WAV codec
# ---------------------------------------------------------------------------


def mm13_frame_zcr(spark: SparkSession, sf: str) -> DataFrame:
    """Frame ZCR + energy for 120 synthetic PCM clips through the real
    RIFF round-trip (multimodal/media.py wav_frame_zcr), 160-sample
    frames."""
    from bioeco_portal_etl_spark.multimodal.media import (
        synth_pcm_wav,
        wav_frame_zcr,
    )

    ids = (
        T(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") < 120)
    )
    return wav_frame_zcr(synth_pcm_wav(ids, "doc_id"), frame=160).orderBy(
        "media_id", "frame_id"
    )


def _mm13_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id, {SYNTH_N_BASE} + doc_id % {SYNTH_N_MOD} AS n FROM ids
),
samples AS (
  SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims
),
vals AS (
  SELECT doc_id, i, i // 160 AS frame_id,
         (doc_id * 13 + i * 7) % 2048 - 1024 AS s,
         CASE WHEN (i + 1) % 160 != 0 AND i + 1 < n
              THEN (doc_id * 13 + (i + 1) * 7) % 2048 - 1024 END AS s_next
  FROM samples
)
SELECT doc_id AS media_id, frame_id,
       count(*)::BIGINT AS n_samples,
       sum(CASE WHEN s * s_next < 0 THEN 1 ELSE 0 END)::BIGINT AS zcr,
       sum(s * s)::BIGINT AS energy
FROM vals GROUP BY doc_id, frame_id
ORDER BY media_id, frame_id"""


# ---------------------------------------------------------------------------
# mm14 — JPEG round-trip channel stats
# ---------------------------------------------------------------------------


def mm14_jpeg_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Pixel stats through the REAL lossy codec: block-constant gray
    tilings are encoded to genuine baseline JPEG bytes and fully decoded
    (Huffman, DC DPCM, dequantize, IDCT, edge-padding crop) before the
    per-channel reduction. All-ones quantization + tile-constant blocks
    make decode(encode(px)) == px exactly (multimodal/jpeg.py docstring
    has the proof), so the oracle recomputes the tile FORMULA with pure
    SQL arithmetic and a hash match certifies the decoder end-to-end."""
    from bioeco_portal_etl_spark.multimodal.media import (
        png_channel_stats,
        synth_gray_jpeg,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 150)
    )
    return png_channel_stats(synth_gray_jpeg(ids, "doc_id")).orderBy(
        "media_id", "channel"
    )


def _mm14_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        JPEG_H_BASE,
        JPEG_H_MOD,
        JPEG_W_BASE,
        JPEG_W_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
dims AS (
  SELECT doc_id,
         {JPEG_W_BASE} + doc_id % {JPEG_W_MOD} AS w,
         {JPEG_H_BASE} + doc_id % {JPEG_H_MOD} AS h
  FROM ids
),
xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
px AS (
  SELECT doc_id,
         (doc_id * 31 + (x // 8) * 7 + (y // 8) * 11) % 256 AS v
  FROM ys
)
SELECT doc_id AS media_id, 0::BIGINT AS channel,
       count(*)::BIGINT AS n_px,
       CAST(sum(v) // count(*) AS BIGINT) AS mean_v,
       min(v)::BIGINT AS min_v,
       max(v)::BIGINT AS max_v
FROM px
GROUP BY doc_id
ORDER BY media_id, channel"""


# ---------------------------------------------------------------------------
# mm15 — WAV silence-trim bounds
# ---------------------------------------------------------------------------


def mm15_wav_silence_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Trim points (first/last |s| >= 128 sample) + retained energy for
    100 synthetic PCM clips through the real RIFF round-trip
    (media.wav_trim_bounds)."""
    from bioeco_portal_etl_spark.multimodal.media import (
        synth_pcm_wav,
        wav_trim_bounds,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 100)
    )
    return wav_trim_bounds(synth_pcm_wav(ids, "doc_id"), threshold=128).orderBy(
        "media_id"
    )


def _mm15_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
dims AS (
  SELECT doc_id, {SYNTH_N_BASE} + doc_id % {SYNTH_N_MOD} AS n FROM ids
),
samples AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims),
vals AS (
  SELECT doc_id, n, i, (doc_id * 13 + i * 7) % 2048 - 1024 AS s
  FROM samples
),
loud AS (
  SELECT doc_id, min(i)::BIGINT AS lo, max(i)::BIGINT AS hi
  FROM vals WHERE abs(s) >= 128 GROUP BY doc_id
),
kept AS (
  SELECT v.doc_id, CAST(sum(v.s * v.s) AS BIGINT) AS ke
  FROM vals v JOIN loud l
    ON l.doc_id = v.doc_id AND v.i BETWEEN l.lo AND l.hi
  GROUP BY v.doc_id
)
SELECT d.doc_id AS media_id, d.n::BIGINT AS n_samples,
       l.lo AS first_loud, l.hi AS last_loud,
       CAST(coalesce(l.lo + (d.n - 1 - l.hi), d.n) AS BIGINT) AS n_trimmed,
       k.ke AS kept_energy
FROM dims d
LEFT JOIN loud l ON l.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm16 — pixel-distribution Gini through the real PNG codec
# ---------------------------------------------------------------------------


def mm16_pixel_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Per-channel distinct-value count, mode, and Gini impurity for 150
    synthetic RGB rasters through the REAL PNG encode->decode
    (multimodal/media.py image_histogram_stats). Gini is rational in
    the histogram counts — integer-exact, no transcendentals."""
    from bioeco_portal_etl_spark.multimodal.media import (
        image_histogram_stats,
        synth_rgb_png,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 150)
    )
    return image_histogram_stats(synth_rgb_png(ids, "doc_id")).orderBy(
        "media_id", "channel"
    )


def _mm16_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
dims AS (
  SELECT doc_id,
         {SYNTH_W_BASE} + doc_id % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + doc_id % {SYNTH_H_MOD} AS h
  FROM ids
),
xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
cs AS (SELECT doc_id, x, y, unnest([0, 1, 2]) AS c FROM ys),
px AS (
  SELECT doc_id, c AS channel,
         (doc_id * 7 + x * 3 + y * 5 + c * 11) % 256 AS v
  FROM cs
),
hist AS (
  SELECT doc_id, channel, v, count(*)::BIGINT AS cnt
  FROM px GROUP BY doc_id, channel, v
),
modes AS (
  SELECT doc_id, channel, v AS mode_v, cnt AS mode_count
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, channel
                                 ORDER BY cnt DESC, v) AS rn
    FROM hist)
  WHERE rn = 1
),
agg AS (
  SELECT doc_id, channel, sum(cnt)::BIGINT AS n_px,
         count(*)::BIGINT AS n_distinct,
         sum(cnt * cnt)::BIGINT AS sq
  FROM hist GROUP BY doc_id, channel
)
SELECT a.doc_id AS media_id, a.channel::BIGINT AS channel, a.n_px,
       a.n_distinct, m.mode_v::BIGINT AS mode_v, m.mode_count,
       CAST(1000000 - (1000000 * a.sq) // (a.n_px * a.n_px) AS BIGINT)
         AS gini_e6
FROM agg a JOIN modes m USING (doc_id, channel)
ORDER BY media_id, channel"""


# ---------------------------------------------------------------------------
# mm17 — JPEG blockiness
# ---------------------------------------------------------------------------


def mm17_jpeg_blockiness(spark: SparkSession, sf: str) -> DataFrame:
    """Boundary-vs-interior horizontal difference mass for 120 synthetic
    tile-constant JPEGs through the real decode: interior pairs land
    inside constant tiles (sum 0 contribution there), grid-boundary
    pairs carry the tile deltas — the oracle recomputes both from the
    tile formula."""
    from bioeco_portal_etl_spark.multimodal.media import (
        jpeg_blockiness,
        synth_gray_jpeg,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 120)
    )
    return jpeg_blockiness(synth_gray_jpeg(ids, "doc_id")).orderBy("media_id")


def _mm17_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        JPEG_H_BASE,
        JPEG_H_MOD,
        JPEG_W_BASE,
        JPEG_W_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id,
         {JPEG_W_BASE} + doc_id % {JPEG_W_MOD} AS w,
         {JPEG_H_BASE} + doc_id % {JPEG_H_MOD} AS h
  FROM ids
),
xs AS (SELECT doc_id, h, w, unnest(range(0, w - 1)) AS x FROM dims),
ys AS (SELECT doc_id, w, x, unnest(range(0, h)) AS y FROM xs),
pairs AS (
  SELECT doc_id,
         CASE WHEN (x + 1) % 8 = 0 THEN 1 ELSE 0 END AS is_boundary,
         abs(((doc_id * 31 + (x // 8) * 7 + (y // 8) * 11) % 256)
             - ((doc_id * 31 + ((x + 1) // 8) * 7 + (y // 8) * 11) % 256))
           AS d
  FROM ys
)
SELECT doc_id AS media_id,
       sum(is_boundary)::BIGINT AS n_boundary,
       sum(CASE WHEN is_boundary = 1 THEN d ELSE 0 END)::BIGINT
         AS boundary_abs_sum,
       sum(1 - is_boundary)::BIGINT AS n_interior,
       sum(CASE WHEN is_boundary = 0 THEN d ELSE 0 END)::BIGINT
         AS interior_abs_sum
FROM pairs GROUP BY doc_id ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm18 — loudness gain normalization
# ---------------------------------------------------------------------------


def mm18_gain_normalization(spark: SparkSession, sf: str) -> DataFrame:
    """Gain-to-target-RMS (e4) + would-clip counts for 100 synthetic
    PCM clips through the real RIFF round-trip
    (multimodal/media.py wav_gain_normalization, target RMS 500)."""
    from bioeco_portal_etl_spark.multimodal.media import (
        synth_pcm_wav,
        wav_gain_normalization,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 100)
    )
    return wav_gain_normalization(
        synth_pcm_wav(ids, "doc_id"), target_rms=500
    ).orderBy("media_id")


def _mm18_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
dims AS (
  SELECT doc_id, {SYNTH_N_BASE} + doc_id % {SYNTH_N_MOD} AS n FROM ids
),
samples AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims),
vals AS (
  SELECT doc_id, n, (doc_id * 13 + i * 7) % 2048 - 1024 AS s FROM samples
),
agg AS (
  SELECT doc_id, max(n)::BIGINT AS n, CAST(sum(s * s) AS BIGINT) AS energy
  FROM vals GROUP BY doc_id
),
gains AS (
  SELECT doc_id, n, energy,
         CASE WHEN energy > 0 THEN
           CAST(floor(10000 * 500 / sqrt(energy::DOUBLE / n)) AS BIGINT)
         END AS gain_e4
  FROM agg
)
SELECT g.doc_id AS media_id, g.n AS n_samples, g.energy, g.gain_e4,
       coalesce(sum(CASE WHEN abs(v.s) * g.gain_e4 > 32767 * 10000
                         THEN 1 ELSE 0 END), 0)::BIGINT AS n_clipped
FROM gains g JOIN vals v ON v.doc_id = g.doc_id
GROUP BY g.doc_id, g.n, g.energy, g.gain_e4
ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm19 — RGB channel correlation through the real PNG decode
# ---------------------------------------------------------------------------


def mm19_channel_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson r (e4) between channel pairs for 120 synthetic RGB
    rasters through the REAL PNG round-trip — integer sufficient stats
    inside the Arrow batch, sqrt(a)·sqrt(b) denominator (the gr16
    overflow-safe spelling). Grayscale-as-RGB uploads show r = 1 on all
    pairs; a dead channel shows NULL (zero variance)."""
    from bioeco_portal_etl_spark.multimodal.media import (
        channel_correlation,
        synth_rgb_png,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 120)
    )
    return channel_correlation(synth_rgb_png(ids, "doc_id")).orderBy(
        "media_id", "pair"
    )


def _mm19_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id,
         {SYNTH_W_BASE} + doc_id % {SYNTH_W_MOD} AS w,
         {SYNTH_H_BASE} + doc_id % {SYNTH_H_MOD} AS h
  FROM ids
),
xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
px AS (
  SELECT doc_id,
         (doc_id * 7 + x * 3 + y * 5 + 0 * 11) % 256 AS r,
         (doc_id * 7 + x * 3 + y * 5 + 1 * 11) % 256 AS g,
         (doc_id * 7 + x * 3 + y * 5 + 2 * 11) % 256 AS b
  FROM ys
),
stats AS (
  SELECT doc_id, p.pair,
         count(*)::BIGINT AS n,
         sum(CASE p.pair WHEN 'gb' THEN g ELSE r END)::BIGINT AS sx,
         sum(CASE p.pair WHEN 'rg' THEN g ELSE b END)::BIGINT AS sy,
         sum(CASE p.pair WHEN 'gb' THEN g * g ELSE r * r END)::BIGINT AS sxx,
         sum(CASE p.pair WHEN 'rg' THEN g * g ELSE b * b END)::BIGINT AS syy,
         sum(CASE p.pair WHEN 'rg' THEN r * g
                         WHEN 'rb' THEN r * b
                         ELSE g * b END)::BIGINT AS sxy
  FROM px, (VALUES ('rg'), ('rb'), ('gb')) p(pair)
  GROUP BY doc_id, p.pair
)
SELECT doc_id AS media_id, pair,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         CAST(floor(10000 * (n * sxy - sx * sy)
              / (sqrt((n * sxx - sx * sx)::DOUBLE)
                 * sqrt((n * syy - sy * sy)::DOUBLE))) AS BIGINT) END
         AS r_e4
FROM stats ORDER BY media_id, pair"""


# ---------------------------------------------------------------------------
# mm20 — shot lengths from scene cuts
# ---------------------------------------------------------------------------


def mm20_shot_lengths(spark: SparkSession, sf: str) -> DataFrame:
    """(media_id, n_frames, n_shots, max_shot_len, mean_len_e2): shots
    are maximal runs between cut flags (mm5's Arrow stage), segmented
    with ONE cumulative-sum window per clip and rolled up."""
    from bioeco_portal_etl_spark.multimodal.media import (
        attach_payload,
        scene_cuts,
    )

    d = T(spark, sf, "documents")
    cuts = scene_cuts(
        attach_payload(d, "doc_id", "text"),
        frame_bytes=64,
        threshold=8,
        max_frames=8,
    )
    w = (
        Window.partitionBy("media_id")
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shots = cuts.withColumn(
        "shot_id", F.sum(F.col("is_cut").cast("long")).over(w)
    )
    per_shot = shots.groupBy("media_id", "shot_id").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        per_shot.groupBy("media_id")
        .agg(
            F.sum("len").cast("long").alias("n_frames"),
            F.count(F.lit(1)).cast("long").alias("n_shots"),
            F.max("len").cast("long").alias("max_shot_len"),
            F.expr(
                "CAST((100 * sum(len)) div count(1) AS BIGINT)"
            ).alias("mean_len_e2"),
        )
        .orderBy("media_id")
    )


_MM20_SQL = """
WITH f AS (
  SELECT doc_id AS media_id,
         unnest(range(0, least(8, (length(text) + 63) // 64))) AS frame_idx,
         text
  FROM documents
),
m AS (
  SELECT media_id, frame_idx,
         (list_sum(list_transform(
            range(1, length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) + 1),
            j -> unicode(substr(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64), CAST(j AS INT), 1))
          )) // length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)))::BIGINT
           AS mean_u8
  FROM f
),
lagged AS (
  SELECT media_id, frame_idx, mean_u8,
         lag(mean_u8) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
  FROM m
),
cuts AS (
  SELECT media_id, frame_idx,
         coalesce(abs(mean_u8 - prev) > 8, FALSE) AS is_cut
  FROM lagged
),
shots AS (
  SELECT media_id,
         sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
           OVER (PARTITION BY media_id ORDER BY frame_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS shot_id
  FROM cuts
),
per_shot AS (
  SELECT media_id, shot_id, count(*)::BIGINT AS len
  FROM shots GROUP BY media_id, shot_id
)
SELECT media_id, sum(len)::BIGINT AS n_frames,
       count(*)::BIGINT AS n_shots,
       max(len)::BIGINT AS max_shot_len,
       CAST((100 * sum(len)) // count(*) AS BIGINT) AS mean_len_e2
FROM per_shot GROUP BY media_id ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm21 — inter-frame motion energy
# ---------------------------------------------------------------------------


def mm21_frame_motion(spark: SparkSession, sf: str) -> DataFrame:
    """Per-clip SAD motion over 64-byte frames of the payload (first 8
    frames, the mm5 framing) — multimodal/media.py frame_motion."""
    from bioeco_portal_etl_spark.multimodal.media import (
        attach_payload,
        frame_motion,
    )

    d = T(spark, sf, "documents")
    return frame_motion(
        attach_payload(d, "doc_id", "text"), frame_bytes=64, max_frames=8
    ).orderBy("media_id")


def _mm21_sql() -> str:
    return """
WITH f AS (
  SELECT doc_id AS media_id, text,
         least(8, (length(text) + 63) // 64) AS nf
  FROM documents
),
steps AS (
  SELECT media_id, nf, i.i AS fidx,
         substr(text, CAST((i.i - 1) * 64 + 1 AS INT), 64) AS prev_f,
         substr(text, CAST(i.i * 64 + 1 AS INT), 64) AS cur_f
  FROM f, LATERAL unnest(range(1, greatest(nf, 1))) i(i)
),
sads AS (
  SELECT media_id, nf,
         list_sum(list_transform(
           range(1, least(length(prev_f), length(cur_f)) + 1),
           j -> abs(unicode(substr(prev_f, CAST(j AS INT), 1))
                    - unicode(substr(cur_f, CAST(j AS INT), 1)))
         )) AS sad
  FROM steps
)
SELECT f.media_id, f.nf::BIGINT AS n_frames,
       coalesce(sum(s.sad), 0)::BIGINT AS total_motion,
       coalesce(max(s.sad), 0)::BIGINT AS max_step_motion
FROM f LEFT JOIN sads s USING (media_id)
GROUP BY f.media_id, f.nf
ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm22 — crest factor (peak-to-RMS dynamics)
# ---------------------------------------------------------------------------


def mm22_crest_factor(spark: SparkSession, sf: str) -> DataFrame:
    """(media_id, n_samples, peak, energy, crest_e4): crest_e4 =
    floor(1e4·peak / sqrt(energy/n)) — pure IEEE sqrt/÷ over the
    integer outputs of the wav_clip_stats Arrow stage (peak from
    max/min, energy, n), so the metric itself runs JVM-side; silent
    clips report NULL."""
    from bioeco_portal_etl_spark.multimodal.media import (
        synth_pcm_wav,
        wav_clip_stats,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 100)
    )
    stats = wav_clip_stats(synth_pcm_wav(ids, "doc_id"))
    return (
        stats.select(
            "media_id",
            F.col("n_samples").cast("long").alias("n_samples"),
            F.greatest(F.col("max_s"), -F.col("min_s"))
            .cast("long")
            .alias("peak"),
            F.col("energy").cast("long").alias("energy"),
        )
        .withColumn(
            "crest_e4",
            F.expr(
                "CASE WHEN energy > 0 THEN CAST(floor(10000 * peak"
                " / sqrt(CAST(energy AS DOUBLE) / n_samples)) AS BIGINT)"
                " END"
            ),
        )
        .orderBy("media_id")
    )


def _mm22_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        SYNTH_N_BASE,
        SYNTH_N_MOD,
    )

    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
dims AS (
  SELECT doc_id, {SYNTH_N_BASE} + doc_id % {SYNTH_N_MOD} AS n FROM ids
),
samples AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims),
vals AS (
  SELECT doc_id, n, (doc_id * 13 + i * 7) % 2048 - 1024 AS s FROM samples
),
agg AS (
  SELECT doc_id, max(n)::BIGINT AS n_samples,
         greatest(max(s), -min(s))::BIGINT AS peak,
         CAST(sum(s * s) AS BIGINT) AS energy
  FROM vals GROUP BY doc_id
)
SELECT doc_id AS media_id, n_samples, peak, energy,
       CASE WHEN energy > 0 THEN
         CAST(floor(10000 * peak
              / sqrt(CAST(energy AS DOUBLE) / n_samples)) AS BIGINT) END
         AS crest_e4
FROM agg ORDER BY media_id"""


# ---------------------------------------------------------------------------
# mm23 — color JPEG round-trip channel stats
# ---------------------------------------------------------------------------


def mm23_jpeg_color_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Per-channel stats through the REAL color codec: block-constant RGB
    tilings are encoded to genuine baseline 4:4:4 YCbCr JPEG bytes and
    fully decoded (3 interleaved Huffman/DPCM/IDCT pipelines + pinned
    YCbCr<->RGB) before the reduction. decode(encode(px)) ==
    ycbcr_to_rgb(rgb_to_ycbcr(px)) exactly for tile-constant rasters
    (multimodal/jpeg.py docstring has the argument), so the oracle
    recomputes the DOUBLE CONVERSION with pure SQL arithmetic and a hash
    match certifies the color decoder end-to-end."""
    from bioeco_portal_etl_spark.multimodal.media import (
        png_channel_stats,
        synth_rgb_jpeg,
    )

    ids = (
        T(spark, sf, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 120)
    )
    return png_channel_stats(synth_rgb_jpeg(ids, "doc_id")).orderBy(
        "media_id", "channel"
    )


def _mm23_sql() -> str:
    from bioeco_portal_etl_spark.multimodal.media import (
        JPEG_H_BASE,
        JPEG_H_MOD,
        JPEG_W_BASE,
        JPEG_W_MOD,
    )

    # The pinned conversion pair from multimodal/jpeg.py, literal for
    # literal and in the same operation order (IEEE doubles make the two
    # engines bit-identical): forward y/cb/cr with floor(v+0.5) clamp,
    # inverse r0/b0 direct and g0 re-derived from the luma equation.
    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id,
         {JPEG_W_BASE} + doc_id % {JPEG_W_MOD} AS w,
         {JPEG_H_BASE} + doc_id % {JPEG_H_MOD} AS h
  FROM ids
),
xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
ys AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
rgb AS (
  SELECT doc_id, x, y,
         (doc_id * 31 + (x // 8) * 7 + (y // 8) * 11) % 256 AS r,
         (doc_id * 31 + (x // 8) * 7 + (y // 8) * 11 + 17) % 256 AS g,
         (doc_id * 31 + (x // 8) * 7 + (y // 8) * 11 + 34) % 256 AS b
  FROM ys
),
fwd0 AS (
  SELECT doc_id, x, y, r, g, b,
         0.299 * r + 0.587 * g + 0.114 * b AS y0
  FROM rgb
),
ycc AS (
  SELECT doc_id, x, y,
         greatest(0, least(255, floor(y0 + 0.5)))::BIGINT AS yq,
         greatest(0, least(255,
           floor(128.0 + (b - y0) / 1.772 + 0.5)))::BIGINT AS cbq,
         greatest(0, least(255,
           floor(128.0 + (r - y0) / 1.402 + 0.5)))::BIGINT AS crq
  FROM fwd0
),
inv0 AS (
  SELECT doc_id, x, y, yq,
         yq + 1.402 * (crq - 128) AS r0,
         yq + 1.772 * (cbq - 128) AS b0
  FROM ycc
),
back AS (
  SELECT doc_id, x, y,
         greatest(0, least(255, floor(r0 + 0.5)))::BIGINT AS rr,
         greatest(0, least(255,
           floor((yq - 0.299 * r0 - 0.114 * b0) / 0.587 + 0.5)))::BIGINT AS gg,
         greatest(0, least(255, floor(b0 + 0.5)))::BIGINT AS bb
  FROM inv0
),
chan AS (
  SELECT doc_id, x, y, rr, gg, bb, unnest(range(0, 3)) AS c FROM back
),
px AS (
  SELECT doc_id, c,
         CASE c WHEN 0 THEN rr WHEN 1 THEN gg ELSE bb END AS v
  FROM chan
)
SELECT doc_id AS media_id, c::BIGINT AS channel,
       count(*)::BIGINT AS n_px,
       CAST(sum(v) // count(*) AS BIGINT) AS mean_v,
       min(v)::BIGINT AS min_v,
       max(v)::BIGINT AS max_v
FROM px
GROUP BY doc_id, c
ORDER BY media_id, channel"""


CATALOG = {
    "mm1_media_metadata": (mm1_media_metadata, MM1_SQL),
    "mm2_resize_meta": (mm2_resize_meta, MM2_SQL),
    "mm3_frame_sample": (mm3_frame_sample, MM3_SQL),
    "mm4_audio_energy": (mm4_audio_energy, MM4_SQL),
    "mm5_scene_cuts": (mm5_scene_cuts, MM5_SQL),
    "mm6_png_channel_stats": (mm6_png_channel_stats, _mm6_sql()),
    "mm7_wav_clip_stats": (mm7_wav_clip_stats, _mm7_sql()),
    "mm8_phash_groups": (mm8_phash_groups, _mm8_sql()),
    "mm9_wav_downsample": (mm9_wav_downsample, _mm9_sql()),
    "mm10_patch_grid": (mm10_patch_grid, _mm10_sql()),
    "mm11_patch_dupes": (mm11_patch_dupes, _mm11_sql()),
    "mm12_resize_pixels": (mm12_resize_pixels, _mm12_sql()),
    "mm13_frame_zcr": (mm13_frame_zcr, _mm13_sql()),
    "mm14_jpeg_roundtrip": (mm14_jpeg_roundtrip, _mm14_sql()),
    "mm15_wav_silence_trim": (mm15_wav_silence_trim, _mm15_sql()),
    "mm16_pixel_gini": (mm16_pixel_gini, _mm16_sql()),
    "mm17_jpeg_blockiness": (mm17_jpeg_blockiness, _mm17_sql()),
    "mm18_gain_normalization": (mm18_gain_normalization, _mm18_sql()),
    "mm19_channel_correlation": (mm19_channel_correlation, _mm19_sql()),
    "mm20_shot_lengths": (mm20_shot_lengths, _MM20_SQL),
    "mm21_frame_motion": (mm21_frame_motion, _mm21_sql()),
    "mm22_crest_factor": (mm22_crest_factor, _mm22_sql()),
    "mm23_jpeg_color_roundtrip": (mm23_jpeg_color_roundtrip, _mm23_sql()),
}

"""Scalar quantization (SQ/int8) for ANN: L2-normalize, compress every
dimension to a signed 8-bit code against ONE global abs-max scale, then
score candidates with an INTEGER dot product over the codes — the
memory-bandwidth optimization big vector indexes offer next to PQ
(FAISS's ScalarQuantizer; the same symmetric-int8 scheme quantized GEMM
inference uses): 4x smaller vectors than float32, SIMD-friendly integer
math, and no codebook training — the "index build" is one aggregate.

Design notes, learned the measured way:

- **Normalize first.** An unnormalized dot ranks by candidate NORM as
  much as by direction; recall@5 vs exact cosine collapsed to 0.06 on
  the synthetic embeddings until vectors were unit-scaled.
- **Symmetric scale, not per-dim affine.** Per-dimension (min, max)
  affine codes c_i = (x_i - mn_i)*s_i are what SQ8 stores, but scoring
  them SYMMETRICALLY (code · code) injects the mn_i cross terms into
  every score and wrecks the ranking; FAISS scores affine codes by
  DEQUANTIZING (a float path). A single global abs-max scale keeps
  c_i ∝ x_i, so the integer dot is a monotone image of cosine up to
  quantization error — valid to rank with, and bit-exact for the oracle.

Scan is still linear (SQ compresses, it does not prune); at scale it
composes with the IVF cell router (similarity/ivf.py) exactly like PQ
does — quantize within probed cells only.

Spark-first shape: the scale is ONE aggregate row broadcast via a cross
join (no collect); encoding is a ``transform`` lambda over the array
(whole-stage codegen, no UDF); the dot product is ``zip_with`` + left-
fold ``aggregate`` over longs (exact, associative); top-k is the same
broadcast-join + window the knn module uses. Everything stays JVM-side.

Extension beyond the reference surface; oracle = identical
normalize/quantize/dot arithmetic in DuckDB over the exploded (vec, dim)
form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

DIM = 64


def l2_normalize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, vec) with the vector scaled to unit L2 norm (same fold order
    as knn.norm / the DuckDB `n` CTE, so the doubles are engine-exact)."""
    from bioeco_portal_etl_spark.similarity.knn import norm

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = norm(v)
    return df.select(
        F.col(id_col),
        F.transform(v, lambda x: x / n).alias(vec_col),
    )


def sq_scale(corpus: DataFrame, vec_col: str) -> DataFrame:
    """One row, one column ``amax``: the corpus-wide max |x_i| over every
    dimension — the entire symmetric-int8 'index build'. A single
    map-side-combined aggregate."""
    x = lambda i: F.abs(F.col(vec_col)[i].cast("double"))  # noqa: E731
    return corpus.agg(F.greatest(*[F.max(x(i)) for i in range(DIM)]).alias("amax"))


def sq_encode(
    df: DataFrame, vec_col: str, scale: DataFrame, out_col: str = "code"
) -> DataFrame:
    """Append ``out_col``: array<long> of signed codes
    ``floor(x / amax * 127)`` in [-127, 127]. The scale row rides a
    broadcast cross join (one row, never a shuffle); a degenerate all-zero
    corpus (amax == 0) encodes 0."""

    def q(x: Column) -> Column:
        return (
            F.when(
                F.col("amax") > 0,
                F.floor(x.cast("double") / F.col("amax") * 127),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return (
        df.crossJoin(scale)
        .withColumn(out_col, F.transform(F.col(vec_col), q))
        .drop("amax")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two code arrays (left fold — order
    pinned, though integer addition needs no pinning)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, match_id, score, rank): brute-force top-k over
    symmetric-int8 codes of L2-normalized vectors, integer scores.
    Queries are encoded with the CORPUS scale (the deployed-index
    convention: params freeze at build time)."""
    corpus = l2_normalize(corpus, vec_col, id_col)
    queries = l2_normalize(queries, vec_col, id_col)
    scale = sq_scale(corpus, vec_col)
    c = sq_encode(corpus, vec_col, scale).select(
        F.col(id_col).alias("_cid"), F.col("code").alias("c_code")
    )
    q = sq_encode(queries, vec_col, scale).select(
        F.col(id_col).alias("query_id"), F.col("code").alias("q_code")
    )
    # without the hint ts10 broadcasts the corpus instead of the queries
    scored = F.broadcast(q).crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("_cid"))
    scored = scored.select(
        "query_id",
        F.col("_cid").alias("match_id"),
        int_dot(F.col("q_code"), F.col("c_code")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("match_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def sq_distortion(corpus: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Per-vector int8 reconstruction error — the quantization-QA table
    read BEFORE switching an index from float32 to SQ codes: encode with
    the corpus scale, dequantize (code / 127 * amax), and report the
    squared L2 error against the normalized original as an exact e12
    integer (per-dimension floor BEFORE the sum, so the result is an
    integer fold with no float-reassociation surface).

    One linear scan: normalize -> encode -> zip_with error -> integer
    aggregate; the scale rides the same broadcast cross join as
    sq_encode. Output: (id, mse_e12) where mse_e12 =
    sum_i floor((x_i - c_i/127*amax)^2 * 1e12)."""
    nv = l2_normalize(corpus, vec_col, id_col)
    scale = sq_scale(nv, vec_col)
    enc = sq_encode(nv, vec_col, scale, out_col="code")
    err = F.zip_with(
        F.col(vec_col),
        F.col("code"),
        lambda x, c: F.floor(
            (x - c.cast("double") / 127.0 * F.col("amax"))
            * (x - c.cast("double") / 127.0 * F.col("amax"))
            * 1000000000000.0
        ),
    )
    return enc.crossJoin(scale).select(
        F.col(id_col),
        F.aggregate(
            err, F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("mse_e12"),
    )

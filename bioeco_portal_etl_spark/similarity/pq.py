"""Product quantization (PQ) — the memory-bounded ANN path (Jégou et al.
2011, "Product quantization for nearest neighbor search").

IVF (ivf.py) prunes WHICH vectors a query scores; PQ shrinks WHAT is
scored: each vector is split into ``n_sub`` subvectors, every subvector
snaps to the nearest of ``n_codes`` codebook entries, and the stored
representation is just the code ids (64-dim float32 -> 8 bytes at 8x16).
Query scoring is ADC (asymmetric distance computation): the query
precomputes its distance to every codebook entry once (a tiny lookup
table), and a corpus vector's approximate distance is the SUM of 8 table
lookups — no float vector is ever read again.

Spark-first shapes:
  - Codebooks are an INJECTED DataFrame (subspace, code, subvec) — in
    production the output of per-subspace k-means (kmeans.py); injection
    keeps query-time semantics fully relational and oracle-checkable
    (same contract as ivf.py's injected centroids).
  - Encoding: corpus exploded to (vec, subspace, subvec) long form,
    broadcast-joined to the codebook, argmin per (vec, subspace) via a
    deterministic (distance, code) window. At 100 TB the codebook also
    fits in a literal array for a pure map-side argmin (kmeans.py's
    assign_clusters shape); the join form keeps the oracle exact.
  - ADC scoring: the per-query lookup table (n_queries x n_sub x n_codes
    rows) broadcasts; encoded corpus equi-joins on (subspace, code) and
    partial distances combine in FIXED subspace order via
    sort_array+aggregate (a left fold — engine-exact doubles; a plain
    sum() would reassociate and drift across engines/partitionings).

Distances are squared-L2, exposed floor(d*1e4) with vec-id tiebreaks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subspaces(df: DataFrame, vec_col: str, id_alias: str, id_col: str, n_sub: int, sub_dim: int) -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col).alias(id_alias),
        F.posexplode(
            F.array(
                *[F.slice(v, s * sub_dim + 1, sub_dim) for s in range(n_sub)]
            )
        ).alias("subspace", "subvec"),
    )


def encode_from_subspaces(
    sub: DataFrame, codebooks: DataFrame, n_sub: int, carry: list[str]
) -> DataFrame:
    """Snap long-form subvectors ``(vec_id, subspace, subvec, *carry)`` to
    their nearest codebook entries -> ``(vec_id, *carry, subspace, code)``.

    The argmin is ONE groupBy(vec_id) of per-subspace conditional
    ``min(struct(d, code))``s — identical (distance, code)-ascending choice
    as a per-(vec, subspace) window, but (a) all 128 candidate rows of a
    vector collapse map-side (they are born co-located by the broadcast
    codebook join), so the shuffle carries one row per VECTOR, not one per
    (vector, subspace); and (b) the grouping key is plain ``vec_id``, so a
    producer already hash-partitioned by vec_id (e.g. the IVF cell
    assignment) satisfies the distribution and NO exchange runs at all —
    the property ivfpq_index's one-shuffle plan is built on."""
    cb = codebooks.select(
        F.col("subspace").alias("cb_sub"), "code", F.col("subvec").alias("cvec")
    )
    # without the hint ts5 and ts7 broadcast the sub-vector side instead
    scored = sub.join(F.broadcast(cb), sub.subspace == cb.cb_sub).select(
        "vec_id",
        *carry,
        "subspace",
        "code",
        _sq_dist(F.col("subvec"), F.col("cvec")).alias("d"),
    )
    aggs = [F.first(c).alias(c) for c in carry] + [
        F.min(
            F.when(F.col("subspace") == s, F.struct(F.col("d"), F.col("code")))
        ).alias(f"_m{s}")
        for s in range(n_sub)
    ]
    return scored.groupBy("vec_id").agg(*aggs).select(
        "vec_id",
        *carry,
        F.posexplode(
            F.array(*[F.col(f"_m{s}.code") for s in range(n_sub)])
        ).alias("subspace", "code"),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    n_sub: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """(vec_id, subspace, code): nearest codebook entry per subvector.
    ``codebooks`` columns: subspace int, code int, subvec array<double>."""
    sub = _subspaces(corpus, vec_col, "vec_id", id_col, n_sub, sub_dim)
    return encode_from_subspaces(sub, codebooks, n_sub, [])


def pq_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    n_sub: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """Per-query ADC lookup table ``(query_id, subspace, code, pd)`` —
    ``n_queries * n_sub * n_codes`` rows, broadcast by every consumer."""
    qsub = _subspaces(queries, vec_col, "query_id", id_col, n_sub, sub_dim)
    cb = codebooks.select(
        F.col("subspace").alias("cb_sub"), "code", F.col("subvec").alias("cvec")
    )
    # without the hint ts5, ts6 and ts7 broadcast the query sub-vectors instead
    return qsub.join(F.broadcast(cb), qsub.subspace == cb.cb_sub).select(
        "query_id",
        "subspace",
        "code",
        _sq_dist(F.col("subvec"), F.col("cvec")).alias("pd"),
    )


def adc_rank(joined: DataFrame, k: int) -> DataFrame:
    """Fold per-subspace partial distances into ranked top-k. Input columns:
    ``query_id, vec_id, subspace, pd``. The combine runs in FIXED
    subspace-ascending order via ``array_sort`` + ``aggregate`` (a left
    fold — engine-exact doubles; a plain ``sum()`` would reassociate and
    drift across engines/partitionings)."""
    per_pair = joined.groupBy("query_id", F.col("vec_id").alias("match_id")).agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("subspace").alias("s"), F.col("pd")))
            ),
            F.lit(0.0),
            lambda acc, e: acc + e["pd"],
        ).alias("approx_d")
    )
    scored = per_pair.select(
        "query_id",
        "match_id",
        F.floor(F.col("approx_d") * 10000).cast("long").alias("dist_e4"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist_e4"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_sub: int = 8,
    sub_dim: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k: encoded corpus scored against per-query codebook lookup
    tables; approximate squared-L2 ascending, floor-e4, id tiebreaks."""
    encoded = pq_encode(corpus, codebooks, vec_col, id_col, n_sub, sub_dim)
    lut = pq_lut(queries, codebooks, vec_col, id_col, n_sub, sub_dim)
    # without the hint ts5 and ts7 plan a SortMergeJoin
    joined = encoded.join(F.broadcast(lut), ["subspace", "code"])
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("vec_id"))
    return adc_rank(joined, k)

"""IVF-PQ — the combined production ANN configuration (Jégou et al. 2011,
"Product quantization for nearest neighbor search", §V: IVFADC).

IVF (ivf.py) prunes WHICH vectors a query scores (probe ``nprobe`` of K
cells); PQ (pq.py) shrinks WHAT is scored (8-byte codes + per-query lookup
tables). Composed, a query touches ``~nprobe/K`` of the corpus and reads no
float vectors at all — the configuration every billion-vector deployment
actually runs.

Spark-first shapes (no UDFs, no cross joins beyond the broadcast probes):
  - The INDEX — ``(cell_id, vec_id, subspace, code)`` — is built once:
    map-side cell argmin over broadcast centroids + broadcast-codebook
    encoding, joined on ``vec_id``. At 100 TB this is a one-time batch
    job persisted as a parquet table partitioned by ``cell_id`` (directory
    pruning then serves the probe join for free); here it stays a
    DataFrame so the whole query is one lazily-planned tree.
  - Query time: each query ranks its ``nprobe`` nearest cells (broadcast
    centroids, map-side), the probe set equi-joins the index on
    ``cell_id`` — shuffling only the probed fraction — and the broadcast
    per-query LUT turns each candidate's 8 codes into 8 partial distances,
    folded in fixed subspace order (engine-exact doubles).

The reference has no ANN operator; this is the scale path the repo's
north star (training-data curation over ~100 TB) requires. Same scoring
contract as pq.py: approximate squared-L2 ascending, floor(d*1e4) ints,
id tiebreaks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.similarity.ivf import _cells
from bioeco_portal_etl_spark.similarity.knn import with_norm
from bioeco_portal_etl_spark.similarity.pq import (
    adc_rank,
    encode_from_subspaces,
    pq_lut,
)


def _centroid_side(centroids: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return with_norm(centroids, vec_col, id_col).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("q_v"), F.col("_n").alias("q_n")
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    n_sub: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """The IVF-PQ index: every corpus vector's cell assignment (rank-1
    cosine argmin over broadcast centroids) fused with its PQ codes —
    ``(cell_id, vec_id, subspace, code)``, ``n_sub`` rows per vector.

    ONE-shuffle plan: the cell-assignment groupBy leaves the frame
    hash-partitioned by vec_id; the vector rides along (``first(_v)``), is
    exploded to subspaces and broadcast-joined to the codebook — both
    partitioning-preserving — so the encode's groupBy(vec_id)
    (pq.encode_from_subspaces) needs NO second exchange, and there is no
    corpus⋈corpus join at all. At 100 TB: write once, partition by
    ``cell_id``, reuse per query batch."""
    corp = with_norm(corpus, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    cent = _centroid_side(centroids, vec_col, id_col)
    assigned = _cells(corp, cent, 1).select(
        "cell_id", F.col("_cid").alias("vec_id"), F.col("_v")
    )
    sub = assigned.select(
        "cell_id",
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("_v"), s * sub_dim + 1, sub_dim)
                    for s in range(n_sub)
                ]
            )
        ).alias("subspace", "subvec"),
    )
    return encode_from_subspaces(sub, codebooks, n_sub, ["cell_id"]).select(
        "cell_id", "vec_id", "subspace", "code"
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
    n_sub: int = 8,
    sub_dim: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ top-k: probe ``nprobe`` cells per query, ADC-score only the
    vectors living in probed cells via the broadcast per-query LUT.

    ``exclude_self`` assumes query ids share the corpus namespace (see
    knn.cosine_topk) — pass False for external query tables."""
    index = ivfpq_index(
        corpus, centroids, codebooks, vec_col, id_col, n_sub, sub_dim
    )
    cent = _centroid_side(centroids, vec_col, id_col)
    qn = with_norm(queries, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    probes = _cells(qn, cent, nprobe).select(
        F.col("_cid").alias("query_id"), "cell_id"
    )
    # without the hint ts6 plans a SortMergeJoin
    cand = F.broadcast(probes).join(index, "cell_id")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    lut = pq_lut(queries, codebooks, vec_col, id_col, n_sub, sub_dim)
    # without the hint ts6 plans a SortMergeJoin
    joined = cand.join(F.broadcast(lut), ["query_id", "subspace", "code"])
    return adc_rank(joined, k)

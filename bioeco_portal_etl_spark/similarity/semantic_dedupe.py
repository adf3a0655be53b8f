"""Semantic deduplication (SemDeDup-style) — embedding-space near-duplicate
pruning blocked by cluster assignment.

MinHash/SimHash catch *lexical* duplicates; training corpora also carry
*semantic* duplicates (paraphrases, templated rewrites) that only embed
close. The public SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540)
makes the all-pairs cosine tractable by clustering first and comparing
ONLY within clusters, then keeping one representative per near-duplicate
group — preferring the member FARTHEST from its centroid (lowest centroid
similarity), which maximizes retained diversity.

Engine mapping (all JVM Column algebra — the knn.py fold primitives):
- assignment: broadcast the centroid table, score every (vector,
  centroid) cosine, keep the argmax with centroid-id tiebreak. One narrow
  map stage; no shuffle of the embedding table.
- pair scan: self-join ON cluster — shuffle co-partitioned by cluster,
  never all-pairs. Cluster count scales with corpus size, so per-cluster
  membership (and the quadratic term) stays bounded; this is the same
  blocking contract as LSH banding in text/dedupe.py.
- keep rule (deterministic): drop v iff some same-cluster neighbor u has
  floor-e4 cosine(u, v) >= threshold AND ranks before v by
  (centroid_sim_e4 ASC, vec_id ASC). Every duplicate group keeps at least
  its first-ranked member; comparisons happen on e4-floored ints, so the
  decision is bit-identical in the DuckDB oracle.

Centroids are an input (injected, or fitted via similarity/kmeans.py —
fitted centroids keep the whole pipeline distributed; only k rows ever
reach the driver).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.similarity.knn import (
    cosine,
    score_e4,
    with_norm,
)


def assign_clusters(
    emb: DataFrame, centroids: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, cluster, cent_sim_e4).

    Centroids are broadcast (k rows); the argmax runs per-vector with a
    window over the k candidate scores — tiebreak on lower centroid id so
    the assignment is total and deterministic."""
    m = with_norm(emb, vec_col, id_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_v").alias("m_v"),
        F.col("_n").alias("m_n"),
    )
    c = with_norm(centroids, vec_col, id_col).select(
        F.col(id_col).alias("cluster"),
        F.col("_v").alias("c_v"),
        F.col("_n").alias("c_n"),
    )
    scored = m.crossJoin(c).select(
        "vec_id",
        "cluster",
        score_e4(
            cosine(F.col("m_v"), F.col("c_v"), F.col("m_n"), F.col("c_n"))
        ).alias("cent_sim_e4"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cent_sim_e4"), F.asc("cluster")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def semantic_dedupe_assigned(
    emb: DataFrame,
    asg: DataFrame,
    vec_col: str,
    id_col: str,
    threshold_e4: int,
) -> DataFrame:
    """The pair stage of SemDeDup over a PRECOMPUTED assignment.

    ``asg`` is (vec_id, cluster, cent_sim_e4) from :func:`assign_clusters`
    or any clusterer (kmeans with k ∝ corpus size in production — cluster
    size, not corpus size, bounds the quadratic term). See
    :func:`semantic_dedupe` for the verdict semantics."""
    m = with_norm(emb, vec_col, id_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_v").alias("v"),
        F.col("_n").alias("n"),
    )
    mem = asg.join(m, "vec_id")
    lhs = mem.select(
        F.col("cluster"),
        F.col("vec_id").alias("u_id"),
        F.col("cent_sim_e4").alias("u_cs"),
        F.col("v").alias("u_v"),
        F.col("n").alias("u_n"),
    )
    rhs = mem.select(
        F.col("cluster"),
        F.col("vec_id").alias("v_id"),
        F.col("cent_sim_e4").alias("v_cs"),
        F.col("v").alias("v_v"),
        F.col("n").alias("v_n"),
    )
    pair_sim = score_e4(
        cosine(F.col("u_v"), F.col("v_v"), F.col("u_n"), F.col("v_n"))
    )
    better = (
        lhs.join(rhs, "cluster")
        .filter(F.col("u_id") != F.col("v_id"))
        .filter(
            (F.col("u_cs") < F.col("v_cs"))
            | ((F.col("u_cs") == F.col("v_cs")) & (F.col("u_id") < F.col("v_id")))
        )
        .filter(pair_sim >= F.lit(threshold_e4))
        .groupBy(F.col("v_id").alias("vec_id"))
        .agg(F.count("*").alias("n_better"))
    )
    return (
        asg.join(better, "vec_id", "left")
        .withColumn("n_better", F.coalesce(F.col("n_better"), F.lit(0)).cast("long"))
        .withColumn(
            "keep", F.when(F.col("n_better") == 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        )
        .select("vec_id", "cluster", "cent_sim_e4", "n_better", "keep")
    )


def semantic_dedupe(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    threshold_e4: int,
) -> DataFrame:
    """Per-vector dedupe verdict: (vec_id, cluster, cent_sim_e4,
    n_better, keep).

    ``n_better`` counts same-cluster neighbors with cosine >= threshold
    that rank before this vector (centroid_sim ASC, id ASC); ``keep`` is
    1 when none exist. The survivor set therefore contains every group's
    diversity-preferred representative, and isolated vectors untouched."""
    asg = assign_clusters(emb, centroids, vec_col, id_col)
    return semantic_dedupe_assigned(emb, asg, vec_col, id_col, threshold_e4)

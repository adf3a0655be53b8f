"""IVF (inverted-file) approximate nearest neighbor — the clustered scale
path for similarity search (complements sign-bit LSH in knn.py).

Classic IVF: partition vectors into K cells around centroids; a query probes
only the ``nprobe`` nearest cells. Here centroids are an injected DataFrame —
in production the output of a sampled k-means; in the oracle-checked catalog
a deterministic subset of the corpus (k-means itself is iterative/
non-oracle-able, but IVF's query-time semantics don't care where centroids
came from).

Plan shape at scale: centroid set is tiny -> broadcast everywhere; cell
assignment is a map-side argmin (no shuffle); the probe join is an equi-join
on cell id, shuffling only the probed fraction (~nprobe/K of the corpus).
Same engine-exact scoring contract as knn.py (left-fold dot products,
floor(cos*1e4) ints).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.similarity.knn import cosine, score_e4, with_norm


def _cells(vectors: DataFrame, centroids: DataFrame, rank_limit: int) -> DataFrame:
    """Assign each vector to its ``rank_limit`` nearest centroids by cosine
    (rank 1 = cell assignment; rank<=nprobe = probe set)."""
    c = centroids.select(
        F.col("q_id").alias("cell_id"),
        F.col("q_v").alias("c_v"),
        F.col("q_n").alias("c_n"),
    )
    # without the hint ts4 broadcasts the vectors instead of the centroids
    scored = vectors.join(F.broadcast(c), F.lit(True)).select(
        "_cid",
        "_v",
        "_n",
        "cell_id",
        score_e4(cosine(F.col("_v"), F.col("c_v"), F.col("_n"), F.col("c_n"))).alias(
            "c_score"
        ),
    )
    if rank_limit == 1:
        # cell assignment (the corpus-sized side): argmax as
        # min(struct(-score, cell_id)) — identical (score desc, cell asc)
        # choice as the window, but the combiner collapses the K
        # centroid-candidate rows per vector map-side (they're co-located
        # by the broadcast join), so the shuffle carries one row per
        # vector and no sort runs.
        return (
            scored.groupBy("_cid")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c_score")).alias("ns"),
                        F.col("cell_id").alias("c"),
                    )
                ).alias("__m"),
                F.first("_v").alias("_v"),
                F.first("_n").alias("_n"),
            )
            .select(
                "_cid",
                "_v",
                "_n",
                F.col("__m.c").alias("cell_id"),
                (-F.col("__m.ns")).alias("c_score"),
                F.lit(1).alias("c_rank"),
            )
        )
    w = Window.partitionBy("_cid").orderBy(F.desc("c_score"), F.asc("cell_id"))
    return scored.withColumn("c_rank", F.row_number().over(w)).filter(
        F.col("c_rank") <= rank_limit
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k: corpus assigned to nearest cell; each query probes its
    ``nprobe`` nearest cells and ranks candidates by cosine.

    ``exclude_self`` assumes query ids share the corpus namespace (see
    knn.cosine_topk) — pass False for external query tables."""
    cent = with_norm(centroids, vec_col, id_col).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("q_v"), F.col("_n").alias("q_n")
    )
    corpus = with_norm(df, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    assigned = _cells(corpus, cent, 1).select("cell_id", "_cid", "_v", "_n")

    qn = with_norm(queries, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    probes = _cells(qn, cent, nprobe).select(
        F.col("_cid").alias("q_id"),
        F.col("_v").alias("q_v"),
        F.col("_n").alias("q_n"),
        "cell_id",
    )

    cand = probes.join(assigned, "cell_id")
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("_cid"))
    scored = cand.select(
        F.col("q_id").alias("query_id"),
        F.col("_cid").alias("match_id"),
        score_e4(cosine(F.col("q_v"), F.col("_v"), F.col("q_n"), F.col("_n"))).alias(
            "score_e4"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e4"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_cell_stats(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """IVF index health report: per-cell population and e6 corpus share —
    the observability face of the index (a skewed cell turns probes into
    scans; empty cells waste nprobe budget). Vector-store maintenance
    jobs watch exactly this to decide when to retrain centroids.

    Same assignment subplan as ivf_topk (broadcast centroids, map-side
    argmax combiner), then a cell-cardinality aggregate — the corpus is
    scanned once and shuffled once at K-cell width. Output: (cell_id,
    n_vecs, share_e6) for every centroid, INCLUDING empty cells (left
    join from the centroid set)."""
    cent = with_norm(centroids, vec_col, id_col).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("q_v"), F.col("_n").alias("q_n")
    )
    corpus = with_norm(df, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    assigned = _cells(corpus, cent, 1).select("cell_id", "_cid")
    counts = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    # Denominator = corpus cardinality (every vector lands in exactly one
    # cell), counted from a plain scan — summing `counts` instead would
    # re-run the whole centroid-assignment subplan through the derived
    # lineage. Both small sides broadcast: the K-row cell table onto the
    # centroid list, the 1-row total onto everything.
    total = df.agg(F.count(F.lit(1)).alias("__N"))
    return (
        cent.select(F.col("q_id").alias("cell_id"))
        # without the hint ts15 plans a SortMergeJoin
        .join(F.broadcast(counts), "cell_id", "left")
        .crossJoin(total)
        .select(
            "cell_id",
            F.coalesce(F.col("n_vecs"), F.lit(0)).cast("long").alias("n_vecs"),
            F.expr(
                "CAST((1000000 * coalesce(n_vecs, 0)) div __N AS BIGINT)"
            ).alias("share_e6"),
        )
    )

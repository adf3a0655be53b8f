"""ANN cascade — IVF fast path with an exact fallback for low-confidence
queries.

Approximate indexes trade recall for speed GLOBALLY, but recall loss is
not uniform: queries whose true neighbors sit just outside the probed
cells come back with visibly poor best scores. The production fix is a
router: serve every query from the IVF path, and re-run the (expensive,
exact) scan ONLY for queries whose best approximate score fails a
confidence threshold — bounded extra cost, recall restored exactly where
it was lost. This is the retrieval twin of the shortlist-then-refine
pattern (ts7): there the refine step is per-candidate, here it is
per-QUERY.

Decision rule (part of the operator contract, mirrored by the oracle):
a query falls back iff it has NO ivf candidates at all (its probed cell
was empty of others) or its best e4 score < ``min_best_e4``. Output
carries a ``path`` column ('ivf' / 'exact') so downstream can audit the
fallback rate — the router's own health metric.

Scale shape: the fallback query set is a (small) broadcast; the exact
branch's cost is fallback_rate * corpus-scan, the knob the threshold
turns. No new shuffle shapes beyond ivf_topk + cosine_topk themselves.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.similarity.ivf import ivf_topk
from bioeco_portal_etl_spark.similarity.knn import cosine_topk


def ann_with_exact_fallback(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 1,
    min_best_e4: int = 4000,
) -> DataFrame:
    """(query_id, match_id, score_e4, rank, path): IVF results for
    confident queries, exact top-k for the rest."""
    ivf = ivf_topk(
        corpus, queries, centroids, vec_col, id_col, k=k, nprobe=nprobe
    )
    best = ivf.groupBy("query_id").agg(F.max("score_e4").alias("__best"))
    qids = queries.select(F.col(id_col).alias("query_id"))
    low = (
        qids.join(best, "query_id", "left")
        .filter(
            F.col("__best").isNull() | (F.col("__best") < min_best_e4)
        )
        .select("query_id")
    )
    # without the hint ts18 plans a SortMergeJoin (anti)
    confident = ivf.join(F.broadcast(low), "query_id", "left_anti").select(
        "query_id",
        "match_id",
        "score_e4",
        "rank",
        F.lit("ivf").alias("path"),
    )
    fallback_q = queries.join(
        # without the hint ts18 plans a SortMergeJoin (semi)
        F.broadcast(low.withColumnRenamed("query_id", id_col)),
        id_col,
        "left_semi",
    )
    exact = cosine_topk(corpus, fallback_q, vec_col, id_col, k=k).select(
        "query_id",
        "match_id",
        "score_e4",
        "rank",
        F.lit("exact").alias("path"),
    )
    return confident.unionByName(exact)

"""Shortlist-then-refine ANN — the production two-tier retrieval shape
(Jégou et al. 2011 §IV "IVFADC with re-ranking"; every vector-database
serves queries this way): a cheap approximate scorer (PQ-ADC) produces a
small per-query shortlist, then ONLY the shortlist's full vectors are
fetched and re-scored exactly. Approximation error is confined to
shortlist membership; the final ranking is exact.

Scale shape: the shortlist is ``n_queries * shortlist`` rows — tiny — so
the "fetch full vectors" join touches the corpus with a highly selective
equi-join on vec_id (at 100 TB: corpus bucketed by vec_id makes the fetch
a pruned stripe read; the shortlist side always broadcasts). The exact
re-score is a zip_with/aggregate left fold in codegen, one row per
(query, candidate) — cost ∝ shortlist, independent of corpus size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.similarity.pq import _sq_dist, pq_topk


def exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact squared-L2 re-rank of candidate pairs ``(query_id, match_id)``:
    fetch both full vectors, score with the deterministic left-fold
    distance, keep top-k ascending (floor-e4, match_id tiebreak)."""
    cv = corpus.select(
        F.col(id_col).alias("match_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    exact = (
        cand.select("query_id", "match_id")
        .join(cv, "match_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "match_id",
            F.floor(_sq_dist(F.col("__qv"), F.col("__cv")) * 10000)
            .cast("long")
            .alias("dist_e4"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("dist_e4"), F.asc("match_id")
    )
    return exact.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    shortlist: int = 20,
    n_sub: int = 8,
    sub_dim: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """PQ-ADC shortlist (approximate, compressed-domain) -> exact re-rank.
    ``shortlist`` trades recall for refine cost exactly like nprobe does
    for IVF; with shortlist >= k the output ranking is exact over the
    shortlist members."""
    cand = pq_topk(
        corpus,
        queries,
        codebooks,
        vec_col,
        id_col,
        k=shortlist,
        n_sub=n_sub,
        sub_dim=sub_dim,
        exclude_self=exclude_self,
    )
    return exact_rerank(cand, corpus, queries, vec_col, id_col, k=k)

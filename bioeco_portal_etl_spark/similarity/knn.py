"""Similarity search over an ``array<float>`` embedding column.

Three tiers, all pure Column algebra (F.zip_with/F.aggregate fold JVM-side —
no Python in the scoring loop):

  - ``cosine_topk``       brute-force exact top-k: broadcast the query set,
                          score every (query, candidate) pair. The correctness
                          baseline; O(Q·N·d) but embarrassingly parallel —
                          at 100 TB this is the re-rank stage, not the scan.
  - ``lsh_bucket_topk``   sign-bit LSH: bucket on the sign pattern of the
                          first ``bits`` dimensions (axis-aligned random
                          hyperplanes); queries probe ONLY their bucket.
                          Turns the cross join into an equi-join -> shuffle
                          co-partitioned on bucket, ~2^bits× less work.
  - ``embedding_neardup_pairs``  near-duplicate detection: all intra-bucket
                          pairs above a cosine threshold (blocked all-pairs —
                          the embedding-space analogue of MinHash dedupe).

Determinism contract: dot products are LEFT FOLDS over the dimension order
(F.aggregate), norms likewise, and scores are compared/exposed as
``floor(cos * 1e4)`` ints — so rankings are bit-reproducible across engines
(the DuckDB oracle runs the identical fold via list_reduce).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — reproducible summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(vec: Column) -> Column:
    return F.sqrt(dot(vec, vec))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def score_e4(cos: Column) -> Column:
    """Engine-exact score: floor(cosine * 1e4) as int (identical doubles in ->
    identical ints out; no round-tie ambiguity)."""
    return F.floor(cos * 10000).cast("long")


def with_norm(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.select(F.col(id_col), v.alias("_v"), norm(v).alias("_n"))


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """LSH bucket id from the sign bits of the first ``bits`` dimensions."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.element_at(vec, i + 1) >= 0, F.lit(1 << (bits - 1 - i))
        ).otherwise(F.lit(0))
    return out.cast("int")


def _scored_pairs(q: DataFrame, c: DataFrame, join_on, exclude_self: bool) -> DataFrame:
    cos = cosine(F.col("q_v"), F.col("_v"), F.col("q_n"), F.col("_n"))
    joined = q.join(c, join_on)
    if exclude_self:
        joined = joined.filter(F.col("q_id") != F.col("_cid"))
    return joined.select(
        F.col("q_id").alias("query_id"),
        F.col("_cid").alias("match_id"),
        score_e4(cos).alias("score_e4"),
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_e4"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force top-k: broadcast the (small) query set against every
    candidate, rank by cosine. One narrow broadcast join + one window.

    ``exclude_self`` assumes queries and candidates share an ID NAMESPACE
    (queries are a corpus subset — the catalog's usage). Pass False when the
    query set is an external table whose ids may coincidentally collide with
    corpus ids, or the colliding candidate silently vanishes from top-k."""
    cand = with_norm(df, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    q = with_norm(queries, vec_col, id_col).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("q_v"), F.col("_n").alias("q_n")
    )
    # without the hint ts1, ts8, ts9, ts11, ts13, ts17, ts18, ts20 and ts21 broadcast the corpus instead
    return _topk(_scored_pairs(F.broadcast(q), cand, F.lit(True), exclude_self), k)


def lsh_bucket_topk(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    bits: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates and queries bucketed by sign-bit LSH;
    each query scores only its own bucket (single-probe). Recall trades off
    with 2^bits; multi-probe = union over neighboring buckets (not needed for
    the oracle surface). See cosine_topk for the exclude_self contract."""
    cand = with_norm(df, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    cand = cand.withColumn("bucket", sign_bucket(F.col("_v"), bits))
    q = with_norm(queries, vec_col, id_col).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("q_v"), F.col("_n").alias("q_n")
    )
    q = q.withColumn("bucket", sign_bucket(F.col("q_v"), bits))
    # without the hint ts2 broadcasts the corpus instead
    return _topk(_scored_pairs(F.broadcast(q), cand, "bucket", exclude_self), k)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold_e4: int,
    bits: int = 4,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) with floor(cos*1e4) >= threshold_e4,
    blocked by sign-bucket so the all-pairs join is intra-bucket only."""
    v = with_norm(df, vec_col, id_col).withColumn(
        "bucket", sign_bucket(F.col("_v"), bits)
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("va"),
        F.col("_n").alias("na"), "bucket",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"), "bucket",
    )
    cos = cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score_e4(cos).alias("score_e4"))
        .filter(F.col("score_e4") >= threshold_e4)
    )


def hard_negative_topk(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query, the top-k most-similar candidates whose label DIFFERS from the
    query's — the near-misses a triplet/InfoNCE loss learns most from
    (Xiong et al. 2021, ANCE). Same broadcast-query scan shape as
    cosine_topk; the label-mismatch predicate joins as the nested-loop
    condition, so positives are never scored. Output: (query_id,
    match_id, neg_label, score_e4, rank)."""
    from pyspark.sql import Window

    v = _as_double(F.col(vec_col))
    cand = df.select(
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("neg_label"),
        v.alias("_v"),
        norm(v).alias("_n"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(label_col).alias("q_label"),
        v.alias("q_v"),
        norm(v).alias("q_n"),
    )
    cos = cosine(F.col("q_v"), F.col("_v"), F.col("q_n"), F.col("_n"))
    scored = (
        # without the hint ts14 broadcasts the corpus instead
        F.broadcast(q)
        .join(cand, F.col("q_label") != F.col("neg_label"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("_cid").alias("match_id"),
            "neg_label",
            score_e4(cos).alias("score_e4"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_e4"), F.asc("match_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_range_search(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    threshold_e4: int,
    exclude_self: bool = True,
) -> DataFrame:
    """RADIUS search: every candidate with floor-e4 cosine >=
    ``threshold_e4`` per query — the "all sufficiently similar" twin of
    top-k retrieval (vector stores expose both; radius is what dedupe
    and recall-sweep tooling consume, because the result SET is a
    function of the data alone, not of k). Same broadcast-query scan
    shape as cosine_topk; the filter replaces the rank window, so there
    is no per-query state at all — fully map-side after the broadcast.
    Output: (query_id, match_id, score_e4)."""
    cand = with_norm(df, vec_col, id_col).withColumnRenamed(id_col, "_cid")
    q = with_norm(queries, vec_col, id_col).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("q_v"), F.col("_n").alias("q_n")
    )
    # without the hint ts12 broadcasts the corpus instead
    scored = _scored_pairs(F.broadcast(q), cand, F.lit(True), exclude_self)
    return scored.filter(F.col("score_e4") >= threshold_e4)


def topk_diversity(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Intra-list diversity (ILD) of each query's exact top-k: the
    pairwise-similarity profile of the RESULT SET — the recommender-
    quality metric that catches "five nearly identical neighbors"
    (high mean pair similarity) even when every individual score is
    excellent, i.e. the measurement side of what the MMR re-rank
    (rerank.py) optimizes.

    Per query: C(k,2) unordered result pairs, each scored with the SAME
    e4 cosine as the retrieval itself, reduced to
    (query_id, n_pairs, mean_pair_sim_e4, min_pair_sim_e4,
    max_pair_sim_e4) with the mean floored integer (sum div count).

    Scale shape: the pair table is queries * C(k,2) rows (result-set
    sized, tiny) and BROADCASTS into its two vector-fetch joins against
    the corpus — the corpus is scanned, never shuffled on a pair key."""
    top = cosine_topk(corpus, queries, vec_col, id_col, k=k)
    nv = with_norm(corpus, vec_col, id_col)
    a = top.select(
        "query_id",
        F.col("match_id").alias("m_a"),
        F.col("rank").alias("rank_a"),
    )
    b = top.select(
        "query_id",
        F.col("match_id").alias("m_b"),
        F.col("rank").alias("rank_b"),
    )
    pairs = a.join(b, "query_id").filter(F.col("rank_a") < F.col("rank_b"))
    va = nv.select(
        F.col(id_col).alias("m_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    vb = nv.select(
        F.col(id_col).alias("m_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    scored = (
        # without the hint ts17 broadcasts the embeddings scan instead
        va.join(F.broadcast(pairs), "m_a")
        .join(vb, "m_b")
        .select(
            "query_id",
            score_e4(
                cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
            ).alias("pair_sim_e4"),
        )
    )
    return scored.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(sum(pair_sim_e4) div count(1) AS BIGINT)").alias(
            "mean_pair_sim_e4"
        ),
        F.min("pair_sim_e4").cast("long").alias("min_pair_sim_e4"),
        F.max("pair_sim_e4").cast("long").alias("max_pair_sim_e4"),
    )

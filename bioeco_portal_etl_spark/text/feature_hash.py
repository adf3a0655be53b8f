"""The hashing trick (feature hashing, Weinberger et al. 2009) — fixed-
width sparse feature vectors with NO vocabulary.

A TF vectorizer needs a term->index dictionary: a full corpus pass, a
driver-side broadcast that grows with vocabulary, and an index that
breaks on unseen terms. Hashing sidesteps all three: feature index =
hash(term) % D, fixed D, stateless, streaming-friendly — the standard
first featurizer of large-scale text pipelines (Spark MLlib's HashingTF
is this operator). The price is collisions; this module therefore emits
the COLLISION AUDIT next to the vectors, because choosing D is exactly
the trade the audit quantifies.

Hash: the engine's md5-based h60 (the same cross-engine-exact base hash
as MinHash/CMS/KMV), so vectors and collision stats reproduce bit-for-
bit in the DuckDB oracle — no murmur-vs-md5 drift.

Scale shape: one explode + two partial-combinable aggregates; per-doc
output is <= D rows and the audit is a per-doc projection. Nothing here
is vocabulary-sized.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.sketches import h60
from bioeco_portal_etl_spark.text.tokenize import TOKEN_SPLIT, tokens


def collision_audit(
    docs: DataFrame, id_col: str, text_col: str, dim: int = 64, min_len: int = 1
) -> DataFrame:
    """Per-doc collision report: (doc_id, n_tokens, n_terms, n_buckets,
    collision_e6) with collision_e6 = 1e6 * (n_terms - n_buckets) div
    n_terms — the fraction of distinct terms that lost their own
    coordinate at this D. Two aggregates over the exploded tokens."""
    arr = F.filter(tokens(text_col), lambda t: F.length(t) >= min_len)
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(arr).alias("term")
    ).select("doc_id", "term", (h60(F.col("term")) % dim).alias("bucket"))
    per_term = ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c"), F.max("bucket").alias("bucket")
    )
    return per_term.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.countDistinct("bucket").cast("long").alias("n_buckets"),
        F.expr(
            "CAST((1000000 * (count(1) - count(DISTINCT bucket)))"
            " div count(1) AS BIGINT)"
        ).alias("collision_e6"),
    )


def duck_hashed_features(
    docs_select: str, dim: int = 64, min_len: int = 1
) -> str:
    """DuckDB CTE body mirroring both faces; exposes
    ``hf(doc_id, bucket, weight)`` and ``hf_audit(doc_id, n_tokens,
    n_terms, n_buckets, collision_e6)``."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60("term")
    arr = (
        f"list_filter(list_filter(string_split_regex(lower(text),"
        f" '{TOKEN_SPLIT}'), t -> t <> ''), t -> length(t) >= {min_len})"
    )
    return f"""__fh_docs AS ({docs_select}),
__fh_ex AS (
  SELECT doc_id, term, ({h}) % {dim} AS bucket
  FROM (SELECT doc_id, unnest({arr}) AS term FROM __fh_docs)
),
hf AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS weight
  FROM __fh_ex GROUP BY doc_id, bucket
),
__fh_terms AS (
  SELECT doc_id, term, count(*) AS c, max(bucket) AS bucket
  FROM __fh_ex GROUP BY doc_id, term
),
hf_audit AS (
  SELECT doc_id,
         sum(c)::BIGINT AS n_tokens,
         count(*)::BIGINT AS n_terms,
         count(DISTINCT bucket)::BIGINT AS n_buckets,
         CAST((1000000 * (count(*) - count(DISTINCT bucket)))
              // count(*) AS BIGINT) AS collision_e6
  FROM __fh_terms GROUP BY doc_id
)"""

"""Sparse document-document cosine similarity via an inverted-index join.

Dense ANN (similarity/) answers "nearest by embedding"; corpora without
embeddings still need document similarity for clustering, related-page
panels, and near-dup triage — computed from the term vectors themselves.
The scalable plan is the classic IR one: join the POSTINGS LIST with
itself on term, so each term contributes its doc-pair partial products
and a pair's dot product assembles in one grouped sum. Cost is
sum over terms of C(df_t, 2) — dominated by stopword-frequency terms, so
a ``max_df`` cut (exactly the prefix-filtering move of td10) bounds the
join fan-out; dropped terms are COMMON, which mostly shifts absolute
scores, not the near-duplicate ranking the operator feeds.

Exactness: scores are squared cosine in e6 — cos2_e6 =
(1e6 * dot^2) div (|a|^2 * |b|^2) — every factor an integer (dot and
squared norms are sums of integer term-count products), so NO sqrt
enters the surface and the oracle matches bit-for-bit. Squared cosine is
monotone in cosine for nonnegative term counts, so rankings and
thresholds translate directly.

Magnitudes: counts c <= ~1e4 per term, dot <= 1e8ish; dot^2 can reach
1e16 and 1e6 * dot^2 would overflow int64 — so the e6 scaling divides
FIRST by |a|^2 (dot^2 <= |a|^2 * |b|^2 keeps the quotient <= |b|^2):
cos2_e6 = ((1000000 * dot div na2) * dot) div nb2, algebraically within
[0, 1e6] with one extra floor (documented; both engines compute the
identical expression).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.text.tokenize import (
    TOKEN_SPLIT,
    duck_shingles,
    duck_tokens,
    shingles,
    tokens,
)


def term_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 4,
    shingle_k: int = 0,
) -> DataFrame:
    """(doc_id, term, c): per-document term frequencies — the sparse
    vector rows.

    ``shingle_k=0`` (default): unigram terms over length->= ``min_len``
    tokens. ``shingle_k>=2``: k-word shingles (multiplicity KEPT — these
    are counts, not the distinct sets MinHash uses) over ALL tokens; on
    a small closed vocabulary every unigram is stopword-frequent, so
    shingles are what gives the df distribution a rare tail for
    ``max_df`` to bite on."""
    # two select layers (the text/dedupe.py CollapseProject rule): the
    # token array materializes as a named column so shingles()'s size
    # guard + per-shingle slices don't each re-split the text
    tok = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__tok")
    )
    if shingle_k >= 2:
        arr = shingles(F.col("__tok"), shingle_k, distinct=False)
    else:
        arr = F.filter(F.col("__tok"), lambda t: F.length(t) >= min_len)
    return (
        tok.select("doc_id", F.explode(arr).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def doc_cosine2_pairs(
    tc: DataFrame, max_df: int = 20, min_cos2_e6: int = 0
) -> DataFrame:
    """(doc_a, doc_b, dot, cos2_e6) for doc pairs sharing at least one
    term with document frequency <= ``max_df``. The df cut bounds the
    per-term fan-out at C(max_df, 2); squared norms are computed over
    the SAME filtered term space so cos2 stays a true cosine in that
    space (<= 1e6)."""
    df_t = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = tc.join(
        df_t.filter(F.col("df") <= max_df).select("term"), "term"
    )
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    a = kept.select(
        F.col("term"), F.col("doc_id").alias("doc_a"), F.col("c").alias("ca")
    )
    b = kept.select(
        F.col("term"), F.col("doc_id").alias("doc_b"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    out = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("dot").cast("long").alias("dot"),
            F.expr(
                "CAST(((1000000 * dot div na2) * dot) div nb2 AS BIGINT)"
            ).alias("cos2_e6"),
        )
    )
    if min_cos2_e6 > 0:
        out = out.filter(F.col("cos2_e6") >= min_cos2_e6)
    return out


def duck_doc_cosine2(
    docs_select: str,
    max_df: int = 20,
    min_len: int = 4,
    min_cos2_e6: int = 0,
    shingle_k: int = 0,
) -> str:
    """DuckDB CTE body mirroring term_counts + doc_cosine2_pairs;
    exposes ``dcos(doc_a, doc_b, dot, cos2_e6)``. ``docs_select`` must
    project (doc_id, text)."""
    if shingle_k >= 2:
        arr = duck_shingles(duck_tokens("text"), shingle_k, distinct=False)
    else:
        arr = (
            f"list_filter(list_filter(string_split_regex(lower(text),"
            f" '{TOKEN_SPLIT}'), t -> t <> ''), t -> length(t) >= {min_len})"
        )
    having = (
        f"HAVING CAST(((1000000 * dot) // max(na2) * dot) // max(nb2)"
        f" AS BIGINT) >= {min_cos2_e6}"
        if min_cos2_e6 > 0
        else ""
    )
    # the HAVING form above re-floors differently; keep the filter in an
    # outer WHERE instead so both engines evaluate the identical chain
    del having
    where = f"WHERE cos2_e6 >= {min_cos2_e6}" if min_cos2_e6 > 0 else ""
    return f"""__dc_docs AS ({docs_select}),
__dc_tc AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id, unnest({arr}) AS term FROM __dc_docs)
  GROUP BY doc_id, term
),
__dc_kept AS (
  SELECT tc.doc_id, tc.term, tc.c
  FROM __dc_tc tc
  JOIN (SELECT term FROM __dc_tc GROUP BY term
        HAVING count(*) <= {max_df}) f ON f.term = tc.term
),
__dc_norms AS (
  SELECT doc_id, sum(c * c) AS n2 FROM __dc_kept GROUP BY doc_id
),
__dc_dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.c * b.c) AS dot
  FROM __dc_kept a JOIN __dc_kept b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
dcos AS (
  SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot, cos2_e6
  FROM (
    SELECT d.doc_a, d.doc_b, d.dot,
           CAST(((1000000 * d.dot // na.n2) * d.dot) // nb.n2 AS BIGINT)
             AS cos2_e6
    FROM __dc_dots d
    JOIN __dc_norms na ON na.doc_id = d.doc_a
    JOIN __dc_norms nb ON nb.doc_id = d.doc_b
  ) {where}
)"""

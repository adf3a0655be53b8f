"""BM25 ranked retrieval over the tokenized corpus — the lexical leg of
every hybrid (keyword + vector) search stack, and the scoring function
behind Lucene/Elasticsearch relevance (Robertson & Zaragoza 2009, "The
Probabilistic Relevance Framework: BM25 and Beyond" — public algorithm).

Unlike tf-idf (text/analysis.py tfidf_top_terms), BM25 saturates term
frequency (k1) and normalizes by document length (b), which is what makes
it the production default: long boilerplate documents stop winning on raw
counts.

Plan shape (one corpus scan, everything else tiny):
  - scan -> (doc, token array) -> dl = size(tokens): document lengths are
    computed in the scan projection, no aggregate;
  - corpus stats (N, Σdl) reduce to ONE row; per-query-term document
    frequencies reduce to |Q| rows — both broadcast back, so the only
    data-sized shuffle is the (doc, term) tf aggregate, filtered to the
    query terms BEFORE the exchange (the filter runs inside the scan
    stage, so at 100 TB the shuffle carries matching postings only, a
    ~|Q|/|V| fraction of the token stream);
  - scoring is a per-row expression over (tf, df, dl, avgdl) followed by
    a top-k window on the score.

Determinism contract: the per-term contribution is floored at e4 BEFORE
the per-document sum, so the summed score is an exact BIGINT and the
ranking is engine-portable; the scoring expression is ONE shared SQL
string (`CONTRIB_EXPR`) evaluated verbatim by both Spark and DuckDB, so
every IEEE operation associates identically (PORTABILITY.md: identical
spelling, left-association, transcendentals only inside a floor).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.text.tokenize import duck_tokens, tokens

K1 = "1.2"
B = "0.75"

# The Lucene-style BM25 term contribution, e4-floored. Shared VERBATIM
# between engines (column names tf/df_t/dl/avgdl/n_docs must be in scope);
# {k1}/{b} are decimal literals, parsed to the same nearest-double by both
# engines.
CONTRIB_EXPR = (
    "CAST(floor(10000.0"
    " * ln(1.0 + (CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))"
    " * (tf * ({k1} + 1.0))"
    " / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) AS BIGINT)"
)


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 100,
    k1: str = K1,
    b: str = B,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query by BM25.

    Output: (doc id, n_hit_terms, bm25_e4, rank) — only documents that
    contain at least one query term (retrieval semantics: non-matching
    docs score 0 and are not returned). ``bm25_e4`` is the sum of
    per-term e4-floored contributions (exact BIGINT); rank ties break on
    the id.

    ``k1``/``b`` are passed as decimal-literal STRINGS so both engines
    parse the identical literal (a Python float repr could add digits).
    """
    base = df.select(
        F.col(id_col), tokens(text_col).alias("__tok")
    ).select(F.col(id_col), F.col("__tok"), F.size("__tok").alias("dl"))
    stats = base.agg(
        F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.col("n_docs"),
        F.expr("CAST(sum_dl AS DOUBLE) / n_docs").alias("avgdl"),
    )
    qt = (
        base.select(F.col(id_col), F.col("dl"), F.explode("__tok").alias("__t"))
        .filter(F.col("__t").isin(list(query_terms)))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = qt.groupBy("__t").agg(F.count(F.lit(1)).alias("df_t"))
    contrib = F.expr(CONTRIB_EXPR.format(k1=k1, b=b))
    per_doc = (
        qt.join(dfreq, "__t")
        .join(stats)
        .select(F.col(id_col), contrib.alias("__c_e4"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("__c_e4").cast("long").alias("bm25_e4"),
        )
    )
    # top-k first via orderBy+limit — Spark plans TakeOrderedAndProject
    # (per-partition heaps + driver merge of k rows, no global sort); the
    # rank window then runs over the k survivors only, so the single-
    # partition window exchange moves k rows, not every matching doc.
    top = per_doc.orderBy(F.desc("bm25_e4"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("bm25_e4"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def duck_bm25_ctes(
    text_expr: str,
    id_col: str,
    from_table: str,
    query_terms: list[str],
    k: int = 100,
    k1: str = K1,
    b: str = B,
) -> str:
    """DuckDB CTE chain mirroring :func:`bm25_topk`; the final CTE
    ``bm25r`` has columns (``id_col``, n_hit_terms, bm25_e4, rank)."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    contrib = CONTRIB_EXPR.format(k1=k1, b=b)
    return f"""
base AS (
  SELECT {id_col}, {duck_tokens(text_expr)} AS tok FROM {from_table}
),
bl AS (SELECT {id_col}, tok, len(tok)::BIGINT AS dl FROM base),
stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM bl
),
qt AS (
  SELECT {id_col}, t AS __t, count(*)::BIGINT AS tf, max(dl)::BIGINT AS dl
  FROM bl, unnest(tok) AS u(t)
  WHERE t IN ({terms})
  GROUP BY {id_col}, t
),
dfreq AS (SELECT __t, count(*)::BIGINT AS df_t FROM qt GROUP BY __t),
perdoc AS (
  SELECT q.{id_col},
         count(*)::BIGINT AS n_hit_terms,
         sum({contrib})::BIGINT AS bm25_e4
  FROM qt q JOIN dfreq d ON q.__t = d.__t CROSS JOIN stats
  GROUP BY q.{id_col}
),
bm25r AS (
  SELECT * FROM (
    SELECT {id_col}, n_hit_terms, bm25_e4,
           row_number() OVER (ORDER BY bm25_e4 DESC, {id_col}) AS rank
    FROM perdoc)
  WHERE rank <= {k}
)"""

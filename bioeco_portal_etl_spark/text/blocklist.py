"""Category blocklist filtering — the wordlist-driven safety/policy
filter stage every corpus pipeline runs next to PII redaction (tx6) and
quality gating: count per-document hits against categorized term lists
and emit a keep/drop verdict against per-category budgets.

The lists themselves are pipeline CONFIG (tens of thousands of terms at
most), so the scale shape is fixed: explode the token stream once,
broadcast-join the (term, category) table, and reduce with conditional
sums — the corpus-sized shuffle is the per-document rollup and nothing
else. Matching is exact-token (the standard first tier; stemming or
fuzzy tiers compose in front via functions/recode or text/fuzzy).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.text.tokenize import tokens


def blocklist_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    categories: dict[str, list[str]],
    max_hits: int = 2,
) -> DataFrame:
    """Per-document category hit counts + verdict.

    Output: (id, n_tokens, hits_<cat>... one column per category in
    sorted name order, keep) — ``keep`` is 1 iff EVERY category's hit
    count is <= ``max_hits``. Documents with zero tokens keep trivially
    (no row is lost: the rollup starts from the document table and
    left-joins the hits)."""
    cats = sorted(categories)
    bl = df.sparkSession.createDataFrame(
        [(t, c) for c in cats for t in categories[c]],
        "term string, category string",
    )
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    hits = (
        # without the hint tx25 broadcasts the token stream instead
        tok.join(F.broadcast(bl), "term")
        .groupBy(id_col)
        .agg(
            *[
                F.sum((F.col("category") == c).cast("long")).alias(
                    f"hits_{c}"
                )
                for c in cats
            ]
        )
    )
    base = df.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    out = base.join(hits, id_col, "left")
    for c in cats:
        out = out.withColumn(
            f"hits_{c}", F.coalesce(F.col(f"hits_{c}"), F.lit(0))
        )
    keep = None
    for c in cats:
        cond = F.col(f"hits_{c}") <= max_hits
        keep = cond if keep is None else (keep & cond)
    return out.withColumn("keep", keep.cast("long"))


def duck_blocklist_sql(
    from_table: str,
    id_col: str,
    text_expr_tokens: str,
    categories: dict[str, list[str]],
    max_hits: int = 2,
) -> str:
    """DuckDB mirror of :func:`blocklist_hits` (``text_expr_tokens`` is
    the duck_tokens(...) expression for the text column); a full SELECT
    ordered by id is left to the caller."""
    cats = sorted(categories)
    values = ", ".join(
        f"('{t}', '{c}')" for c in cats for t in categories[c]
    )
    hit_cols = ", ".join(
        f"sum(CASE WHEN category = '{c}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS hits_{c}"
        for c in cats
    )
    coalesced = ", ".join(
        f"coalesce(hits_{c}, 0)::BIGINT AS hits_{c}" for c in cats
    )
    keep = " AND ".join(f"coalesce(hits_{c}, 0) <= {max_hits}" for c in cats)
    return f"""
bl(term, category) AS (VALUES {values}),
tok AS (
  SELECT {id_col}, unnest({text_expr_tokens}) AS term FROM {from_table}
),
hits AS (
  SELECT {id_col}, {hit_cols}
  FROM tok JOIN bl USING (term) GROUP BY {id_col}
),
base AS (
  SELECT {id_col}, len({text_expr_tokens})::BIGINT AS n_tokens
  FROM {from_table}
),
verdicts AS (
  SELECT base.{id_col}, n_tokens, {coalesced},
         CASE WHEN {keep} THEN 1 ELSE 0 END::BIGINT AS keep
  FROM base LEFT JOIN hits ON base.{id_col} = hits.{id_col}
)"""

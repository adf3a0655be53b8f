"""Split stratification audit: does each train/val split preserve the
corpus's stratum mix? A hash split is uniform in EXPECTATION; this
measures the realized mix so a skewed split (tiny stratum, unlucky hash,
or a buggy split key) is caught before a model trains on it — the
counterpart to dq3's leakage audit (leakage checks rows don't CROSS
splits; this checks each split still LOOKS like the corpus).

One scan, two grouped counts joined back on dimension-sized frames
(splits × strata); all arithmetic is integer e6 shares, so the audit is
engine-exact and partial-aggregatable — runs as cheaply as a count at
any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def split_balance(
    df: DataFrame, split_col: str, stratum_col: str
) -> DataFrame:
    """(split, stratum, n, share_e6, corpus_share_e6, skew_e6): share_e6
    is the stratum's share within its split, corpus_share_e6 its share
    of the whole corpus, skew_e6 the signed difference — 0 means the
    split mirrors the corpus exactly for that stratum."""
    cell = df.groupBy(
        F.col(split_col).alias("split"), F.col(stratum_col).alias("stratum")
    ).agg(F.count(F.lit(1)).alias("n"))
    split_tot = cell.groupBy("split").agg(F.sum("n").alias("split_n"))
    strat_tot = cell.groupBy("stratum").agg(F.sum("n").alias("strat_n"))
    total = cell.agg(F.sum("n").alias("total_n"))
    out = (
        cell.join(split_tot, "split")
        .join(strat_tot, "stratum")
        .crossJoin(total)
    )
    share = F.expr("CAST((1000000 * n) div split_n AS BIGINT)")
    corpus = F.expr("CAST((1000000 * strat_n) div total_n AS BIGINT)")
    return out.select(
        "split",
        "stratum",
        F.col("n").cast("long").alias("n"),
        share.alias("share_e6"),
        corpus.alias("corpus_share_e6"),
        (share - corpus).alias("skew_e6"),
    )


def duck_split_balance(source_sql: str) -> str:
    """DuckDB CTE body mirroring :func:`split_balance`; exposes
    ``sbal(split, stratum, n, share_e6, corpus_share_e6, skew_e6)``.
    ``source_sql`` must project (split, stratum)."""
    return f"""__sb_cell AS (
  SELECT split, stratum, count(*)::BIGINT AS n
  FROM ({source_sql}) GROUP BY split, stratum
),
__sb_split AS (
  SELECT split, sum(n)::BIGINT AS split_n FROM __sb_cell GROUP BY split
),
__sb_strat AS (
  SELECT stratum, sum(n)::BIGINT AS strat_n FROM __sb_cell GROUP BY stratum
),
__sb_tot AS (SELECT sum(n)::BIGINT AS total_n FROM __sb_cell),
sbal AS (
  SELECT c.split, c.stratum, c.n,
         CAST((1000000 * c.n) // s.split_n AS BIGINT) AS share_e6,
         CAST((1000000 * g.strat_n) // t.total_n AS BIGINT)
           AS corpus_share_e6,
         CAST((1000000 * c.n) // s.split_n AS BIGINT)
           - CAST((1000000 * g.strat_n) // t.total_n AS BIGINT) AS skew_e6
  FROM __sb_cell c
  JOIN __sb_split s USING (split)
  JOIN __sb_strat g USING (stratum)
  CROSS JOIN __sb_tot t
)"""

"""DSIR-style data selection with hashed-feature importance weights
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling" — the hashed n-gram variant).

The published recipe estimates target/raw distributions over HASHED
token buckets (so the feature space is fixed-width regardless of
vocabulary) and weights each raw document by its likelihood ratio under
the two distributions; resampling by that weight shifts the raw corpus
toward the target domain.

Engine-exact variant: the per-bucket ratio is an e6 integer rational
((n_target+1)·(N_raw+B)) div ((n_raw+1)·(N_target+B)) — add-one
smoothed, no logs, no doubles — and a document's weight is the SUM of
its tokens' bucket ratios (mean likelihood ratio × n_tokens; same
ordering as the published log-sum for resampling purposes, and
bit-portable across engines).

Scale shape: one explode of the token stream, ONE tiny aggregate to the
B-row bucket table (partial-agg shuffles to B keys), then a broadcast
join of that B-row table back onto the token stream and a per-doc sum.
No driver collect, no cross join; the bucket table is O(B) regardless
of corpus size, so at 100 TB this is two linear passes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bioeco_portal_etl_spark.sketches import duck_h60, h60
from bioeco_portal_etl_spark.text.tokenize import duck_tokens, tokens

DEFAULT_BUCKETS = 64


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Importance weight per document: sum over token occurrences of the
    smoothed target/raw bucket likelihood ratio (e6 integer).

    ``is_target`` marks the in-domain rows (they are PART of the raw
    corpus, as in the paper's raw ⊇ target setting). Output:
    (id_col, n_tokens, w_e6)."""
    tok = df.select(
        F.col(id_col),
        is_target.cast("long").alias("__t"),
        F.explode(tokens(F.col(text_col))).alias("__w"),
    ).withColumn("__b", h60(F.col("__w")) % buckets)

    stats = tok.groupBy("__b").agg(
        F.sum("__t").alias("__n_t"), F.count(F.lit(1)).alias("__n_r")
    )
    # Totals fold the B-row bucket table, not the token stream — the
    # token explode is scanned twice total (stats + final join), not 3x.
    totals = stats.agg(
        F.sum("__n_t").alias("__tot_t"), F.sum("__n_r").alias("__tot_r")
    )
    # totals derives FROM stats, so the cross join is a self-join by
    # lineage — qualify both sides or Spark flags __n_t as ambiguous.
    ratio = (
        stats.alias("s")
        .crossJoin(totals.alias("t"))
        .select(
            F.col("s.__b").alias("__b"),
            F.expr(
                f"(1000000 * (s.__n_t + 1) * (t.__tot_r + {buckets}))"
                f" div ((s.__n_r + 1) * (t.__tot_t + {buckets}))"
            ).cast("long").alias("__ratio_e6"),
        )
    )
    return (
        # without the hint x31 broadcasts the token stream instead
        tok.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__ratio_e6").cast("long").alias("w_e6"),
        )
    )


def duck_dsir_sql(
    source_sql: str,
    id_col: str,
    text_col: str,
    is_target_sql: str,
    buckets: int = DEFAULT_BUCKETS,
) -> str:
    """DuckDB mirror of :func:`dsir_weights` (CTE chain ending in
    ``dsirr``); caller selects from ``dsirr`` and appends ORDER BY."""
    return f"""
dtok AS (
  SELECT {id_col}, ({is_target_sql})::BIGINT AS __t,
         unnest({duck_tokens(text_col)}) AS __w
  FROM ({source_sql})
),
dbkt AS (
  SELECT {id_col}, __t, ({duck_h60('__w')}) % {buckets} AS __b FROM dtok
),
dstats AS (
  SELECT __b, sum(__t)::BIGINT AS __n_t, count(*)::BIGINT AS __n_r
  FROM dbkt GROUP BY __b
),
dtotals AS (
  SELECT sum(__n_t)::BIGINT AS __tot_t, sum(__n_r)::BIGINT AS __tot_r FROM dstats
),
dratio AS (
  SELECT __b,
         ((1000000 * (__n_t + 1) * (__tot_r + {buckets}))
          // ((__n_r + 1) * (__tot_t + {buckets})))::BIGINT AS __ratio_e6
  FROM dstats, dtotals
),
dsirr AS (
  SELECT {id_col}, count(*)::BIGINT AS n_tokens,
         sum(__ratio_e6)::BIGINT AS w_e6
  FROM dbkt JOIN dratio USING (__b)
  GROUP BY {id_col}
)"""

"""Join-cardinality estimation audit: the textbook uniform-frequency
estimate |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B) (Selinger et al. 1979 —
what every cost-based optimizer assumes absent histograms) compared
against the EXACT join size computed from per-key counts — WITHOUT
executing the join: |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k), a key-keyed agg
join of two count tables.

The audit row an optimizer-tuning workflow reads: when err_e6 is large,
the key's frequency distribution is skewed and the plan needs
histogram/skew hints (x32's skew report is the follow-up). Companion to
x34's selectivity brackets — that audits FILTER estimates, this audits
JOIN estimates.

All integer arithmetic; the n_left·n_right product is the one
magnitude to watch (documented bound: fine through ~3e9 rows per side;
beyond that, decompose floor((a·b)/c) = (a div c)·b + ((a mod c)·b)
div c before the product overflows).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def join_card_audit(
    left: DataFrame, right: DataFrame, key: str, label: str
) -> DataFrame:
    """One row: (join_name, n_left, n_right, ndv_left, ndv_right,
    actual_rows, est_rows, err_e6) with err_e6 = signed
    (1e6·(est−actual)) div actual."""
    lc = left.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rc = right.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    actual = (
        lc.join(rc, "k")
        .agg(F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0)).alias("actual"))
    )
    lstats = lc.agg(
        F.sum("cl").alias("n_left"), F.count(F.lit(1)).alias("ndv_left")
    )
    rstats = rc.agg(
        F.sum("cr").alias("n_right"), F.count(F.lit(1)).alias("ndv_right")
    )
    return (
        lstats.crossJoin(rstats)
        .crossJoin(actual)
        .select(
            F.lit(label).alias("join_name"),
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            F.col("ndv_left").cast("long").alias("ndv_left"),
            F.col("ndv_right").cast("long").alias("ndv_right"),
            F.col("actual").cast("long").alias("actual_rows"),
            F.expr(
                "CAST((n_left * n_right)"
                " div greatest(ndv_left, ndv_right) AS BIGINT)"
            ).alias("est_rows"),
            # signed numerator: div truncates in Spark but // floors in
            # DuckDB — use the floor(::DOUBLE /) spelling on BOTH
            # engines (PORTABILITY.md signed-division rule)
            F.expr(
                "CASE WHEN actual > 0 THEN CAST(floor(CAST(1000000 *"
                " ((n_left * n_right) div greatest(ndv_left, ndv_right)"
                "  - actual) AS DOUBLE) / actual) AS BIGINT) END"
            ).alias("err_e6"),
        )
    )


def duck_join_card_audit(
    left_sql: str, right_sql: str, key: str, label: str
) -> str:
    """DuckDB SELECT mirroring :func:`join_card_audit` (one row, same
    aliases). ``left_sql``/``right_sql`` project the join key ``key``."""
    return f"""
SELECT '{label}' AS join_name,
       ls.n_left, rs.n_right, ls.ndv_left, rs.ndv_right,
       a.actual AS actual_rows,
       CAST((ls.n_left * rs.n_right)
            // greatest(ls.ndv_left, rs.ndv_right) AS BIGINT) AS est_rows,
       CASE WHEN a.actual > 0 THEN CAST(floor(CAST(1000000 *
            ((ls.n_left * rs.n_right)
             // greatest(ls.ndv_left, rs.ndv_right) - a.actual)
            AS DOUBLE) / a.actual) AS BIGINT) END AS err_e6
FROM (SELECT count(*)::BIGINT AS n_left,
             count(DISTINCT {key})::BIGINT AS ndv_left
      FROM ({left_sql})) ls,
     (SELECT count(*)::BIGINT AS n_right,
             count(DISTINCT {key})::BIGINT AS ndv_right
      FROM ({right_sql})) rs,
     (SELECT coalesce(sum(cl * cr), 0)::BIGINT AS actual FROM
        (SELECT {key} AS k, count(*) AS cl FROM ({left_sql}) GROUP BY 1) l
        JOIN
        (SELECT {key} AS k, count(*) AS cr FROM ({right_sql}) GROUP BY 1) r
        USING (k)) a"""

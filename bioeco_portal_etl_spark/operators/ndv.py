"""Sample-based NDV (distinct-count) estimation, audited: the Chao
(1984) estimator d̂ = d_s + f1²/(2·f2) computed from a deterministic
10% row sample and compared against the true distinct count — the
profiling question every optimizer and stats-collection job faces
("can I estimate column cardinality without a full scan?"), with the
answer MEASURED per column instead of assumed (the x34/x44 estimator-
audit convention).

f1/f2 are the singleton/doubleton counts in the sample — Chao's insight
is that the unseen-mass is governed by how many values were seen barely
once. Heavy-hitter columns estimate well; near-unique columns are the
known hard case (f2 → 0) and surface NULL rather than a fabricated
number.

Plan: one sampled per-value count agg (combinable), one tiny rollup per
column, plus the exact count for the audit — all on the sample except
the one true-NDV aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.operators.sampling import BUCKETS, hash_bucket


def ndv_estimate_audit(
    df: DataFrame,
    row_key: F.Column,
    columns: list[str],
    sample_buckets: int = 1000,
) -> DataFrame:
    """(column_name, true_ndv, sample_rows, sample_ndv, f1, f2,
    chao_est, err_e6) per audited column; the sample is rows whose
    md5-bucket of ``row_key`` < ``sample_buckets`` (of 10000). chao_est
    and the signed err_e6 are NULL when f2 = 0 (the estimator's
    documented failure mode)."""
    sampled = df.filter(hash_bucket(row_key) < sample_buckets)
    out = None
    for c in columns:
        vc = sampled.groupBy(F.col(c).alias("v")).agg(
            F.count(F.lit(1)).alias("n")
        )
        s = vc.agg(
            F.count(F.lit(1)).alias("sample_ndv"),
            F.sum("n").alias("sample_rows"),
            F.sum((F.col("n") == 1).cast("long")).alias("f1"),
            F.sum((F.col("n") == 2).cast("long")).alias("f2"),
        )
        t = df.agg(F.count_distinct(F.col(c)).alias("true_ndv"))
        row = (
            s.crossJoin(t)
            .select(
                F.lit(c).alias("column_name"),
                F.col("true_ndv").cast("long").alias("true_ndv"),
                F.col("sample_rows").cast("long").alias("sample_rows"),
                F.col("sample_ndv").cast("long").alias("sample_ndv"),
                F.col("f1").cast("long").alias("f1"),
                F.col("f2").cast("long").alias("f2"),
                # Chao84 with integer floor; f1²/(2 f2) stays small at
                # sample scale — both factors sample-bounded
                F.expr(
                    "CASE WHEN f2 > 0 THEN"
                    " CAST(sample_ndv + (f1 * f1) div (2 * f2) AS BIGINT)"
                    " END"
                ).alias("chao_est"),
            )
            .select(
                "*",
                # signed -> floor(::DOUBLE /) on both engines
                F.expr(
                    "CASE WHEN chao_est IS NOT NULL AND true_ndv > 0 THEN"
                    " CAST(floor(CAST(1000000 * (chao_est - true_ndv)"
                    " AS DOUBLE) / true_ndv) AS BIGINT) END"
                ).alias("err_e6"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def duck_ndv_estimate_audit(
    source_sql: str,
    row_key_expr: str,
    columns: list[str],
    sample_buckets: int = 1000,
) -> str:
    """DuckDB SELECT mirroring :func:`ndv_estimate_audit` (UNION ALL,
    same aliases). ``row_key_expr`` must match the Spark row_key cast
    to string the way hash_bucket does (md5 of the string form)."""
    bucket = (
        "list_reduce(list_transform(range(1, 9),"
        f" i -> (strpos('0123456789abcdef',"
        f" substr(md5({row_key_expr}), i, 1)) - 1)::BIGINT),"
        f" (a, x) -> a * 16 + x) % {BUCKETS}"
    )
    parts = []
    for c in columns:
        parts.append(f"""
SELECT '{c}' AS column_name,
       (SELECT count(DISTINCT {c})::BIGINT FROM ({source_sql})) AS true_ndv,
       sum(n)::BIGINT AS sample_rows,
       count(*)::BIGINT AS sample_ndv,
       sum((n = 1)::BIGINT)::BIGINT AS f1,
       sum((n = 2)::BIGINT)::BIGINT AS f2,
       CASE WHEN sum((n = 2)::BIGINT) > 0 THEN
         CAST(count(*) + (sum((n = 1)::BIGINT) * sum((n = 1)::BIGINT))
              // (2 * sum((n = 2)::BIGINT)) AS BIGINT) END AS chao_est,
       CASE WHEN sum((n = 2)::BIGINT) > 0
             AND (SELECT count(DISTINCT {c}) FROM ({source_sql})) > 0 THEN
         CAST(floor(CAST(1000000 *
              (CAST(count(*) + (sum((n = 1)::BIGINT)
                                * sum((n = 1)::BIGINT))
                    // (2 * sum((n = 2)::BIGINT)) AS BIGINT)
               - (SELECT count(DISTINCT {c}) FROM ({source_sql})))
              AS DOUBLE)
              / (SELECT count(DISTINCT {c}) FROM ({source_sql})))
              AS BIGINT) END AS err_e6
FROM (
  SELECT {c} AS v, count(*)::BIGINT AS n
  FROM ({source_sql}) WHERE {bucket} < {sample_buckets}
  GROUP BY {c}
)""")
    return "\nUNION ALL\n".join(parts)

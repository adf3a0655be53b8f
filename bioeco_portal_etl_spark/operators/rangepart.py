"""Range-partitioner boundary estimation + balance audit — the sampling
step behind ``repartitionByRange`` / sorted-table writers, surfaced as an
inspectable operator.

A range shuffle (global sort, z-order write, sorted-bucket layout) is
only as good as its split points: boundaries from a bad sample put half
the data in one reducer. Engines estimate boundaries by sampling; this
module does the same with a DETERMINISTIC sample — rows whose md5-based
``h60(key) % 1000`` falls under a permille threshold — so the boundary
table is a pure function of the data (reproducible plans, oracle-
checkable) instead of an RNG artifact. Boundary j (of B-1) is the
sample's j/B quantile by frequency-table rank selection (the winsorize
lesson: the window runs over the DISTINCT-value table, never a global
row sort).

The audit half assigns every row to its range bucket (broadcast join
against the B-1 boundary rows; bucket = #boundaries <= value) and
reports per-bucket row counts and value spans — read est vs ideal n/B
to decide whether the sample rate or the key choice needs fixing
BEFORE paying for the full range shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bioeco_portal_etl_spark.sketches import h60


def range_boundaries(
    df: DataFrame,
    value_col: str,
    id_col: str,
    buckets: int = 8,
    sample_permille: int = 50,
) -> DataFrame:
    """(boundary_rank, boundary): the B-1 split values estimated from
    the deterministic md5 sample. ``value_col`` must be integer-typed;
    ``id_col`` drives the sampling hash (sample rows, not values, so
    heavy values are proportionally represented)."""
    sampled = df.filter(
        h60(F.col(id_col).cast("string")) % 1000 < sample_permille
    ).select(F.col(value_col).alias("__v"))
    freq = sampled.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(F.lit(1))
    cum = freq.select(
        "__v",
        F.sum("__c").over(w.orderBy("__v")).alias("cum"),
        F.sum("__c").over(w).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.lit(buckets) * F.col("cum") - F.lit(j) * F.col("n") >= 0,
                F.col("__v"),
            )
        ).alias(f"__b{j}")
        for j in range(1, buckets)
    ]
    wide = cum.groupBy().agg(*picks)
    stacked = wide.selectExpr(
        "stack({n}, {args}) AS (boundary_rank, boundary)".format(
            n=buckets - 1,
            args=", ".join(
                f"CAST({j} AS BIGINT), __b{j}" for j in range(1, buckets)
            ),
        )
    )
    return stacked


def range_assignment_audit(
    df: DataFrame, value_col: str, boundaries: DataFrame
) -> DataFrame:
    """Assign every row to its range bucket (bucket = #boundaries <=
    value, so bucket 0 is (-inf, b1) and bucket B-1 is [b_{B-1}, inf))
    and report (bucket, n_rows, min_v, max_v).

    Shape: the per-VALUE frequency table (one partial-combinable
    aggregate over the data) crosses the broadcast B-1 boundary rows —
    constant fan-out over the distinct-value table, never over raw rows
    — and the bucket index falls out as sum(v >= boundary)."""
    counts = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.count(F.lit(1)).alias("n_rows_v")
    )
    b = boundaries.select("boundary")
    per_value = (
        counts.join(b, how="cross")
        .groupBy("__v")
        .agg(
            F.max("n_rows_v").alias("n_rows_v"),
            F.sum((F.col("__v") >= F.col("boundary")).cast("long")).alias(
                "bucket"
            ),
        )
    )
    return per_value.groupBy("bucket").agg(
        F.sum("n_rows_v").alias("n_rows"),
        F.min("__v").alias("min_v"),
        F.max("__v").alias("max_v"),
    )

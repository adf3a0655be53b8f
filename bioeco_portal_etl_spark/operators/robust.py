"""Robust per-group statistics — median and MAD by rank selection.

Median/MAD (median absolute deviation) are the outlier-resistant
location/spread pair every data-quality dashboard wants, but the
interpolating ``percentile_cont`` family is a cross-engine trap: Spark
evaluates ``(1-g)*lo + g*hi`` where DuckDB computes ``(lo+hi)/2`` — one
extra rounding apart, and a hash gate flips on the last ulp. Rank
selection sidesteps floats entirely: the LOWER MEDIAN is the element at
1-based position ``(n+1) div 2`` of the (value, tiebreak)-sorted group —
an exact data value, identical in any engine.

Plan shape: median = one window (row_number + count over the group) +
filter — a single hash exchange and in-partition sort; MAD repeats the
same shape over |x - median| after a broadcast join of the per-group
medians (group cardinality ≪ rows). Two exchanges total. At 100 TB the
same selection runs per-group fully parallel; an approximate alternative
(percentile_approx) trades exactness for one fewer sort — this operator
is the exact tier.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _lower_median(
    df: DataFrame, group_cols: list[str], value_col: str, tiebreak: str, out: str
) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy(value_col, tiebreak)
    wc = Window.partitionBy(*group_cols)
    return (
        df.select(
            *group_cols,
            value_col,
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(*group_cols, F.col(value_col).alias(out))
    )


def median_mad(
    df: DataFrame, group_cols: list[str], value_col: str, tiebreak: str
) -> DataFrame:
    """(group..., n, median, mad) per group — lower-median rank selection
    for both statistics; ``tiebreak`` makes the order total so the
    selected element is unique cross-engine."""
    med = _lower_median(df, group_cols, value_col, tiebreak, "median")
    n = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    dev = df.join(med, group_cols).select(
        *group_cols,
        F.abs(F.col(value_col) - F.col("median")).alias("__dev"),
        F.col(tiebreak),
    )
    mad = _lower_median(dev, group_cols, "__dev", tiebreak, "mad")
    return (
        n.join(med, group_cols).join(mad, group_cols)
        .select(*group_cols, "n", "median", "mad")
    )

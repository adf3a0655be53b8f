"""Distribution statistics over numeric columns at corpus scale:
equi-width histograms, nearest-rank percentile winsorization, and
hash-sampled quantiles live in :mod:`sketches.sampleq`.

Everything is fixed-point integer arithmetic (values quantized to
``scale`` units in the scan stage) so results are engine-exact; rank
selection uses explicit ``row_number`` ordering instead of
``percentile_cont`` — interpolation formulas differ across engines, the
value AT a rank does not (PORTABILITY.md, rel16's convention).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def equi_width_histogram(
    df: DataFrame, value_col: str, nbins: int = 20, scale: int = 100
) -> DataFrame:
    """Equi-width histogram of ``value_col``: (bin, lo_e, hi_e, n_rows).

    Bounds come from one min/max aggregate broadcast back as a 1-row
    scalar (no second full scan ordering); the bin index is pure integer
    arithmetic — ``((v - min) * nbins) div span`` clamped to the last
    bin — so edge assignment is deterministic on both engines. At 100 TB
    this is one scan + one tiny aggregate: the per-bin count combine is
    map-side, the bounds join is a BroadcastNestedLoopJoin of one row."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    vals = df.select(v.alias("__v"))
    bounds = vals.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    span = F.col("__hi") - F.col("__lo") + 1
    # floor-division spelled floor(a/b) on doubles — the PORTABILITY
    # cross-engine spelling (operands here are non-negative longs < 2^53)
    binned = vals.join(bounds).select(
        F.least(
            F.floor(
                ((F.col("__v") - F.col("__lo")) * nbins).cast("double") / span
            ),
            F.lit(nbins - 1).cast("double"),
        )
        .cast("long")
        .alias("bin"),
        "__lo",
        "__hi",
    )
    edged = binned.select(
        "bin",
        (
            F.col("__lo")
            + F.floor((F.col("bin") * span).cast("double") / nbins).cast("long")
        ).alias("lo_e"),
        (
            F.col("__lo")
            + F.floor(((F.col("bin") + 1) * span).cast("double") / nbins).cast(
                "long"
            )
            - 1
        ).alias("hi_e"),
    )
    return edged.groupBy("bin", "lo_e", "hi_e").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def winsorize_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: int = 5,
    p_hi: int = 95,
    scale: int = 100,
) -> DataFrame:
    """Per-group winsorized summary: caps values at the nearest-rank
    ``p_lo``/``p_hi`` percentiles and reports the capped mean — the
    outlier-robust normalization step before loss-weighting / feature
    scaling.

    Output: (group, n_rows, lo_e, hi_e, win_sum_e, win_mean_e) — all
    fixed-point longs. Percentile selection is nearest-rank
    (k = ceil(p·n/100) via ``(p·n + 99) div 100``): the value AT a rank
    is deterministic even with duplicate values, immune to the
    cross-engine interpolation divergence of percentile_cont.

    Plan: FREQUENCY-TABLE rank selection, not a per-group row sort. A
    ``row_number`` over (group ORDER BY value) hashes every row of a
    group into ONE task — with low group cardinality (the common case:
    a handful of return flags over 100 TB of rows) that is a
    parallelism-3 sort no cluster size can speed up. Instead: pass 1
    reduces rows to the per-(group, value) count table (map-side
    combined, bounded by DISTINCT values — cents quantization bounds it
    by the value range, not the row count); the rank scan is a window
    over THAT table (the 10.7x probe ratio came from sorting rows; the
    frequency table is ~50x smaller here and range-bounded at any
    scale); thresholds re-join broadcast; the clamp + sum is a second
    pass over the original hash partitioning."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    vals = df.select(F.col(group_col).alias("g"), v.alias("__v"))
    freq = vals.groupBy("g", "__v").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy("g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = freq.select(
        "g",
        "__v",
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(Window.partitionBy("g")).alias("__n"),
    )
    k_lo = F.floor((F.lit(p_lo) * F.col("__n") + 99) / 100).cast("long")
    k_hi = F.floor((F.lit(p_hi) * F.col("__n") + 99) / 100).cast("long")
    # nearest-rank value = smallest v whose cumulative count reaches k
    thresholds = cum.groupBy("g").agg(
        F.min(F.when(F.col("__cum") >= k_lo, F.col("__v"))).alias("lo_e"),
        F.min(F.when(F.col("__cum") >= k_hi, F.col("__v"))).alias("hi_e"),
    )
    # without the hint x17 broadcasts the whole lineitem scan instead
    clamped = vals.join(F.broadcast(thresholds), "g").select(
        "g",
        "lo_e",
        "hi_e",
        F.greatest(F.least(F.col("__v"), F.col("hi_e")), F.col("lo_e")).alias(
            "__c"
        ),
    )
    return clamped.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.first("lo_e").alias("lo_e"),
        F.first("hi_e").alias("hi_e"),
        F.sum("__c").alias("win_sum_e"),
        F.floor(
            F.sum("__c").cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("win_mean_e"),
    )


def group_zscore(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Per-row z-score of ``value_col`` against its GROUP's mean/stddev —
    the feature-normalization step before mixing sources with different
    value ranges. Output keeps the input's columns plus ``v_e`` (the
    quantized value) and ``z_e4``; zero-variance groups emit null z.

    Determinism: group moments are exact integer sums (Σv, Σv²); the
    z chain is div/sqrt/div — every step IEEE-correctly-rounded on both
    engines (PORTABILITY: + - * / sqrt are safe; no transcendentals) —
    then floor-e4. Plan: one map-side-combinable moments aggregate,
    broadcast back (group-cardinality-sized), zero extra shuffles on the
    data path."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    data = df.withColumn("v_e", v)
    moments = data.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("v_e").alias("__s1"),
        F.sum(F.col("v_e") * F.col("v_e")).alias("__s2"),
    )
    # without the hint x19 broadcasts the data side instead
    joined = data.join(F.broadcast(moments), group_col)
    var_num = F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1")
    z = (
        (
            F.col("v_e").cast("double")
            - F.col("__s1").cast("double") / F.col("__n").cast("double")
        )
        / F.sqrt(
            var_num.cast("double")
            / (F.col("__n") * F.col("__n")).cast("double")
        )
    )
    return joined.withColumn(
        "z_e4",
        F.when(var_num > 0, F.floor(z * 10000).cast("long")),
    ).drop("__n", "__s1", "__s2")


def equi_depth_bins(
    df: DataFrame,
    value_col: str,
    nbins: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Equi-DEPTH (quantile) binning summary: nearest-rank bin boundaries
    + per-bin counts — the feature-engineering partner of
    :func:`equi_width_histogram` (equal POPULATION per bin instead of
    equal width; the right default for skewed features).

    Same frequency-table plan as :func:`winsorize_stats`: the boundary
    scan is a window over the per-value count table (distinct-value-
    bounded), never a row sort; bin assignment is a broadcast join of the
    nbins-row boundary table. Duplicate-heavy values make true equi-depth
    impossible (a value straddling a boundary lands wholly in the lower
    bin — counts are reported, not assumed equal); boundaries are
    nearest-rank ceil(q·n/nbins) values, deterministic on both engines.

    Output: (bin, hi_e, n_rows) — bin b holds values <= hi_e(b) and
    > hi_e(b-1)."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    vals = df.select(v.alias("__v"))
    freq = vals.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = freq.select(
        "__v",
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    # boundary b (1..nbins): smallest v whose cum count reaches
    # ceil(b*n/nbins) — all-integer rank arithmetic, every boundary
    # resolved in ONE aggregate over the value-count table
    aggs = []
    for b in range(1, nbins + 1):
        k = F.floor(
            (F.lit(b) * F.col("__n") + nbins - 1).cast("double") / nbins
        ).cast("long")
        aggs.append(
            F.min(F.when(F.col("__cum") >= k, F.col("__v"))).alias(f"__h{b}")
        )
    one_row = cum.agg(*aggs)
    stack = ", ".join(f"{b}L, __h{b}" for b in range(1, nbins + 1))
    bounds = one_row.select(
        F.expr(f"stack({nbins}, {stack}) AS (bin, hi_e)")
    )
    lagw = Window.orderBy("bin")
    edged = bounds.select(
        "bin",
        "hi_e",
        F.lag("hi_e").over(lagw).alias("__lo_excl"),
    )
    assigned = vals.join(edged).filter(
        (F.col("__v") <= F.col("hi_e"))
        & (F.col("__lo_excl").isNull() | (F.col("__v") > F.col("__lo_excl")))
    )
    return assigned.groupBy("bin", "hi_e").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group lower weighted median: the smallest value v whose
    cumulative weight reaches half the group's total (2·cum(v) >=
    W, cross-multiplied integers — no division). The robust center for
    weighted observations (price per unit weighted by quantity, latency
    weighted by traffic), where the unweighted median over-counts
    low-weight rows.

    Plan shape (the winsorize/equi-depth frequency-table recipe): values
    collapse to a per-(group, value) weight table FIRST — one combinable
    agg — and the cumulative window runs over the collapsed table, so
    the single-partition-per-group sort touches distinct values, not
    rows. Output: (grp, total_weight, wmedian)."""
    from pyspark.sql import Window

    vt = df.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    ).agg(F.sum(F.col(weight_col)).alias("w"))
    win = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("grp")
    cum = vt.select(
        "grp",
        "v",
        F.sum("w").over(win).alias("cum"),
        F.sum("w").over(wg).alias("total"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cum") >= F.col("total"))
        .groupBy("grp")
        .agg(
            F.max("total").cast("long").alias("total_weight"),
            F.min("v").cast("long").alias("wmedian"),
        )
    )


def duck_weighted_median(source_sql: str) -> str:
    """DuckDB CTE body mirroring :func:`weighted_median`; exposes
    ``wmed(grp, total_weight, wmedian)``. ``source_sql`` must project
    (grp, v, w)."""
    return f"""__wm_vt AS (
  SELECT grp, v, sum(w)::BIGINT AS w
  FROM ({source_sql}) GROUP BY grp, v
),
__wm_cum AS (
  SELECT grp, v,
         sum(w) OVER (PARTITION BY grp ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(w) OVER (PARTITION BY grp) AS total
  FROM __wm_vt
),
wmed AS (
  SELECT grp, max(total)::BIGINT AS total_weight,
         min(v)::BIGINT AS wmedian
  FROM __wm_cum WHERE 2 * cum >= total GROUP BY grp
)"""

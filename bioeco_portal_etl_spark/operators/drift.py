"""CUSUM drift detection over per-key ordered measurement streams: the
cumulative sum of deviations from the global mean crosses a threshold as
soon as the level shifts — the classic Page (1954) change-detection
statistic, here as the batch face for data-drift monitoring of a feature
column across a 100 TB corpus refresh.

Plan: global mean is ONE tiny aggregate broadcast back as a scalar; the
cumulative sum is a single window over the key-hash exchange every other
per-key op reuses. All arithmetic is fixed-point integer (values
quantized in the scan stage; the mean itself stays integer via div), so
trajectories are engine-exact — no float accumulation drift across
partitions or engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def cusum_drift(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    threshold_e: int,
    scale: int = 100,
) -> DataFrame:
    """Per-key CUSUM summary: (key, n_events, max_abs_cusum_e,
    first_cross_id) where the cusum walks ``Σ (v_e - global_mean_e)`` in
    ``(ts, id)`` order and ``first_cross_id`` is the earliest event whose
    |cusum| exceeds ``threshold_e`` (null = never crossed).

    The deviation baseline is the GLOBAL mean (integer div of e-scaled
    sums — truncation is identical cross-engine on these non-negative
    sums), so keys drifting away from corpus-level behavior flag even
    when internally consistent."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    vals = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        v.alias("__v"),
    )
    mean = vals.agg(
        F.expr("sum(__v) div count(*)").alias("__mean_e")
    )
    w = (
        Window.partitionBy("key")
        .orderBy("__ts", "__id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walked = vals.join(mean).select(
        "key",
        "__id",
        F.sum(F.col("__v") - F.col("__mean_e")).over(w).alias("__s"),
    )
    return walked.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.abs(F.col("__s"))).alias("max_abs_cusum_e"),
        F.min(
            F.when(F.abs(F.col("__s")) > threshold_e, F.col("__id"))
        ).alias("first_cross_id"),
    )


def psi_drift(
    df: DataFrame,
    key_col: str,
    value_col: str,
    cur_col: str,
    n_bins: int = 20,
    bin_width: float = 25.0,
) -> DataFrame:
    """Population Stability Index per ``key_col`` between the reference
    slice (``cur_col`` false) and the current slice (true): the standard
    cross-dataset distribution-drift score (PSI < 0.1 stable, > 0.25
    action), complementing :func:`cusum_drift`'s within-stream level
    shifts. Output: (key, n_ref, n_cur, psi_e4).

    Semantics pinned for cross-engine exactness (PORTABILITY.md):
    fixed-width bins ``least(floor(v / bin_width), n_bins - 1)``; Laplace
    smoothing ``p = (n + 1) / (N + n_bins)`` keeps ln finite; each bin's
    ``(p_cur - p_ref) * ln(p_cur / p_ref)`` is floored to e4 BEFORE the
    per-key sum, so the reduction is associative integer addition — the
    one libm call sits inside the floor. Bins observed in neither slice
    are omitted (both engines build the bin table from the data, so the
    omission is symmetric).

    Plan: one map-side-combined groupBy (key, bin) collapses the corpus
    to key*bins rows; the per-key totals are window sums over that tiny
    table (second exchange moves bins-sized data, not rows); final
    groupBy(key) reuses the same partitioning. At 100 TB only the first
    exchange sees data-scale volume, and it ships pre-aggregated counts.
    """
    b = F.least(
        F.floor(F.col(value_col) / F.lit(bin_width)), F.lit(n_bins - 1)
    ).cast("long")
    cur = F.col(cur_col).cast("long")
    binned = df.select(F.col(key_col), b.alias("bin"), cur.alias("__c"))
    counts = binned.groupBy(key_col, "bin").agg(
        F.sum(F.lit(1) - F.col("__c")).alias("n_ref_b"),
        F.sum("__c").alias("n_cur_b"),
    )
    w = Window.partitionBy(key_col)
    p_ref = (F.col("n_ref_b") + 1).cast("double") / (
        F.sum("n_ref_b").over(w) + F.lit(n_bins)
    ).cast("double")
    p_cur = (F.col("n_cur_b") + 1).cast("double") / (
        F.sum("n_cur_b").over(w) + F.lit(n_bins)
    ).cast("double")
    terms = counts.select(
        key_col,
        "n_ref_b",
        "n_cur_b",
        F.floor((p_cur - p_ref) * F.log(p_cur / p_ref) * 10000)
        .cast("long")
        .alias("term_e4"),
    )
    return terms.groupBy(key_col).agg(
        F.sum("n_ref_b").alias("n_ref"),
        F.sum("n_cur_b").alias("n_cur"),
        F.sum("term_e4").alias("psi_e4"),
    )


def _profile_metrics(columns: list[tuple[str, str]]) -> list[tuple]:
    """(column, metric, aggregate expr) triples for :func:`profile_drift`.

    Numeric means go through an exact DECIMAL(28,6) sum (a float sum
    would be partition-order-dependent — PORTABILITY.md), converted to
    DOUBLE only for the final e4 floor; min/max of doubles are
    order-independent already."""
    out: list[tuple[str, str, F.Column]] = []
    for col, kind in columns:
        out.append((col, "n_null", F.sum(F.col(col).isNull().cast("long"))))
        out.append((col, "n_distinct", F.count_distinct(F.col(col))))
        if kind == "numeric":
            out.append(
                (col, "min_e4", F.expr(f"CAST(floor(min({col}) * 1e4) AS BIGINT)"))
            )
            out.append(
                (col, "max_e4", F.expr(f"CAST(floor(max({col}) * 1e4) AS BIGINT)"))
            )
            out.append(
                (
                    col,
                    "mean_e4",
                    F.expr(
                        f"CAST(floor(CAST(sum(CAST({col} AS DECIMAL(28,6)))"
                        f" AS DOUBLE) * 1e4 / count({col})) AS BIGINT)"
                    ),
                )
            )
    return out


def profile_drift(
    ref: DataFrame,
    cur: DataFrame,
    columns: list[tuple[str, str]],
) -> DataFrame:
    """Schema-level profile drift between two snapshots of the same
    table — the refresh-gate audit a pipeline runs BEFORE accepting a new
    crawl/export: did a column's null rate, cardinality, or range move?
    Complements :func:`psi_drift` (one numeric column's distribution) by
    sweeping the whole schema at metadata granularity.

    ``columns`` is [(name, 'numeric'|'categorical')]; metrics per column:
    n_null, n_distinct, and for numerics min_e4/max_e4/mean_e4 (all
    BIGINT). Output long-format: (column, metric, ref_val, cur_val,
    delta) with delta = cur_val - ref_val (null if either side is null —
    e.g. an all-null column's min).

    Plan: ONE full-scan aggregate per snapshot (every metric is a column
    of the same agg — count_distinct expands to the standard two-phase
    distinct aggregate), then an explode of the 1-row result into the
    long format and a broadcast-trivial full-outer join of two ~10-row
    tables. At 100 TB: two scans total, no shuffle wider than the
    distinct-count exchanges, report size O(columns)."""
    triples = _profile_metrics(columns)

    def long_form(df: DataFrame, val_name: str) -> DataFrame:
        aliased = [
            expr.cast("long").alias(f"__m{i}")
            for i, (_, _, expr) in enumerate(triples)
        ]
        one = df.agg(*aliased)
        structs = F.array(
            *[
                F.struct(
                    F.lit(col).alias("column"),
                    F.lit(metric).alias("metric"),
                    F.col(f"__m{i}").alias(val_name),
                )
                for i, (col, metric, _) in enumerate(triples)
            ]
        )
        return one.select(F.explode(structs).alias("__s")).select("__s.*")

    r = long_form(ref, "ref_val")
    c = long_form(cur, "cur_val")
    return (
        r.join(c, ["column", "metric"], "full_outer")
        .withColumn("delta", F.col("cur_val") - F.col("ref_val"))
        .orderBy("column", "metric")
    )


def duck_profile_sql(
    from_sql: str, columns: list[tuple[str, str]], val_name: str
) -> str:
    """DuckDB one-snapshot profile mirroring :func:`_profile_metrics` as
    a UNION ALL of per-metric rows over a single aggregate subquery."""
    sels = []
    for col, kind in columns:
        sels.append(
            f"SELECT '{col}' AS \"column\", 'n_null' AS metric,"
            f" sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT"
            f" AS {val_name} FROM {from_sql}"
        )
        sels.append(
            f"SELECT '{col}', 'n_distinct',"
            f" count(DISTINCT {col})::BIGINT FROM {from_sql}"
        )
        if kind == "numeric":
            sels.append(
                f"SELECT '{col}', 'min_e4',"
                f" CAST(floor(min({col}) * 1e4) AS BIGINT) FROM {from_sql}"
            )
            sels.append(
                f"SELECT '{col}', 'max_e4',"
                f" CAST(floor(max({col}) * 1e4) AS BIGINT) FROM {from_sql}"
            )
            sels.append(
                f"SELECT '{col}', 'mean_e4',"
                f" CAST(floor(CAST(sum(CAST({col} AS DECIMAL(28,6)))"
                f" AS DOUBLE) * 1e4 / count({col})) AS BIGINT)"
                f" FROM {from_sql}"
            )
    return " UNION ALL ".join(sels)

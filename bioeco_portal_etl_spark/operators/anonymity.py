"""k-anonymity risk audit over quasi-identifier combinations — the
privacy gate a training-data release runs next to PII redaction (tx6):
records whose quasi-identifier tuple (nation, segment, balance bucket,
...) is shared by fewer than k individuals are re-identifiable by
linkage, and the release decision needs BOTH granularities at once:
which QI groups are risky, and how much of the corpus sits in them.

Two-level aggregate, Spark-first:

1. group sizes: one map-side-combined ``groupBy(*qi_cols)`` — the only
   data-scale shuffle, shipping pre-aggregated (qi, count) rows;
2. the audit rollup: re-aggregate the GROUP-cardinality table by the
   leading QI column (the reporting dimension), splitting groups and
   records into safe/risky by the k threshold. Catalyst runs stage 2
   without a new exchange when the reporting key is a prefix of the
   stage-1 grouping (hash partitioning on a subset satisfies the
   clustering requirement).

Suppression — dropping risky rows — is then a broadcast semi-join of
the risky QI tuples against the corpus; the audit table bounds exactly
how many records that costs BEFORE anything is dropped.

Extension beyond the reference surface (the reference publishes raw
contact columns — `EuroSea.xlsx` — with no privacy layer); oracle =
identical two-level SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def k_anonymity_audit(
    df: DataFrame, qi_cols: list[str], k: int, report_col: str | None = None
) -> DataFrame:
    """Per ``report_col`` (default: first QI column) audit of k-anonymity
    under the ``qi_cols`` quasi-identifier tuple:

    (report, n_records, n_groups, n_risky_groups, n_risky_records,
    min_group_size) — ``n_risky_*`` count groups/records with group size
    < k; ``min_group_size`` is the worst exposure in the slice. A slice
    with n_risky_records = 0 is releasable as-is at this k."""
    report_col = report_col or qi_cols[0]
    sizes = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("g_n"))
    risky = F.col("g_n") < k
    return sizes.groupBy(report_col).agg(
        F.sum("g_n").alias("n_records"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(risky.cast("long")).alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("g_n")).otherwise(F.lit(0))).alias(
            "n_risky_records"
        ),
        F.min("g_n").alias("min_group_size"),
    )


def l_diversity_audit(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
    report_col: str | None = None,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007): k-anonymity stops
    re-identification, but a group whose SENSITIVE value is uniform still
    discloses it to anyone who can place a person in the group
    (homogeneity attack). This audits distinct-l-diversity — every QI
    group must see >= l distinct sensitive values — plus the recursive-
    style "how dominated is the group" share, all with COUNT arithmetic
    (no entropy logs): integer-exact on any engine.

    Per ``report_col``: (report, n_groups, n_records, n_risky_groups,
    n_risky_records, min_l, max_share_e6) where a group is risky if its
    distinct sensitive count < l, and max_share_e6 is the worst
    1e6 * top_value_count // group_size over the slice (1_000_000 means
    some group is fully homogeneous).

    Two aggregates: (QI, sensitive) counts, then per-QI rollup; both
    partial-combinable, shuffle keys are the QI tuple — same scale shape
    as k_anonymity_audit."""
    report_col = report_col or qi_cols[0]
    vc = df.groupBy(*qi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("v_n")
    )
    groups = vc.groupBy(*qi_cols).agg(
        F.sum("v_n").alias("g_n"),
        F.count(F.lit(1)).alias("g_l"),
        F.max("v_n").alias("g_top"),
    )
    risky = F.col("g_l") < l
    return groups.groupBy(report_col).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("g_n").alias("n_records"),
        F.sum(risky.cast("long")).alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("g_n")).otherwise(F.lit(0))).alias(
            "n_risky_records"
        ),
        F.min("g_l").alias("min_l"),
        F.max(
            F.expr("CAST((1000000 * g_top) div g_n AS BIGINT)")
        ).alias("max_share_e6"),
    )

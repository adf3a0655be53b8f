"""Slowly-changing-dimension type-2 operators as pure dataflow — both
directions a warehouse needs:

- :func:`scd2_merge` APPLIES an update batch to an existing SCD2
  dimension (close changed rows, open new ones, insert unseen keys);
- :func:`scd2_history` BUILDS the SCD2 table from scratch out of an
  ordered change log (collapse consecutive duplicates into versions,
  stitch validity intervals) — the backfill/bootstrap that produces the
  table scd2_merge then maintains.

The reference's sync layer overwrites (K7) or upserts in place (K5/K6 —
SCD1: history lost). Warehouse deployments of the same pipeline keep
HISTORY: an update to a tracked attribute closes the current row
(valid_to = effective date) and opens a new one. Re-expressed without
mutation: the output IS the new dimension table, written atomically via
partition overwrite or staged JDBC merge downstream. Composes with
operators/asof.py: asof_join against ``valid_from`` reconstructs
point-in-time state.

Plan shapes at scale:

- merge: dim ⋈ updates on the business key (updates are usually
  dimension-scale -> broadcast), everything else is narrow; no window,
  no shuffle beyond the join.
- history: two window passes over the log, both on the SAME
  (keys ORDER BY order_cols) partitioning — ``lag`` marks change points,
  ``lead`` over the surviving change points stitches each version's end
  to the next one's start. Catalyst serves both from ONE shuffle on the
  entity key; the change-point filter drops the (typically dominant)
  unchanged rows before the second window touches them. State per task is
  one partition's rows (windows stream over the sort); skew is bounded by
  the hottest entity.

Deterministic: change detection is exact null-safe column equality, and
history versioning orders by caller-supplied total order — reruns with
the same inputs produce identical tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    effective_date,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Type-2 merge: returns the new dimension table.

    - ``dim``: current table with ``key_col``, ``attr_cols``,
      ``valid_from_col``, ``valid_to_col`` (null = open row).
    - ``updates``: one row per business key with the new ``attr_cols``.
    - Open rows whose attributes CHANGED are closed (valid_to =
      ``effective_date``) and a new open row starts that date.
    - Unchanged open rows, already-closed rows, and un-updated keys pass
      through untouched. Updates for unseen keys insert as new open rows.

    Null-safe equality (``eqNullSafe``) decides "changed", so a NULL ->
    value transition versions correctly.
    """
    eff = F.lit(effective_date).cast("date")
    open_rows = dim.filter(F.col(valid_to_col).isNull())
    closed_rows = dim.filter(F.col(valid_to_col).isNotNull())

    u = updates.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__u_{c}") for c in attr_cols],
    )
    # without the hint rel11's hash joins build on the dimension side instead
    j = open_rows.join(F.broadcast(u), F.col(key_col) == F.col("__k"), "full")

    same = None
    for c in attr_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__u_{c}"))
        same = eq if same is None else (same & eq)

    matched = j.filter(F.col(key_col).isNotNull() & F.col("__k").isNotNull())
    unchanged_open = matched.filter(same).select(dim.columns)
    changed = matched.filter(~same)
    closed_now = changed.select(dim.columns).withColumn(valid_to_col, eff).select(
        dim.columns
    )
    opened_now = changed.select(
        F.col(key_col),
        *[F.col(f"__u_{c}").alias(c) for c in attr_cols],
        eff.alias(valid_from_col),
        F.lit(None).cast(dim.schema[valid_to_col].dataType).alias(valid_to_col),
    ).select(dim.columns)

    untouched_open = j.filter(F.col("__k").isNull()).select(dim.columns)
    inserted = j.filter(F.col(key_col).isNull()).select(
        F.col("__k").alias(key_col),
        *[F.col(f"__u_{c}").alias(c) for c in attr_cols],
        eff.alias(valid_from_col),
        F.lit(None).cast(dim.schema[valid_to_col].dataType).alias(valid_to_col),
    ).select(dim.columns)

    return (
        closed_rows.select(dim.columns)
        .unionByName(unchanged_open)
        .unionByName(closed_now)
        .unionByName(opened_now)
        .unionByName(untouched_open)
        .unionByName(inserted)
    )


def scd2_history(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_cols: list[str],
    ts_col: str | None = None,
) -> DataFrame:
    """Versioned history per ``keys`` of ``value_col`` changes along
    ``order_cols`` (must be a deterministic total order within a key —
    include a unique id as tie-break). ``ts_col`` is the column stamped
    into ``valid_from``/``valid_to`` (defaults to the first order col).
    Output: keys..., value, valid_from, valid_to (NULL = open), version
    (1-based per key), is_current (1/0).

    A value change back to an earlier value opens a NEW version (SCD2
    semantics: history is append-only, versions never merge)."""
    ts_col = ts_col or order_cols[0]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    changed = (
        df.withColumn("__prev", F.lag(value_col).over(w))
        .withColumn("__rn", F.row_number().over(w))
        # first row per key always opens a version; after that, change is
        # null-safe inequality (NULL->x and x->NULL are changes, and a
        # first-row NULL value is not confused with lag()'s first-row NULL)
        .filter(
            (F.col("__rn") == 1)
            | ~F.col(value_col).eqNullSafe(F.col("__prev"))
        )
        .select(
            *keys,
            F.col(value_col),
            *order_cols,
            F.col(ts_col).alias("valid_from"),
        )
    )
    # second window keeps the FULL order (not just valid_from): two changes
    # with equal timestamps must still version deterministically
    w2 = Window.partitionBy(*keys).orderBy(*order_cols)
    return changed.select(
        *keys,
        value_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead("valid_from")
        .over(w2)
        .isNull()
        .cast("long")
        .alias("is_current"),
    )

"""Snapshot diff (CDC changeset) — derive insert/update/delete events by
comparing two keyed snapshots of the same table.

The reference pipeline re-derives its whole programs table every run and
its GeoNode sync then issues per-row UPDATE/DELETE/INSERT against the live
database (notebooks/index.Rmd:710-761) — i.e. it *implicitly* computes a
changeset row-by-row on the driver. This operator is the set-based face of
that pattern, and the standard shape for incremental maintenance of a
100 TB corpus: diff yesterday's snapshot against today's and feed only the
changeset downstream (JDBC upsert sink, SCD2 merge, incremental dedupe).

Plan shape: ONE full-outer sort-merge join on the key — the minimum
possible for a diff (every row of both sides must meet its counterpart).
Both snapshots shuffle on the key; with snapshot tables written by a plain
``bucketBy(n, key).sortBy(key).saveAsTable`` the exchanges disappear
entirely, which is how a daily 100 TB diff stays affordable: write
snapshots bucketed by key once, diff them exchange-free forever after.
Unchanged rows are dropped before the changeset leaves the join stage, so
downstream traffic is proportional to churn, not snapshot size.

Column-level change tracking rides the same pass: a NULL-skipping
concat_ws over per-column `IS DISTINCT FROM` flags — no second scan, no
per-column joins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    null_safe_keys: bool = False,
) -> DataFrame:
    """Changeset between two snapshots keyed by ``key_cols``:
    one row per inserted / deleted / changed key with
    ``change_type ∈ {insert, update, delete}``, a comma-joined
    ``changed_cols`` list (empty for insert/delete), and the new-side
    values of ``compare_cols`` (null for deletes).

    NULL-safe value comparison throughout: a column going NULL→value or
    value→NULL counts as a change (``eqNullSafe``), and keys never
    collide with the null fill of the outer join because presence is
    tested on a non-null sentinel, not on the key itself.

    KEY comparison defaults to plain equality: CDC keys are primary keys
    (never null), and a plain-equality join hashes on the raw key, so
    bucketed snapshots diff with NO Exchange (pinned in test_cdc.py).
    ``null_safe_keys=True`` switches to ``eqNullSafe`` — its
    ``(coalesce, isnull)`` hashing defeats bucket co-location, so use it
    only for genuinely nullable keys.
    """
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__o_present"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__n_present"),
    )
    cond = None
    for k in key_cols:
        ok, nk = F.col(f"__ok_{k}"), F.col(f"__nk_{k}")
        eq = ok.eqNullSafe(nk) if null_safe_keys else (ok == nk)
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")

    diff_flags = [
        F.when(
            ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
        )
        for c in compare_cols
    ]
    any_diff = None
    for c in compare_cols:
        d = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        any_diff = d if any_diff is None else (any_diff | d)

    change = (
        F.when(F.col("__o_present").isNull(), F.lit("insert"))
        .when(F.col("__n_present").isNull(), F.lit("delete"))
        .when(any_diff, F.lit("update"))
    )  # unchanged rows -> NULL -> filtered
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k)
                for k in key_cols
            ],
            F.col("change_type"),
            F.when(
                F.col("change_type") == "update", F.concat_ws(",", *diff_flags)
            )
            .otherwise(F.lit(""))
            .alias("changed_cols"),
            *[F.col(f"__n_{c}").alias(c) for c in compare_cols],
        )
    )


def apply_changeset(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Apply a :func:`snapshot_diff`-shaped changeset (``change_type`` ∈
    insert/update/delete, new-side values) to a snapshot, producing the
    next snapshot — the MERGE INTO of the pure-parquet tier, and the
    inverse that closes the CDC loop: ``apply(old, diff(old, new)) ≡ new``
    (pinned by the rel24 oracle and test_cdc.py).

    Plan: one LEFT ANTI join removes every touched key (update + delete)
    from the base, then inserts/updates union back in — the anti join
    hashes on the raw key, so bucketed snapshots (``bucketBy`` tables)
    apply their daily changeset with NO Exchange on the 100 TB side;
    the union side is churn-sized. Touched-key multiplicity never
    duplicates: changesets are keyed (one row per key by construction)."""
    touched = changes.select(*key_cols)
    kept = snapshot.join(touched, key_cols, "left_anti")
    upserts = changes.filter(F.col("change_type") != "delete").select(
        *key_cols, *value_cols
    )
    return kept.select(*key_cols, *value_cols).unionByName(upserts)


def net_effect(
    ops: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str,
    value_col: str,
) -> DataFrame:
    """Changelog compaction to NET effect per key — the Debezium-style
    collapse a sink applies before writing a batch of I/U/D operations:
    what single operation, if any, takes the key from its state BEFORE
    the batch to its state AFTER.

        first=I, last=D  -> NONE  (created and destroyed inside the batch)
        first=I, last!=D -> I     (newly created; final value)
        first!=I, last=D -> D     (existed before; deleted)
        else             -> U     (existed before; updated to final value)

    first/last are min_by/max_by over the sequence column (exact integer
    tie-free when ``seq_col`` is unique per key — a kafka offset, a CDC
    LSN). Output: (key, n_ops, first_op, last_op, net_op, final value
    for I/U else NULL). One combinable groupBy — compaction cost is one
    exchange on the key, the same shuffle the downstream MERGE pays
    anyway."""
    return (
        ops.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.min_by(F.col(op_col), F.col(seq_col)).alias("first_op"),
            F.max_by(F.col(op_col), F.col(seq_col)).alias("last_op"),
            F.max_by(F.col(value_col), F.col(seq_col)).alias("__last_v"),
        )
        .select(
            "key",
            "n_ops",
            "first_op",
            "last_op",
            F.expr(
                "CASE WHEN first_op = 'I' AND last_op = 'D' THEN 'NONE' "
                "WHEN first_op = 'I' THEN 'I' "
                "WHEN last_op = 'D' THEN 'D' ELSE 'U' END"
            ).alias("net_op"),
            F.expr(
                "CASE WHEN last_op <> 'D' THEN __last_v END"
            ).alias("net_value"),
        )
    )

"""snapshot_diff (operators/cdc.py) edge semantics: NULL transitions count
as changes, unchanged rows are dropped, classification is exact, and the
result is invariant to input partitioning (shuffle-safe)."""

from __future__ import annotations

from bioeco_portal_etl_spark.operators.cdc import snapshot_diff


def _rows(df):
    return sorted(
        (r["k"], r["change_type"], r["changed_cols"], r["a"], r["b"])
        for r in df.collect()
    )


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30), (4, None, 40)],
        "k int, a string, b int",
    )
    new = spark.createDataFrame(
        [
            (1, "x", 10),      # unchanged -> dropped
            (2, "y2", 20),     # update: a
            (4, "now", None),  # update: a NULL->value, b value->NULL
            (5, "new", 50),    # insert
        ],  # 3 deleted
        "k int, a string, b int",
    )
    got = _rows(snapshot_diff(old, new, ["k"], ["a", "b"]))
    assert got == [
        (2, "update", "a", "y2", 20),
        (3, "delete", "", None, None),
        (4, "update", "a,b", "now", None),
        (5, "insert", "", "new", 50),
    ]


def test_snapshot_diff_partition_invariant(spark):
    old = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(200)], "k int, a string, b int"
    )
    new = spark.createDataFrame(
        [
            (i, f"v{i}" if i % 7 else "patched", i * 10)
            for i in range(200)
            if i % 11
        ],
        "k int, a string, b int",
    )
    base = _rows(snapshot_diff(old, new, ["k"], ["a", "b"]))
    shuffled = _rows(
        snapshot_diff(old.repartition(13), new.repartition(7), ["k"], ["a", "b"])
    )
    assert base == shuffled
    assert {t for _, t, _, _, _ in base} == {"update", "delete"}


def test_snapshot_diff_bucketed_is_exchange_free(spark, tmp_path):
    """The SCALING.md contract: with both snapshots bucketed by the key,
    the full-outer diff join runs with NO Exchange on either side — a
    daily 100 TB diff pays zero shuffle after the write-time bucketing."""
    old = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(500)], "k int, a string, b int"
    )
    new = spark.createDataFrame(
        [(i, f"v{i}" if i % 7 else "patched", i * 10) for i in range(490)],
        "k int, a string, b int",
    )
    for df, table in ((old, "cdc_old_b"), (new, "cdc_new_b")):
        df.write.mode("overwrite").bucketBy(4, "k").sortBy("k").option(
            "path", str(tmp_path / table)
        ).format("parquet").saveAsTable(table)
    try:
        diff = snapshot_diff(
            spark.table("cdc_old_b"),
            spark.table("cdc_new_b"),
            ["k"],
            ["a", "b"],
        )
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "FullOuter" in plan
        assert "Exchange" not in plan
        n_changed = diff.count()
        assert n_changed == 10 + len([i for i in range(490) if i % 7 == 0])
    finally:
        spark.sql("DROP TABLE IF EXISTS cdc_old_b")
        spark.sql("DROP TABLE IF EXISTS cdc_new_b")

"""Operator-level tests for the round-6 eighth batch:
shot lengths, histq error sweep, PQ utilization, decile lift, cycle
time."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_shot_lengths_accounting(spark):
    """Per clip: Σ shot lengths = frame count; n_shots = cuts + 1."""
    from bioeco_portal_etl_spark import catalog

    sf = "/root/testdata/sf0.001"
    shots = {
        r["media_id"]: r
        for r in catalog.queries()["mm20_shot_lengths"](spark, sf).collect()
    }
    cuts = catalog.queries()["mm5_scene_cuts"](spark, sf).collect()
    by_media: dict[int, tuple[int, int]] = {}
    for r in cuts:
        n, c = by_media.get(r["media_id"], (0, 0))
        by_media[r["media_id"]] = (n + 1, c + (1 if r["is_cut"] else 0))
    for mid, (n_frames, n_cuts) in by_media.items():
        s = shots[mid]
        assert s["n_frames"] == n_frames
        assert s["n_shots"] == n_cuts + 1
        assert s["max_shot_len"] <= n_frames


def test_histq_error_shrinks_with_bins(spark):
    """|p50 error| must not grow as bins increase (same range, finer
    steps), and every estimate is within one step of the truth when the
    truth falls inside the histogram range."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["sk13_histq_error_sweep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_bins = {r["bins"]: r for r in rows}
    assert list(by_bins) == [8, 16, 64]
    assert abs(by_bins[64]["err_cents"]) <= abs(by_bins[8]["err_cents"])
    for bins, r in by_bins.items():
        step = 5_120_000 // bins
        if 0 <= r["p50_true_cents"] < 5_120_000:
            assert abs(r["err_cents"]) <= step


def test_pq_utilization_accounting(spark):
    """Every subspace accounts for the full corpus; codes used <= 16;
    gini in [0, 1e6)."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["ts23_pq_utilization"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 8
    n = rows[0]["n_vectors"]
    for r in rows:
        assert r["n_vectors"] == n
        assert 1 <= r["n_codes_used"] <= 16
        assert 0 <= r["gini_e6"] < 1_000_000
        assert r["max_count"] <= r["n_vectors"]


def test_decile_lift_invariants(spark):
    """Deciles partition the table; cum_gain is monotone reaching 1e6;
    weighted mean of lift = 1 (up to floor residue)."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["x47_decile_lift"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    gains = [r["cum_gain_e6"] for r in rows]
    assert gains == sorted(gains) and gains[-1] == 1_000_000
    total_n = sum(r["n"] for r in rows)
    total_pos = sum(r["positives"] for r in rows)
    # lift identity: sum over deciles of positives = total_pos
    recon = sum(
        r["lift_e6"] * r["n"] * total_pos for r in rows
    )  # ≈ 1e6 * total_n * total_pos
    assert abs(recon - 1_000_000 * total_n * total_pos) < 10 * total_n * total_pos


def test_cycle_time_hand_percentiles(spark):
    """Hand-built (month, days) multiset checks the nearest-rank rule."""
    from pyspark.sql import Window

    rows = [("m", d) for d in (1, 1, 2, 9)] + [("n", 5)]
    df = spark.createDataFrame(rows, "month string, days long")
    vt = df.groupBy("month", "days").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("month")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wm = Window.partitionBy("month")
    cum = vt.select(
        "month",
        "days",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wm).alias("n"),
    )
    out = {
        r["month"]: r
        for r in cum.groupBy("month")
        .agg(
            F.min(
                F.when(F.lit(2) * F.col("cum") >= F.col("n"), F.col("days"))
            ).alias("p50")
        )
        .collect()
    }
    assert out["m"]["p50"] == 1  # cum(1)=2, 2*2 >= 4
    assert out["n"]["p50"] == 5

"""Operator-level tests for the round-6 fourth batch:
interval concurrency sweep, weighted median, join-cardinality audit,
gain normalization, langid confusion."""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def test_max_concurrency_hand_intervals(spark):
    """g: [0,10) [5,15) [14,20) -> peak 2 first at t=5;
    h: [0,5) [5,10) half-open -> never overlap, peak 1 at t=0."""
    from bioeco_portal_etl_spark.operators.concurrency import max_concurrency

    rows = [
        ("g", 0, 10, 1),
        ("g", 5, 15, 2),
        ("g", 14, 20, 3),
        ("h", 0, 5, 4),
        ("h", 5, 10, 5),
    ]
    df = spark.createDataFrame(
        rows, "grp string, start_us long, end_us long, tid long"
    )
    out = {
        r["grp"]: r
        for r in max_concurrency(
            df, "grp", "start_us", "end_us", "tid"
        ).collect()
    }
    g = out["g"]
    assert (g["n_intervals"], g["max_concurrent"], g["peak_at_us"]) == (3, 2, 5)
    h = out["h"]
    assert (h["max_concurrent"], h["peak_at_us"]) == (1, 0)


def test_weighted_median_vs_unweighted(spark):
    """Values 1..4 with weight concentrated on 4: weighted median is 4
    while the unweighted middle would be 2 — and the lower-median rule
    picks the smallest v with 2*cum >= W."""
    from bioeco_portal_etl_spark.operators.stats import weighted_median

    rows = [("a", 1, 1), ("a", 2, 1), ("a", 3, 1), ("a", 4, 10)]
    df = spark.createDataFrame(rows, "grp string, v long, w long")
    r = weighted_median(df, "grp", "v", "w").collect()[0]
    assert (r["total_weight"], r["wmedian"]) == (13, 4)
    # exact half: cum(1)=1, cum(2)=2, total 4 -> 2*2 >= 4 picks 2
    df2 = spark.createDataFrame(
        [("b", 1, 1), ("b", 2, 1), ("b", 3, 2)], "grp string, v long, w long"
    )
    r2 = weighted_median(df2, "grp", "v", "w").collect()[0]
    assert r2["wmedian"] == 2


def test_join_card_audit_exact_and_estimate(spark):
    """left keys 1,1,2; right keys 1,2,2,3: actual = 2*1 + 1*2 = 4;
    est = 3*4/max(2,3) = 4 -> err 0."""
    from bioeco_portal_etl_spark.operators.joinstats import join_card_audit

    l = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    r = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k long")
    row = join_card_audit(l, r, "k", "t").collect()[0]
    assert (row["n_left"], row["n_right"]) == (3, 4)
    assert (row["ndv_left"], row["ndv_right"]) == (2, 3)
    assert row["actual_rows"] == 4
    assert row["est_rows"] == 4 and row["err_e6"] == 0


def test_join_card_audit_skew_underestimates(spark):
    """A hot key makes the uniform estimate low: err_e6 negative and
    floored (not truncated toward zero)."""
    from bioeco_portal_etl_spark.operators.joinstats import join_card_audit

    l = spark.createDataFrame([(1,)] * 9 + [(2,)], "k long")
    r = spark.createDataFrame([(1,)] * 9 + [(2,)], "k long")
    row = join_card_audit(l, r, "k", "skewed").collect()[0]
    assert row["actual_rows"] == 82
    assert row["est_rows"] == 50
    assert row["err_e6"] == math.floor((50 - 82) * 1_000_000 / 82)


def test_gain_normalization_hand_clip(spark):
    """Clip [100, -200, 300]: rms = sqrt(140000/3); gain to 500;
    recompute expected gain/clip counts in-test."""
    from bioeco_portal_etl_spark.multimodal.media import (
        wav_gain_normalization,
    )
    from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

    s = [100, -200, 300]
    energy = sum(v * v for v in s)
    gain = math.floor(10000 * 500 / math.sqrt(energy / 3))
    clipped = sum(1 for v in s if abs(v) * gain > 32767 * 10000)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(s)))], "media_id long, payload binary"
    )
    r = wav_gain_normalization(df, target_rms=500).collect()[0]
    assert (r["n_samples"], r["energy"]) == (3, energy)
    assert (r["gain_e4"], r["n_clipped"]) == (gain, clipped)


def test_gain_normalization_silent_clip(spark):
    from bioeco_portal_etl_spark.multimodal.media import (
        wav_gain_normalization,
    )
    from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

    df = spark.createDataFrame(
        [(1, bytearray(encode_wav([0, 0, 0])))],
        "media_id long, payload binary",
    )
    r = wav_gain_normalization(df).collect()[0]
    assert r["gain_e4"] is None and r["n_clipped"] == 0


def test_langid_confusion_shares_sum(spark):
    """Per-truth shares sum to ~1e6 (floor residue < cells)."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["tx36_langid_confusion"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_truth: dict[str, int] = {}
    for r in rows:
        by_truth[r["true_lang"]] = by_truth.get(r["true_lang"], 0) + r[
            "share_of_true_e6"
        ]
    for lang, tot in by_truth.items():
        assert 1_000_000 - 5 <= tot <= 1_000_000, (lang, tot)

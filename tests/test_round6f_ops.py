"""Operator-level tests for the round-6 sixth batch:
nprobe sweep, CMS error sweep, garbage score, channel correlation,
expectation drift."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_nprobe_sweep_monotone_recall(spark):
    """Recall must be non-decreasing in nprobe (more cells scanned can
    only add candidates), reaching the ts3 configuration at nprobe=2."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["ts21_nprobe_sweep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_np = {r["nprobe"]: r["recall_e4"] for r in rows}
    assert list(by_np) == [1, 2, 4]
    assert by_np[1] <= by_np[2] <= by_np[4]


def test_cms_error_sweep_one_sided_and_decreasing(spark):
    """Overcount is one-sided (>= 0) and the total overcount must not
    grow as width grows — the epsilon ~ 1/w law."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["sk12_cms_error_sweep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_w = {r["w"]: r for r in rows}
    assert list(by_w) == [64, 256, 1024]
    for r in rows:
        assert r["total_over"] >= 0 and r["max_over"] >= 0
    assert by_w[64]["total_over"] >= by_w[256]["total_over"] >= by_w[1024][
        "total_over"
    ]


def test_garbage_score_hand_texts(spark):
    """'zzzzzzzzzz' (no vowels, 10-run) flags; normal prose doesn't;
    empty text -> NULL ratio, flagged via the 0-coalesce rule."""
    from bioeco_portal_etl_spark.catalog_text import tx38_garbage_score

    # drive the same expressions through a temp view shaped like documents
    df = spark.createDataFrame(
        [
            (1, "zzzzzzzzzz"),
            (2, "a perfectly ordinary sentence appears here"),
            (3, ""),
            (4, "rhythm tsktsk brrrr"),  # vowel-poor, long runs
        ],
        "doc_id long, text string",
    )
    low = F.lower(F.coalesce("text", F.lit("")))
    letters = F.length(F.regexp_replace(low, "[^a-z]", ""))
    vowels = F.length(F.regexp_replace(low, "[^aeiou]", ""))
    run = F.array_max(
        F.transform(F.split(low, "[aeiou]|[^a-z]"), lambda s: F.length(s))
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            letters.alias("nl"),
            vowels.alias("nv"),
            F.coalesce(run, F.lit(0)).alias("mrun"),
        ).collect()
    }
    assert out[1]["nv"] == 0 and out[1]["mrun"] == 10
    assert out[2]["nv"] > 0 and out[2]["mrun"] < 8
    assert out[3]["nl"] == 0 and out[3]["mrun"] == 0
    assert out[4]["mrun"] >= 4


def test_channel_correlation_grayscale_and_dead(spark):
    """Grayscale-as-RGB (all channels equal): r_e4 = 10000 on every
    pair. One constant channel: its pairs are NULL (zero variance)."""
    from bioeco_portal_etl_spark.multimodal.media import (
        channel_correlation,
    )
    from bioeco_portal_etl_spark.multimodal.png import encode_png

    gray_rows = [
        [v for v in (10, 10, 10, 40, 40, 40)],
        [v for v in (90, 90, 90, 20, 20, 20)],
    ]
    gray = encode_png(gray_rows, channels=3)
    dead_rows = [
        [10, 5, 7, 40, 5, 13],
        [90, 5, 99, 20, 5, 1],
    ]  # G constant 5
    dead = encode_png(dead_rows, channels=3)
    df = spark.createDataFrame(
        [(1, bytearray(gray)), (2, bytearray(dead))],
        "media_id long, payload binary",
    )
    out = {
        (r["media_id"], r["pair"]): r["r_e4"]
        for r in channel_correlation(df).collect()
    }
    assert out[(1, "rg")] == out[(1, "rb")] == out[(1, "gb")] == 10_000
    assert out[(2, "rg")] is None and out[(2, "gb")] is None
    assert out[(2, "rb")] is not None


def test_expectation_drift_delta_signs(spark):
    """Slice b fails a rule that slice a passes: delta is negative for
    that rule and zero for an always-true rule."""
    from bioeco_portal_etl_spark.operators.quality import expectation_suite

    a = spark.createDataFrame([(5,), (6,)], "v long")
    b = spark.createDataFrame([(5,), (-1,)], "v long")
    rules = [
        ("v_positive", F.col("v") > 0),
        ("v_present", F.col("v").isNotNull()),
    ]
    ra = {
        r["check"]: r["pass_e6"]
        for r in expectation_suite(a, rules).collect()
    }
    rb = {
        r["check"]: r["pass_e6"]
        for r in expectation_suite(b, rules).collect()
    }
    assert rb["v_positive"] - ra["v_positive"] == -500_000
    assert rb["v_present"] - ra["v_present"] == 0

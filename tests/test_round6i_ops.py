"""Operator-level tests for the round-6 ninth batch:
dedupe agreement, top movers, top paths, frame motion, hapax ratio."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_dedupe_agreement_accounting(spark):
    """n_both <= min(exact, lsh); coverage in [0, 1e6]; extra =
    lsh - both."""
    from bioeco_portal_etl_spark import catalog

    r = catalog.queries()["td14_dedupe_agreement"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["n_both"] <= min(r["n_exact_pairs"], r["n_lsh_pairs"])
    assert r["lsh_extra_pairs"] == r["n_lsh_pairs"] - r["n_both"]
    if r["n_exact_pairs"] > 0:
        assert 0 <= r["exact_covered_e6"] <= 1_000_000
    assert r["n_exact_pairs"] > 0  # the fixture plants prefix dups


def test_top_movers_sorted_by_abs_delta(spark):
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["x48_top_movers"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(rows) <= 15
    deltas = [abs(r["delta_e2"]) for r in rows]
    assert deltas == sorted(deltas, reverse=True)
    for r in rows:
        assert r["delta_e2"] == r["rev_e2"] - r["prev_rev_e2"]


def test_top_paths_hand_stream(spark):
    """User stream a,b,a,b produces triples (a,b,a) and (b,a,b); a
    two-event user contributes nothing."""
    from pyspark.sql import Window

    rows = [
        (1, 1, "a"),
        (1, 2, "b"),
        (1, 3, "a"),
        (1, 4, "b"),
        (2, 5, "x"),
        (2, 6, "y"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string")
    w = Window.partitionBy("user_id").orderBy("event_id")
    tri = (
        df.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out = {(r["e1"], r["e2"], r["e3"]): r["n"] for r in tri}
    assert out == {("a", "b", "a"): 1, ("b", "a", "b"): 1}


def test_frame_motion_hand_payload(spark):
    """Two 4-byte frames differing by known amounts; a one-frame clip
    has zero motion."""
    from bioeco_portal_etl_spark.multimodal.media import frame_motion

    p1 = bytes([10, 20, 30, 40, 15, 18, 30, 50])  # steps: 5+2+0+10 = 17
    p2 = bytes([7, 7, 7])
    df = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))],
        "media_id long, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in frame_motion(df, frame_bytes=4, max_frames=8).collect()
    }
    assert out[1]["n_frames"] == 2
    assert out[1]["total_motion"] == 17
    assert out[1]["max_step_motion"] == 17
    assert out[2]["n_frames"] == 1 and out[2]["total_motion"] == 0


def test_frame_motion_partial_tail_overlap(spark):
    """Last frame shorter than frame_bytes: SAD runs over the overlap
    only (zip truncates), matching the oracle's least(len) bound."""
    from bioeco_portal_etl_spark.multimodal.media import frame_motion

    p = bytes([0, 0, 0, 0, 9, 9])  # frame2 = 2 bytes -> SAD = 9+9
    df = spark.createDataFrame(
        [(1, bytearray(p))], "media_id long, payload binary"
    )
    r = frame_motion(df, frame_bytes=4, max_frames=8).collect()[0]
    assert r["total_motion"] == 18


def test_hapax_ratio_hand_corpus(spark):
    from bioeco_portal_etl_spark.text.tokenize import tokens

    df = spark.createDataFrame(
        [("en", "aa bb bb cc cc cc")], "lang string, text string"
    )
    tc = (
        df.select("lang", F.explode(tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    r = (
        tc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
            F.sum((F.col("c") == 2).cast("long")).alias("dis"),
        )
        .collect()[0]
    )
    assert (r["vocab"], r["hapax"], r["dis"]) == (3, 1, 1)

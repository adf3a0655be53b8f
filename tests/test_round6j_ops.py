"""Operator-level tests for the round-6 tenth batch:
edge support, id gaps, norm profile, soft-dedupe weights, crest
factor."""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def test_edge_support_triangle_plus_bridge(spark):
    """Triangle 1-2-3 plus pendant edge 3-4: triangle edges have
    support 1, the pendant is a support-0 local bridge."""
    from bioeco_portal_etl_spark.graph.triangles import edge_support

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    out = {r["support"]: r["n_edges"] for r in edge_support(edges).collect()}
    assert out == {0: 1, 1: 3}


def test_edge_support_k4_every_edge_two(spark):
    """K4: every edge lies in exactly 2 triangles."""
    from bioeco_portal_etl_spark.graph.triangles import edge_support

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4, "src long, dst long")
    out = {r["support"]: r["n_edges"] for r in edge_support(edges).collect()}
    assert out == {2: 6}


def test_id_gaps_hand_sequence(spark):
    """ids {1,2,5,6,10}: missing 3,4,7,8,9 (5), two gap runs, max 3."""
    from pyspark.sql import Window

    ids = spark.createDataFrame([(1,), (2,), (5,), (6,), (10,)], "id long")
    w = Window.orderBy("id")
    d = ids.select("id", (F.col("id") - F.lag("id").over(w)).alias("delta"))
    r = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("id") - F.min("id") + 1 - F.count(F.lit(1))).alias("missing"),
        F.sum((F.col("delta") > 1).cast("long")).alias("runs"),
        F.coalesce(F.max(F.col("delta") - 1), F.lit(0)).alias("max_gap"),
    ).collect()[0]
    assert (r["n"], r["missing"], r["runs"], r["max_gap"]) == (5, 5, 2, 3)


def test_norm_profile_exact_quantized_norm(spark):
    """A hand vector's quantized squared norm lands in the right
    bucket with exact min/max."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["ts24_norm_profile"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    total = sum(r["n_vecs"] for r in rows)
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    n_embeddings = read_parquet_table(
        spark, "/root/testdata/sf0.001", "embeddings"
    ).count()
    assert total == n_embeddings
    for r in rows:
        assert r["min_norm2_q"] >= r["bucket"] * 50_000_000
        assert r["max_norm2_q"] < (r["bucket"] + 1) * 50_000_000


def test_soft_dedupe_weights_cluster_mass(spark):
    """Within each cluster: every member carries the same weight and
    cluster mass = size * (1e6 div size) ≈ 1e6 (floor residue)."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["td15_soft_dedupe_weights"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["weight_e6"] == 1_000_000 // r["cluster_size"]
    assert any(r["cluster_size"] > 1 for r in rows)  # fixture plants dups


def test_crest_factor_hand_clip(spark):
    """Clip [300, -1000, 100]: peak 1000, rms = sqrt(1100000/3);
    constant full-scale clip has crest exactly 1e4."""
    from bioeco_portal_etl_spark.multimodal.media import (
        wav_clip_stats,
    )
    from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

    s = [300, -1000, 100]
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(s))), (2, bytearray(encode_wav([700, -700])))],
        "media_id long, payload binary",
    )
    stats = wav_clip_stats(df).select(
        "media_id",
        "n_samples",
        F.greatest(F.col("max_s"), -F.col("min_s")).alias("peak"),
        "energy",
    ).withColumn(
        "crest_e4",
        F.expr(
            "CASE WHEN energy > 0 THEN CAST(floor(10000 * peak"
            " / sqrt(CAST(energy AS DOUBLE) / n_samples)) AS BIGINT) END"
        ),
    )
    out = {r["media_id"]: r for r in stats.collect()}
    e = sum(v * v for v in s)
    assert out[1]["crest_e4"] == math.floor(10000 * 1000 / math.sqrt(e / 3))
    assert out[2]["crest_e4"] == 10_000  # constant amplitude: peak == rms

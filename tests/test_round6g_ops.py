"""Operator-level tests for the round-6 seventh batch:
modularity, period growth, centroid drift, key discovery, NDV audit."""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def test_modularity_two_cliques_vs_random_split(spark):
    """Two disjoint triangles with their natural communities: each
    community has e_c=3, d_c=6, m=6 -> contribution = 3/6 - (6/12)^2 =
    0.25 -> 250000; total Q = 0.5 (strong structure)."""
    from bioeco_portal_etl_spark.graph.modularity import community_modularity
    from bioeco_portal_etl_spark.graph.undirected import undirected

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    edges = spark.createDataFrame(tri1 + tri2, "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node long, label long",
    )
    out = {
        r["community"]: r
        for r in community_modularity(undirected(edges), labels).collect()
    }
    for c in (1, 4):
        assert out[c]["internal_edges"] == 3
        assert out[c]["degree_sum"] == 6
        assert out[c]["q_contrib_e6"] == 250_000
    # a bad assignment (cross-cutting) must score lower
    bad = spark.createDataFrame(
        [(1, 1), (2, 4), (3, 1), (4, 4), (5, 1), (6, 4)],
        "node long, label long",
    )
    bad_q = sum(
        r["q_contrib_e6"]
        for r in community_modularity(undirected(edges), bad).collect()
    )
    assert bad_q < 500_000


def test_modularity_negative_contribution(spark):
    """A 'community' with NO internal edges but plenty of degree gets a
    NEGATIVE contribution — the floor(::DOUBLE /) spelling must floor
    toward -inf, not truncate."""
    from bioeco_portal_etl_spark.graph.modularity import community_modularity
    from bioeco_portal_etl_spark.graph.undirected import undirected

    edges = spark.createDataFrame(
        [(1, 2), (3, 4)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(1, 7), (3, 7), (2, 8), (4, 8)], "node long, label long"
    )
    out = {
        r["community"]: r["q_contrib_e6"]
        for r in community_modularity(undirected(edges), labels).collect()
    }
    # each community: e_c=0, d_c=2, m=2 -> -(2/4)^2 = -0.25
    assert out[7] == out[8] == -250_000


def test_period_growth_hand_series(spark):
    from bioeco_portal_etl_spark.operators.quality import expectation_suite  # noqa: F401

    import datetime

    rows = [
        (datetime.datetime(2020, 1, 5), 100.0),
        (datetime.datetime(2020, 1, 20), 100.0),
        (datetime.datetime(2020, 2, 10), 300.0),
        (datetime.datetime(2020, 3, 1), 150.0),
    ]
    df = spark.createDataFrame(rows, "o_orderdate timestamp, o_totalprice double")
    from pyspark.sql import Window

    o = df.select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("p"),
    )
    m = o.groupBy("month").agg(F.sum("p").alias("rev"))
    w = Window.orderBy("month")
    out = (
        m.withColumn("prev", F.lag("rev").over(w))
        .withColumn(
            "g",
            F.expr(
                "CASE WHEN prev > 0 THEN CAST(floor(CAST(1000000 *"
                " (rev - prev) AS DOUBLE) / prev) AS BIGINT) END"
            ),
        )
        .orderBy("month")
        .collect()
    )
    assert out[0]["g"] is None
    assert out[1]["g"] == 500_000  # 20000 -> 30000 cents: +50%
    assert out[2]["g"] == -500_000  # 30000 -> 15000: -50%


def test_centroid_drift_zero_and_known_shift(spark):
    """Identical halves drift 0; a known offset in one dim shows up as
    the squared quantized delta."""
    from bioeco_portal_etl_spark.similarity.centroids import (
        label_centroid_drift,
    )

    rows = [
        (1, "a", [0.5, 0.25]),
        (1, "b", [0.5, 0.25]),
        (2, "a", [0.5, 0.0]),
        (2, "b", [0.75, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "label long, half string, embedding array<float>"
    )
    out = {
        r["label"]: r
        for r in label_centroid_drift(
            df, "label", "embedding", "half"
        ).collect()
    }
    assert out[1]["shift_q2"] == 0
    assert out[2]["shift_q2"] == 2500 * 2500  # 5000 vs 7500 in dim 0
    assert (out[2]["n_a"], out[2]["n_b"]) == (1, 1)


def test_key_discovery_hand_table(spark):
    from bioeco_portal_etl_spark.operators.quality import key_discovery

    rows = [(1, 10, "x"), (2, 10, "y"), (3, 20, "x")]
    df = spark.createDataFrame(rows, "id long, grp long, tag string")
    out = {
        r["candidate"]: r
        for r in key_discovery(
            df, [["id"], ["grp"], ["grp", "tag"]]
        ).collect()
    }
    assert out["id"]["is_key"] == 1 and out["id"]["n_dup_rows"] == 0
    assert out["grp"]["is_key"] == 0 and out["grp"]["n_distinct"] == 2
    assert out["grp+tag"]["is_key"] == 1


def test_ndv_audit_shapes(spark):
    """On lineitem at sf0.001 the audit emits one row per column with a
    sample smaller than the table and one-sided sanity: sample_ndv <=
    true_ndv; Chao (when defined) >= sample_ndv."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["x46_ndv_estimate_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r["column_name"] for r in rows} == {"l_partkey", "l_suppkey"}
    for r in rows:
        assert r["sample_rows"] < r["true_ndv"] * 100
        assert r["sample_ndv"] <= r["true_ndv"]
        if r["chao_est"] is not None:
            assert r["chao_est"] >= r["sample_ndv"]
            assert r["err_e6"] == math.floor(
                1_000_000 * (r["chao_est"] - r["true_ndv"]) / r["true_ndv"]
            )

"""Operator-level tests for the round-5 fifteenth batch: harmonic
centrality from HyperBall deltas, timeout funnel (start-maximality and
the deadline), range-partitioner boundaries/audit, feature hashing, and
the native session_window streaming wrapper's batch face."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_harmonic_centrality_path_graph(spark):
    """Path a-b-c: exact ball sizes (no collisions at this scale, proven
    by the gr11 test) give H(b) = 2/1, H(a) = H(c) = 1/1 + 1/2 at
    radius 2 — in e6: 2_000_000 vs 1_500_000."""
    from bioeco_portal_etl_spark.graph.hyperball import (
        harmonic_centrality,
        hyperball_neighborhood,
    )

    a, b, c = 101, 202, 303
    fwd = spark.createDataFrame([(a, b), (b, c)], "src long, dst long")
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = spark.createDataFrame([(a,), (b,), (c,)], "node long")
    hb = hyperball_neighborhood(edges, nodes, radius=2)
    out = {
        r["node"]: r["harmonic_e6"]
        for r in harmonic_centrality(hb, radius=2).collect()
    }
    assert out == {a: 1_500_000, b: 2_000_000, c: 1_500_000}


def test_window_funnel_deadline_and_start_maximality(spark):
    """User 1 completes all 3 steps inside the window; user 2's step 3
    misses the deadline of the FIRST view but a later view starts a
    chain that converts — the maximum over starts must find it; user 3
    has steps out of order (click before view after deadline) -> level 1."""
    from bioeco_portal_etl_spark.operators.funnel import window_funnel

    rows = [
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 00:10:00", "click"),
        (1, "2024-01-01 00:20:00", "purchase"),
        # user 2: first view's chain times out, second view's converts
        (2, "2024-01-01 00:00:00", "view"),
        (2, "2024-01-01 02:00:00", "view"),
        (2, "2024-01-01 02:10:00", "click"),
        (2, "2024-01-01 02:20:00", "purchase"),
        # user 3: click precedes every view
        (3, "2024-01-01 00:30:00", "click"),
        (3, "2024-01-01 05:00:00", "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, s string, event_type string").select(
        "user_id", F.col("s").cast("timestamp").alias("ts"), "event_type"
    )
    out = {
        r["user"]: r["funnel_level"]
        for r in window_funnel(
            df, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], 3_600_000_000,
        ).collect()
    }
    assert out == {1: 3, 2: 3, 3: 1}
    # tighter window: user 1 still converts, user 2's second chain does
    # too (10+10 min), but a 15-minute deadline kills both purchases
    out15 = {
        r["user"]: r["funnel_level"]
        for r in window_funnel(
            df, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], 900_000_000,
        ).collect()
    }
    assert out15 == {1: 2, 2: 2, 3: 1}


def test_range_boundaries_and_audit_uniform(spark):
    """Uniform 0..799 with a 100% sample: boundaries at the exact
    octiles, the audit reproduces total rows and tight bucket spans."""
    from bioeco_portal_etl_spark.operators.rangepart import (
        range_assignment_audit,
        range_boundaries,
    )

    df = spark.createDataFrame(
        [(i, i % 800) for i in range(800)], "rid long, v long"
    )
    b = range_boundaries(df, "v", "rid", buckets=8, sample_permille=1000)
    bl = sorted(r["boundary"] for r in b.collect())
    # ceil-rank quantile of 0..799: smallest v with 8*(v+1) >= j*800
    assert bl == [99, 199, 299, 399, 499, 599, 699]
    audit = {
        r["bucket"]: (r["n_rows"], r["min_v"], r["max_v"])
        for r in range_assignment_audit(df, "v", b).collect()
    }
    assert sum(v[0] for v in audit.values()) == 800
    assert audit[0] == (99, 0, 98)  # [0, b1)
    assert audit[1] == (100, 99, 198)  # [b1, b2)
    assert audit[7] == (101, 699, 799)  # [b7, inf)


def test_feature_hashing_collision_accounting(spark):
    """n_tokens counts occurrences, n_terms distinct terms, n_buckets <=
    min(n_terms, D); with D = 1 every term collides into one bucket and
    collision_e6 = 1e6 * (n_terms - 1) / n_terms."""
    from bioeco_portal_etl_spark.text.feature_hash import collision_audit

    docs = spark.createDataFrame(
        [(1, "aa bb aa cc dd")], "doc_id long, text string"
    )
    a64 = collision_audit(docs, "doc_id", "text", dim=64).collect()[0]
    assert a64["n_tokens"] == 5 and a64["n_terms"] == 4
    assert a64["n_buckets"] <= 4
    a1 = collision_audit(docs, "doc_id", "text", dim=1).collect()[0]
    assert a1["n_buckets"] == 1 and a1["collision_e6"] == 750_000


def test_native_session_counts_batch_face(spark):
    """Batch semantics of the builtin session wrapper: events 10 min
    apart merge under a 30-min gap; a 40-min hole splits; session_end =
    last event + gap."""
    from bioeco_portal_etl_spark.streaming.windows import (
        native_session_counts,
    )

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 00:50:00"),  # 40 min after -> new session
    ]
    df = spark.createDataFrame(rows, "user_id long, s string").select(
        "user_id", F.col("s").cast("timestamp").alias("ts")
    )
    out = sorted(
        (str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in native_session_counts(df, "30 minutes").collect()
    )
    assert out == [
        ("2024-01-01 00:00:00", "2024-01-01 00:40:00", 2),
        ("2024-01-01 00:50:00", "2024-01-01 01:20:00", 1),
    ]

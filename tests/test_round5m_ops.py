"""Operator-level tests for the round-5 thirteenth batch: personalized
PageRank (seed locality), l-diversity (homogeneity detection), mergeable
histogram quantiles (merge-invariance + certificate), selectivity
brackets (alignment cases), and the windowed CMS grid (batch parity with
cms_build)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_ppr_mass_localizes_at_seed(spark):
    """On the path a-b-c-d with seed {a}: all mass stays within the
    iteration radius (d gets its first mass exactly at round 3, the
    walk length), and the seed half of the path holds more mass than
    the far half. (Per-hop monotonic decay would be WRONG to assert:
    damped-walk mass oscillates with path parity on bipartite graphs.)"""
    from bioeco_portal_etl_spark.graph.pagerank import pagerank

    fwd = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    ppr = lambda k: {
        r["node"]: r["pr_e9"]
        for r in pagerank(edges, iterations=k, seeds=seeds).collect()
    }
    r2, r3 = ppr(2), ppr(3)
    assert r2[4] == 0 and r3[4] > 0  # reach expands one hop per round
    assert r3[1] + r3[2] > r3[3] + r3[4]  # mass localizes near the seed
    assert r3[1] > r3[3] and r3[2] > r3[4]  # same-parity pairs do decay


def test_ppr_matches_unrolled_reference(spark):
    """Exact e9 values on a 2-node graph, hand-unrolled: seed {1},
    edges 1<->2, 3 iterations — teleport 150_000_000 to the seed only,
    85% damped mass alternating across the edge."""
    from bioeco_portal_etl_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    # pr0 = (1e9, 0); each step: pr1' = t + 85% pr2, pr2' = 85% pr1
    p1, p2 = 10**9, 0
    for _ in range(3):
        p1, p2 = 150_000_000 + (85 * p2) // 100, (85 * p1) // 100
    out = {
        r["node"]: r["pr_e9"]
        for r in pagerank(edges, iterations=3, seeds=seeds).collect()
    }
    assert out == {1: p1, 2: p2}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pagerank_every_endpoint_seeded_is_plain_pagerank(spark, seed):
    """Seeding every endpoint gives the uniform teleport of plain
    PageRank: identical rows, on directed random graphs with dangling
    nodes and duplicate edges."""
    import random

    from bioeco_portal_etl_spark.graph.pagerank import pagerank

    rng = random.Random(seed)
    pairs = [tuple(rng.sample(range(30), 2)) for _ in range(70)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame(
        [(n,) for n in {n for p in pairs for n in p}], "node long"
    )
    plain = sorted(map(tuple, pagerank(edges).collect()))
    seeded = sorted(map(tuple, pagerank(edges, seeds=seeds).collect()))
    assert len(plain) == len(seeds.collect())
    assert plain == seeded


def test_l_diversity_flags_homogeneous_group(spark):
    """A QI group with one sensitive value is risky (min_l = 1,
    max_share_e6 = 1_000_000); a two-value group at l=2 is not."""
    from bioeco_portal_etl_spark.operators.anonymity import l_diversity_audit

    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "x"), ("a", 1, "x"),
         ("b", 1, "x"), ("b", 1, "y"), ("b", 1, "y")],
        "qi1 string, qi2 long, s string",
    )
    out = {
        r["qi1"]: r
        for r in l_diversity_audit(df, ["qi1", "qi2"], "s", l=2).collect()
    }
    assert out["a"]["n_risky_groups"] == 1 and out["a"]["min_l"] == 1
    assert out["a"]["max_share_e6"] == 1_000_000
    assert out["b"]["n_risky_groups"] == 0 and out["b"]["min_l"] == 2
    assert out["b"]["max_share_e6"] == 666_666  # 2/3 floored at e6


def test_hist_quantiles_merge_invariant_and_certified(spark):
    """Merging per-group histograms then reading quantiles must equal
    binning globally in one pass (losslessness), and the exact quantile
    must land in the estimated bin (the certificate)."""
    from bioeco_portal_etl_spark.sketches.histq import (
        binned_histogram,
        exact_quantiles_cents,
        hist_quantiles,
        merge_histograms,
    )

    rows = [(i % 4, float(i)) for i in range(200)]  # values 0..199 -> cents 0..19900
    df = spark.createDataFrame(rows, "g long, value double")
    pcts = [("p50", 2, 1), ("p90", 10, 9)]
    merged = merge_histograms(
        binned_histogram(df, ["g"], "value", 16, 0, 3200), []
    )
    direct = binned_histogram(df, [], "value", 16, 0, 3200)
    assert {
        (r["bin"], r["cnt"]) for r in merged.collect()
    } == {(r["bin"], r["cnt"]) for r in direct.collect()}
    est = hist_quantiles(merged, [], pcts, 0, 3200).collect()[0]
    exact = exact_quantiles_cents(df, [], "value", pcts).collect()[0]
    # exact p50 = 100th smallest cents = 9900 -> bin 3; p90 = 17900 -> bin 5
    assert exact["p50_exact_cents"] == 9900 and est["p50_bin"] == 3
    assert exact["p90_exact_cents"] == 17900 and est["p90_bin"] == 5
    assert est["p50_est_cents"] == 3 * 3200 and est["p90_est_cents"] == 5 * 3200


def test_selectivity_brackets(spark):
    """Aligned rectangles prove exact counts (lo = hi = actual, no
    partial cells); unaligned ones bracket the truth."""
    from bioeco_portal_etl_spark.operators.selectivity import (
        grid_histogram_2d,
        selectivity_bounds,
    )

    df = spark.createDataFrame(
        [(a, b) for a in range(40) for b in range(40)], "a long, b long"
    )
    grid = grid_histogram_2d(df, "a", "b", 10, 10)
    out = {
        r["predicate"]: r
        for r in selectivity_bounds(
            grid,
            10,
            10,
            [
                ("aligned", 10, 19, 20, 29),
                ("unaligned", 5, 14, 5, 14),
            ],
        ).collect()
    }
    al = out["aligned"]
    assert al["est_lo"] == al["est_hi"] == 100 and al["cells_partial"] == 0
    un = out["unaligned"]
    assert un["est_lo"] == 0 and un["est_hi"] == 400  # 4 boundary cells
    assert un["cells_partial"] == 4 and un["cells_full"] == 0


def test_windowed_cms_grid_matches_batch_cms_build(spark):
    """The streaming grid restricted to one window must be bit-identical
    to sketches.cms.cms_build over the same slice (same hash family,
    same counters)."""
    from bioeco_portal_etl_spark.sketches.cms import cms_build
    from bioeco_portal_etl_spark.streaming.windows import windowed_cms_grid

    ev = spark.createDataFrame(
        [(i % 7, f"2024-01-01 00:{i % 60:02d}:00") for i in range(50)],
        "user_id long, s string",
    ).select("user_id", F.col("s").cast("timestamp").alias("ts"))
    streamed = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windowed_cms_grid(ev, "1 hour", "user_id").collect()
    }
    batch = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(ev, "user_id").collect()
    }
    assert streamed == batch and len(batch) > 0

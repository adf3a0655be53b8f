"""Operator-level tests for the round-6 fifth batch:
bitmap suitability, shard dup locality, rich club, BPE fertility
surface, streaming union dedupe."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_bitmap_suitability_runs_and_ratio(spark):
    """Ordered values a,a,a,b,b,a: 3 runs, ndv 2, ratio 500000."""
    from bioeco_portal_etl_spark.operators.bitmapidx import bitmap_suitability

    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "a")]
    df = spark.createDataFrame(rows, "o long, c string")
    r = bitmap_suitability(df, "o", ["c"]).collect()[0]
    assert (r["n_rows"], r["ndv"], r["n_runs"]) == (6, 2, 3)
    assert r["rle_ratio_e6"] == 500_000


def test_bitmap_suitability_clustered_vs_shuffled(spark):
    """The SAME values fully clustered vs alternating: runs 2 vs n —
    the statistic actually measures layout, not content."""
    from bioeco_portal_etl_spark.operators.bitmapidx import bitmap_suitability

    clustered = [(i, "x" if i < 50 else "y") for i in range(100)]
    alternating = [(i, "x" if i % 2 == 0 else "y") for i in range(100)]
    c = bitmap_suitability(
        spark.createDataFrame(clustered, "o long, c string"), "o", ["c"]
    ).collect()[0]
    a = bitmap_suitability(
        spark.createDataFrame(alternating, "o long, c string"), "o", ["c"]
    ).collect()[0]
    assert c["n_runs"] == 2 and a["n_runs"] == 100
    assert c["ndv"] == a["ndv"] == 2


def test_shard_dup_locality_hand_clusters(spark):
    """Cluster A: ids 0,8 (same shard 0) -> 1 intra pair. Cluster B:
    ids 1,2,3 (three shards) -> 3 inter pairs. Singletons excluded."""
    from bioeco_portal_etl_spark.text.dedupe import shard_dup_locality

    rows = [(0, "A"), (8, "A"), (1, "B"), (2, "B"), (3, "B"), (99, "C")]
    df = spark.createDataFrame(rows, "doc_id long, fp string")
    out = {
        r["cluster_size"]: r
        for r in shard_dup_locality(df, "doc_id", "fp", n_shards=8).collect()
    }
    assert set(out) == {2, 3}
    assert (out[2]["intra_pairs"], out[2]["inter_pairs"]) == (1, 0)
    assert out[2]["inter_share_e6"] == 0
    assert (out[3]["intra_pairs"], out[3]["inter_pairs"]) == (0, 3)
    assert out[3]["inter_share_e6"] == 1_000_000


def test_rich_club_clique_plus_pendants(spark):
    """4-clique + two pendant nodes hanging off node 1: deg(1)=5,
    deg(2..4)=3, pendants deg 1. k=2: club = {1,2,3,4}, all 6 clique
    edges inside -> phi = 1e6. k=4: club = {1} -> NULL (n < 2)."""
    from bioeco_portal_etl_spark.graph.richclub import rich_club

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = clique + [(1, 10), (1, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["k"]: r for r in rich_club(df, ks=[2, 4]).collect()}
    assert out[2]["n_nodes"] == 4 and out[2]["n_edges"] == 6
    assert out[2]["phi_e6"] == 1_000_000
    assert out[4]["n_nodes"] == 1 and out[4]["phi_e6"] is None


def test_rich_club_monotone_club_shrinks(spark):
    from bioeco_portal_etl_spark.graph.richclub import rich_club

    edges = [(i, j) for i in range(10) for j in range(i + 1, 10) if (i + j) % 3]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["k"]: r["n_nodes"] for r in rich_club(df, ks=[1, 3, 5]).collect()}
    assert rows[1] >= rows[3] >= rows[5]


def test_bpe_fertility_at_least_one_subtoken_per_word(spark):
    """Surface sanity at sf0.001: fertility >= 1e4 (a word is at least
    one subtoken) and word totals match the corpus token count."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["tx37_bpe_fertility"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["fertility_e4"] >= 10_000
        assert r["n_subtokens"] >= r["n_words"]


def test_stream_union_dedupe_collapses_overlap(spark):
    """The 200-299 overlap region must appear exactly once: output rows
    == distinct doc ids in the union (600 raw arrivals -> 500 rows at
    the 500-doc fixtures)."""
    from bioeco_portal_etl_spark import catalog

    rows = catalog.queries()["w20_stream_union_dedupe"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert sum(1 for i in ids if 200 <= i < 300) == 100

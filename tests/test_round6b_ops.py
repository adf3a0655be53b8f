"""Operator-level tests for the round-6 second batch:
n-gram novelty, 2-D skyline, local clustering coefficient, pixel
histogram Gini, nucleus coverage."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_ngram_novelty_ordering_semantics(spark):
    """doc 1 introduces its grams (novelty 1e6); an identical later doc
    introduces nothing (novelty 0); a too-short doc reports (0,0,NULL)."""
    from bioeco_portal_etl_spark.text.novelty import ngram_novelty

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "beta gamma delta epsilon"),
        (4, "hi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_e6"])
        for r in ngram_novelty(df, "doc_id", "text", k=3).collect()
    }
    assert out[1] == (2, 2, 1_000_000)  # "a b g", "b g d"
    assert out[2] == (2, 0, 0)
    # doc 3 grams: "b g d" (seen in doc1), "g d e" (new)
    assert out[3] == (2, 1, 500_000)
    assert out[4] == (0, 0, None)


def test_skyline_2d_dominance_and_ties(spark):
    """Hand-built front: keeps the true Pareto set, keeps duplicate
    non-dominated points, drops same-price smaller points."""
    from bioeco_portal_etl_spark.operators.skyline import skyline_2d

    rows = [
        (1, 100, 50),  # front
        (2, 100, 50),  # duplicate of 1 -> kept (equal points don't dominate)
        (3, 100, 40),  # same price, smaller -> dominated by 1
        (4, 90, 30),  # front (cheaper)
        (5, 120, 60),  # front (bigger)
        (6, 130, 55),  # dominated by 5 (pricier, smaller)
        (7, 80, 30),  # front; dominates nothing of 4? cheaper, equal size
    ]
    # note: 7 dominates 4 (price 80 < 90, size equal) -> 4 is OUT
    df = spark.createDataFrame(rows, "id long, price_c long, p_size long")
    kept = {r["id"] for r in skyline_2d(df, "price_c", "p_size").collect()}
    assert kept == {1, 2, 5, 7}


def test_local_clustering_known_graphs(spark):
    """Triangle: every node lcc = 1. Path a-b-c: center has lcc 0.
    Square + one diagonal: diagonal endpoints 1/3... -> hand numbers."""
    from bioeco_portal_etl_spark.graph.triangles import local_clustering

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    out = {r["node"]: r for r in local_clustering(tri).collect()}
    assert all(out[n]["lcc_e6"] == 1_000_000 for n in (1, 2, 3))

    # square 1-2-3-4 with diagonal 1-3: deg(1)=deg(3)=3, deg(2)=deg(4)=2;
    # triangles: (1,2,3), (1,3,4). T(1)=T(3)=2 -> lcc = 2*2/(3*2) = 2/3;
    # T(2)=T(4)=1 -> lcc = 1
    sq = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long"
    )
    out = {r["node"]: r for r in local_clustering(sq).collect()}
    assert out[1]["n_tri"] == 2 and out[1]["lcc_e6"] == 666_666
    assert out[2]["n_tri"] == 1 and out[2]["lcc_e6"] == 1_000_000
    # path: center has deg 2, no triangle -> lcc 0; leaves deg 1 excluded
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r["node"]: r for r in local_clustering(path).collect()}
    assert list(out) == [2] and out[2]["lcc_e6"] == 0


def test_image_histogram_stats_gini(spark):
    """2x2 grayscale PNG with values [5, 5, 5, 9]: n_distinct 2, mode
    (5, 3), gini = 1 - (9+1)/16 = 0.375 -> 375000."""
    from bioeco_portal_etl_spark.multimodal.media import (
        image_histogram_stats,
    )
    from bioeco_portal_etl_spark.multimodal.png import encode_png

    p = encode_png([[5, 5], [5, 9]], channels=1)
    df = spark.createDataFrame(
        [(1, bytearray(p))], "media_id long, payload binary"
    )
    r = image_histogram_stats(df).collect()[0]
    assert (r["n_px"], r["n_distinct"]) == (4, 2)
    assert (r["mode_v"], r["mode_count"]) == (5, 3)
    assert r["gini_e6"] == 1_000_000 - (1_000_000 * 10) // 16


def test_image_histogram_mode_tie_smallest_value(spark):
    from bioeco_portal_etl_spark.multimodal.media import (
        image_histogram_stats,
    )
    from bioeco_portal_etl_spark.multimodal.png import encode_png

    p = encode_png([[7, 3], [3, 7]], channels=1)
    df = spark.createDataFrame(
        [(1, bytearray(p))], "media_id long, payload binary"
    )
    r = image_histogram_stats(df).collect()[0]
    assert (r["mode_v"], r["mode_count"]) == (3, 2)


def test_nucleus_coverage_hand_distribution(spark):
    """Counts 5,3,1,1 (total 10), p=0.8: prefix mass before each token =
    0,5,8,9 -> in-nucleus while cum_before < 8: first two tokens;
    mass = 8/10 -> 800000 exactly."""
    from bioeco_portal_etl_spark.text.nucleus import nucleus_coverage

    text = " ".join(["aa"] * 5 + ["bb"] * 3 + ["cc", "dd"])
    df = spark.createDataFrame([("en", text)], "lang string, text string")
    r = nucleus_coverage(df, "lang", "text", p_e6=800_000).collect()[0]
    assert (r["n_vocab"], r["total_tokens"]) == (4, 10)
    assert r["n_nucleus"] == 2
    assert r["nucleus_mass_e6"] == 800_000


def test_nucleus_tie_breaks_on_token(spark):
    """Equal counts order alphabetically: with p small, the nucleus is
    exactly the first token in (count DESC, token ASC) order."""
    from bioeco_portal_etl_spark.text.nucleus import nucleus_coverage

    df = spark.createDataFrame(
        [("en", "zz aa zz aa")], "lang string, text string"
    )
    r = nucleus_coverage(df, "lang", "text", p_e6=100_000).collect()[0]
    assert r["n_nucleus"] == 1 and r["nucleus_mass_e6"] == 500_000

"""Operator-level tests for the round-6 first batch:
Adamic-Adar link prediction, per-label centroid stats, split balance,
WAV trim bounds. (The JPEG codec itself is covered in test_jpeg.py,
including hand-pinned spec bitstreams.)"""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def test_adamic_adar_known_square(spark):
    """Square a-b-c-d-a: (a,c) and (b,d) are the non-adjacent pairs, each
    with 2 common neighbors of degree 2 -> aa_e6 = 2 * floor(1e6/ln 2)."""
    from bioeco_portal_etl_spark.graph.linkpred import adamic_adar
    from bioeco_portal_etl_spark.graph.undirected import undirected

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    out = {
        (r["u"], r["v"]): (r["n_common"], r["aa_e6"])
        for r in adamic_adar(undirected(edges), min_common=1).collect()
    }
    w = math.floor(1_000_000 / math.log(2))
    assert out == {(1, 3): (2, 2 * w), (2, 4): (2, 2 * w)}


def test_adamic_adar_excludes_existing_edges_and_hubs(spark):
    """A triangle has NO candidates (all pairs adjacent); adding a hub
    with degree above the cap must not create any."""
    from bioeco_portal_etl_spark.graph.linkpred import adamic_adar
    from bioeco_portal_etl_spark.graph.undirected import undirected

    tri = [(1, 2), (2, 3), (1, 3)]
    hub = [(99, x) for x in range(1, 9)]  # deg(99) = 8
    edges = spark.createDataFrame(tri + hub, "src long, dst long")
    # cap below the hub degree: only triangle middles survive, and every
    # triangle pair is adjacent -> empty
    out = adamic_adar(undirected(edges), max_degree=7, min_common=1).collect()
    assert out == []
    # cap admitting the hub: leaves 4..8 pair up through it
    out2 = adamic_adar(undirected(edges), max_degree=8, min_common=1).collect()
    assert all(r["n_common"] >= 1 for r in out2)
    assert {(r["u"], r["v"]) for r in out2} >= {(4, 5), (7, 8)}


def test_label_centroid_stats_hand_computed(spark):
    """Two labels, hand-checkable geometry: label 0 = {(1,0), (0,1)} ->
    per-dim sums 1, c = floor(10000/2) = 5000, cq2 = 2*5000^2;
    label 1 = {(1,1)} -> c = 10000 per dim, zero scatter."""
    from bioeco_portal_etl_spark.similarity.centroids import (
        label_centroid_stats,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.0, 1.0]), (1, [1.0, 1.0])],
        "label long, embedding array<float>",
    )
    out = {
        r["label"]: (r["n_vecs"], r["centroid_q2"], r["ssd_q"])
        for r in label_centroid_stats(df, "label", "embedding").collect()
    }
    # label 0 per dim: xq in {10000, 0}; sx=10000, sxx=1e8, c=5000,
    # dev = 1e8 - 2*5000*10000 + 2*25e6 = 5e7; two dims
    assert out[0] == (2, 2 * 5000 * 5000, 2 * 50_000_000)
    assert out[1] == (1, 2 * 10000 * 10000, 0)


def test_label_centroid_stats_negative_values_floor(spark):
    """Signed components (float32-exact: -0.125 and 0.25 are dyadic):
    floor(-0.125 * 1e4) = -1250; scatter of a singleton is 0 even with
    negative coords (c == xq)."""
    from bioeco_portal_etl_spark.similarity.centroids import (
        label_centroid_stats,
    )

    df = spark.createDataFrame(
        [(7, [-0.125, 0.25])], "label long, embedding array<float>"
    )
    r = label_centroid_stats(df, "label", "embedding").collect()[0]
    assert r["ssd_q"] == 0
    assert r["centroid_q2"] == 1250 * 1250 + 2500 * 2500


def test_split_balance_accounting(spark):
    """Shares within each split sum to ~1e6 (floor residue < n_strata)
    and skew is the signed difference vs the corpus share."""
    from bioeco_portal_etl_spark.operators.balance import split_balance

    rows = (
        [("train", "en")] * 6
        + [("train", "fr")] * 2
        + [("val", "en")] * 1
        + [("val", "fr")] * 1
    )
    df = spark.createDataFrame(rows, "split string, stratum string")
    out = {
        (r["split"], r["stratum"]): r
        for r in split_balance(df, "split", "stratum").collect()
    }
    assert out[("train", "en")]["share_e6"] == 750_000
    assert out[("train", "en")]["corpus_share_e6"] == 700_000
    assert out[("train", "en")]["skew_e6"] == 50_000
    assert out[("val", "fr")]["share_e6"] == 500_000
    assert out[("val", "fr")]["skew_e6"] == 200_000
    for split in ("train", "val"):
        tot = sum(
            r["share_e6"] for (s, _), r in out.items() if s == split
        )
        assert 1_000_000 - 2 <= tot <= 1_000_000


def test_wav_trim_bounds_known_waveform(spark):
    """Hand-built clip: quiet lead (|s| < 128), loud middle, quiet tail —
    bounds and retained energy are exact; an all-quiet clip reports NULL
    bounds and full-length trim."""
    from bioeco_portal_etl_spark.multimodal.media import wav_trim_bounds
    from bioeco_portal_etl_spark.multimodal.wavpcm import encode_wav

    quiet = [10, -20, 50]
    loudv = [500, -900, 128]
    clip = quiet + loudv + [0, 99]
    allq = [1, -1, 7]
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(clip))), (2, bytearray(encode_wav(allq)))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in wav_trim_bounds(df, 128).collect()}
    r1 = out[1]
    assert (r1["first_loud"], r1["last_loud"]) == (3, 5)
    assert r1["n_trimmed"] == 3 + 2
    assert r1["kept_energy"] == 500 * 500 + 900 * 900 + 128 * 128
    r2 = out[2]
    assert r2["first_loud"] is None and r2["n_trimmed"] == 3
    assert r2["kept_energy"] is None


def test_synth_gray_jpeg_shared_seed_dupes(spark):
    """seed_col contract (the synth_rgb_png convention): distinct ids
    sharing a seed carry byte-identical JPEG payloads."""
    from bioeco_portal_etl_spark.multimodal.media import synth_gray_jpeg

    df = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 9)], "media_id long, seed long"
    )
    rows = synth_gray_jpeg(df, "media_id", "seed").collect()
    by_id = {r["media_id"]: bytes(r["payload"]) for r in rows}
    assert by_id[1] == by_id[2] != by_id[3]
    assert by_id[1][:2] == b"\xff\xd8"

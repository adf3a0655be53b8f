"""Operator-level tests for the round-6 third batch:
term burstiness, matryoshka prefix recall, mergeable MinHash group
similarity, JPEG blockiness, duplicate burden."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_term_burstiness_hand_counts(spark):
    """'aa' appears 3 times in doc1 + 1 in doc2 (cf 4, df 2, max 3,
    rate 2e6); 'bb' once each (rate 1e6)."""
    from bioeco_portal_etl_spark.text.burst import term_burstiness

    df = spark.createDataFrame(
        [(1, "aa aa aa bb"), (2, "aa bb")], "doc_id long, text string"
    )
    out = {
        r["term"]: (r["cf"], r["df"], r["max_tf"], r["rate_e6"])
        for r in term_burstiness(df, "doc_id", "text", top_k=10).collect()
    }
    assert out["aa"] == (4, 2, 3, 2_000_000)
    assert out["bb"] == (2, 2, 1, 1_000_000)


def test_term_burstiness_topk_tiebreak(spark):
    from bioeco_portal_etl_spark.text.burst import term_burstiness

    df = spark.createDataFrame(
        [(1, "xx yy zz")], "doc_id long, text string"
    )
    rows = term_burstiness(df, "doc_id", "text", top_k=2).collect()
    assert [r["term"] for r in rows] == ["xx", "yy"]  # cf ties -> term asc


def test_prefix_recall_identity_when_prefix_is_full(spark):
    """prefix_dims = full width -> both arms identical -> recall 1e4."""
    from bioeco_portal_etl_spark.similarity.matryoshka import (
        prefix_recall_at_k,
    )

    vecs = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    out = prefix_recall_at_k(df, q, "embedding", "vec_id", 8, k=3).collect()
    assert len(out) == 3
    assert all(r["recall_e4"] == 10_000 for r in out)


def test_prefix_recall_degrades_with_adversarial_tail(spark):
    """Vectors identical in the prefix but opposite in the tail: the
    1-dim prefix ranking cannot distinguish them, so recall < 1."""
    from bioeco_portal_etl_spark.similarity.matryoshka import (
        prefix_recall_at_k,
    )

    rows = [
        (0, [1.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 1.0]),   # true best for 0
        (2, [1.0, -1.0, -1.0]),  # prefix-identical, tail-opposite
        (3, [1.0, -1.0, -0.5]),
        (4, [0.5, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    r = prefix_recall_at_k(df, q, "embedding", "vec_id", 1, k=2).collect()[0]
    assert r["n_exact"] == 2 and r["n_hits"] < 2


def test_group_minhash_identical_groups_match(spark):
    """Two groups with the same shingle set: signatures equal in all
    permutations (est 1e6) and exact Jaccard 1e6 — the estimator is
    exact at J=1."""
    from bioeco_portal_etl_spark.sketches.minhash_merge import (
        group_minhash_similarity,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, "one two three four five"),
            ("b", 2, "one two three four five"),
            ("c", 3, "totally different words here now"),
        ],
        "grp string, doc_id long, text string",
    )
    out = {
        (r["grp_a"], r["grp_b"]): r
        for r in group_minhash_similarity(
            df, "grp", "doc_id", "text", k=3, num_perm=8
        ).collect()
    }
    ab = out[("a", "b")]
    assert ab["est_matches"] == 8 and ab["est_jaccard_e6"] == 1_000_000
    assert ab["true_jaccard_e6"] == 1_000_000
    ac = out[("a", "c")]
    assert ac["inter_size"] == 0 and ac["true_jaccard_e6"] == 0


def test_group_minhash_merge_equals_direct(spark):
    """Mergeability: the signature of a+b's union computed directly
    equals the element-wise min of a's and b's signatures."""
    import pyspark.sql.functions as F

    from bioeco_portal_etl_spark.text.dedupe import (
        minhash_signature_cols,
        shingle_hash,
        shingled,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    grams = shingled(df, "doc_id", "text", 3).select(
        "doc_id", F.explode("sh").alias("s")
    )
    h = grams.select("doc_id", shingle_hash("s").alias("h"))
    per_doc = h.groupBy("doc_id").agg(*minhash_signature_cols(F.col("h"), 4))
    merged = per_doc.agg(
        *[F.min(f"_m{p}").alias(f"_m{p}") for p in range(4)]
    ).collect()[0]
    direct = h.agg(*minhash_signature_cols(F.col("h"), 4)).collect()[0]
    assert tuple(merged) == tuple(direct)


def test_jpeg_blockiness_tile_constant(spark):
    """Tile-constant JPEG: interior difference mass is EXACTLY zero and
    boundary mass equals the formula's tile deltas."""
    from bioeco_portal_etl_spark.multimodal.media import (
        jpeg_blockiness,
        synth_gray_jpeg,
    )

    ids = spark.createDataFrame([(3,), (10,)], "doc_id long")
    out = {
        r["media_id"]: r
        for r in jpeg_blockiness(synth_gray_jpeg(ids, "doc_id")).collect()
    }
    for mid, r in out.items():
        assert r["interior_abs_sum"] == 0
        assert r["boundary_abs_sum"] > 0
        assert r["n_boundary"] + r["n_interior"] > 0


def test_duplicate_burden_hand_clusters(spark):
    """Group g: ids 1,2 share content (2 excess chars of 10+20), id 3
    unique; group h: all unique -> burden 0."""
    from bioeco_portal_etl_spark.operators.quality import duplicate_burden

    rows = [
        ("g", 1, "same", 10),
        ("g", 2, "same", 20),
        ("g", 3, "uniq", 30),
        ("h", 4, "aa", 5),
        ("h", 5, "bb", 7),
    ]
    df = spark.createDataFrame(rows, "grp string, id long, fp string, sz long")
    out = {
        r["grp"]: r for r in duplicate_burden(df, "grp", "id", "fp", "sz").collect()
    }
    g = out["g"]
    assert (g["n_docs"], g["n_dup_excess"]) == (3, 1)
    assert (g["size_total"], g["size_excess"]) == (60, 20)
    assert g["burden_e6"] == (1_000_000 * 20) // 60
    h = out["h"]
    assert h["n_dup_excess"] == 0 and h["burden_e6"] == 0

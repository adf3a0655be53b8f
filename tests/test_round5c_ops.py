"""Round-5 third-batch operators: BPE training rounds, semantic dedupe,
z-order clustering, Benford audit, perceptual hashing, outer interval join.

Strategy mirrors the catalog gate (Spark vs hand-computed expectations /
brute-force twins) plus the invariants each operator's algebra promises —
the properties a hash gate can't express (banding completeness, greedy
merge semantics, layout locality)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# text/bpe.py
# ---------------------------------------------------------------------------


def _wf(spark, rows):
    return spark.createDataFrame(rows, "w string, cnt long")


def test_bpe_greedy_merge_exact(spark):
    """The aggregate fold applies a merge greedily left-to-right,
    non-overlapping — the reference BPE semantics (a b a b -> ab ab,
    a a a -> aa a)."""
    from bioeco_portal_etl_spark.text.bpe import apply_merge, with_spaced

    wf = with_spaced(
        _wf(spark, [("abab", 1), ("aaa", 1), ("baab", 1), ("x", 1)])
    )
    merge = spark.createDataFrame(
        [("a b", "a", "b")], "mp string, ml string, mr string"
    )
    got = {
        r["w"]: r["spaced"]
        for r in apply_merge(wf, merge).select("w", "spaced").collect()
    }
    assert got == {
        "abab": "ab ab",
        "aaa": "a a a",  # pair 'a a' is a different rule — untouched
        "baab": "b a ab",
        "x": "x",
    }


def test_bpe_pair_counts_single_char_words(spark):
    """Single-symbol words contribute no pairs (the sequence(1,0)
    descending-range trap is guarded)."""
    from bioeco_portal_etl_spark.text.bpe import pair_counts, with_spaced

    wf = with_spaced(_wf(spark, [("x", 5), ("ab", 2)]))
    rows = {r["pair"]: r["cnt"] for r in pair_counts(wf).collect()}
    assert rows == {"a b": 2}


def test_bpe_rounds_weighted_counts(spark):
    """Pair counts are weighted by word frequency and the round-1 winner
    is fused before round 2 (the 'ab c' pair can only exist after the
    'a b' merge)."""
    from bioeco_portal_etl_spark.text.bpe import bpe_rounds

    docs = spark.createDataFrame(
        [("abc abc abc",), ("abd abd",), ("zq",)], "text string"
    )
    out = bpe_rounds(docs, "text", n_rounds=2, top_k=10).collect()
    r1 = {r["pair"]: r["cnt"] for r in out if r["round"] == 1}
    assert r1["a b"] == 5  # 3×abc + 2×abd
    assert r1["b c"] == 3 and r1["b d"] == 2 and r1["z q"] == 1
    merged1 = {r["merged_pair"] for r in out if r["round"] == 1}
    assert merged1 == {"a b"}
    r2 = {r["pair"]: r["cnt"] for r in out if r["round"] == 2}
    assert r2 == {"ab c": 3, "ab d": 2, "z q": 1}


# ---------------------------------------------------------------------------
# similarity/semantic_dedupe.py
# ---------------------------------------------------------------------------


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_semantic_dedupe_keeps_one_per_dup_group(spark):
    """Two near-identical vectors in one cluster: the farther-from-
    centroid one survives (SemDeDup's diversity preference), the other is
    dropped; the isolated vector is untouched."""
    from bioeco_portal_etl_spark.similarity.semantic_dedupe import (
        semantic_dedupe,
    )

    # centroid 0 along +x, centroid 1 along +y; vecs 2,3 are near-dups of
    # each other near +x (3 slightly closer to the centroid), vec 4 alone
    # near +y.
    vecs = [
        [1, 0, 0, 0],
        [0, 1, 0, 0],
        [0.9, 0.1, 0.05, 0],
        [0.95, 0.05, 0.0, 0],
        [0.1, 0.9, 0, 0],
    ]
    e = _emb(spark, vecs)
    cents = e.filter(F.col("vec_id") < 2)
    out = {
        r["vec_id"]: r
        for r in semantic_dedupe(
            e, cents, "embedding", "vec_id", threshold_e4=9900
        ).collect()
    }
    assert out[2]["keep"] == 1 and out[3]["keep"] == 0  # 2 is farther out
    assert out[3]["n_better"] == 1
    assert out[4]["keep"] == 1 and out[4]["cluster"] == 1


def test_semantic_dedupe_bruteforce_parity(spark):
    """Exact twin on the real embeddings table: a pure-Python replica
    (same left-fold dot products, same floor-e4 quantization, same rank
    rule) must reproduce every (cluster, cent_sim_e4, n_better, keep)
    verdict bit-for-bit."""
    import math

    from bioeco_portal_etl_spark.catalog_dedup import TD11_THRESHOLD_E4
    from bioeco_portal_etl_spark.similarity.semantic_dedupe import (
        semantic_dedupe,
    )
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    e = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = e.filter(F.col("vec_id") < 8)
    got = {
        r["vec_id"]: (r["cluster"], r["cent_sim_e4"], r["n_better"], r["keep"])
        for r in semantic_dedupe(
            e, cents, "embedding", "vec_id", TD11_THRESHOLD_E4
        ).collect()
    }

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.select("vec_id", "embedding").collect()
    }

    def dot(a, b):  # left fold, matching F.aggregate
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    nrm = {i: math.sqrt(dot(v, v)) for i, v in vecs.items()}

    def sim_e4(a, b):
        return math.floor(dot(vecs[a], vecs[b]) / (nrm[a] * nrm[b]) * 10000)

    asg = {}
    for i in vecs:
        best = max(range(8), key=lambda c: (sim_e4(i, c), -c))
        asg[i] = (best, sim_e4(i, best))
    exp = {}
    for v, (cl, cs) in asg.items():
        n_better = sum(
            1
            for u, (ucl, ucs) in asg.items()
            if u != v
            and ucl == cl
            and ((ucs < cs) or (ucs == cs and u < v))
            and sim_e4(u, v) >= TD11_THRESHOLD_E4
        )
        exp[v] = (cl, cs, n_better, 1 if n_better == 0 else 0)
    assert sum(1 for v in exp.values() if v[3] == 0) > 0  # threshold fires
    assert got == exp


# ---------------------------------------------------------------------------
# operators/zorder.py
# ---------------------------------------------------------------------------


def test_z_interleave_roundtrip():
    """Bit interleave is invertible: even bits recover b, odd bits a."""
    from bioeco_portal_etl_spark.operators.zorder import z_expr_sql

    import duckdb

    con = duckdb.connect()
    z = z_expr_sql("a", "b", bits=8, dialect="duck")
    rows = con.execute(
        f"""
        WITH g AS (SELECT unnest(range(0, 256, 37)) AS a,
                          unnest(range(0, 256, 53)) AS b),
        z AS (SELECT a, b, {z} AS zv FROM g)
        SELECT count(*) FROM z
        WHERE a <> (SELECT sum(((zv >> (2*i+1)) & 1) << i)
                    FROM range(0, 8) t(i))
           OR b <> (SELECT sum(((zv >> (2*i)) & 1) << i)
                    FROM range(0, 8) t(i))
        """
    ).fetchone()
    assert rows[0] == 0


def test_zorder_layout_locality(spark):
    """After zorder_layout, every output partition's footprint is bounded
    in BOTH dims — vs a 1-D sort where the second dim spans ~everything.
    This is the file-pruning property the operator exists for."""
    from bioeco_portal_etl_spark.operators.zorder import (
        quantize,
        zorder_layout,
    )

    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("a"), (F.col("id") / n).cast("long").alias("b")
    )
    laid = zorder_layout(
        grid,
        quantize("a", 1, n - 1),
        quantize("b", 1, n - 1),
        bits=6,
        num_files=16,
    )
    spans = (
        laid.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("a") - F.min("a")).alias("a_span"),
            (F.max("b") - F.min("b")).alias("b_span"),
        )
        .collect()
    )
    # 4096 cells over 16 partitions = 256 cells each; a z-curve confines
    # them to a few 16x16 tiles -> spans far below the full 63.
    assert all(r["a_span"] <= 32 and r["b_span"] <= 32 for r in spans)


def test_quantize_caps_outliers(spark):
    from bioeco_portal_etl_spark.operators.zorder import quantize

    df = spark.createDataFrame([(0,), (100,), (10_000,)], "v long")
    got = [
        r[0] for r in df.select(quantize("v", 10, 255).alias("q")).collect()
    ]
    assert got == [0, 10, 255]


# ---------------------------------------------------------------------------
# operators/benford.py
# ---------------------------------------------------------------------------


def test_benford_expected_shares_sum_to_one():
    from bioeco_portal_etl_spark.operators.benford import BENFORD_E4

    assert set(BENFORD_E4) == set(range(1, 10))
    # floored shares sum to just under 1e4
    assert 9990 <= sum(BENFORD_E4.values()) <= 10000
    assert BENFORD_E4[1] == 3010 and BENFORD_E4[9] == 457


def test_benford_detects_uniform_vs_benford(spark):
    """A Benford-distributed sample scores near-zero deviations; a
    uniform-digit sample deviates hard on digit 1."""
    from bioeco_portal_etl_spark.operators.benford import benford_audit

    # exact Benford-by-construction: counts proportional to expected e4
    rows = [
        (float(d * 10 + 1),)
        for d in range(1, 10)
        for _ in range(0, __import__("math").floor(
            __import__("math").log10(1 + 1 / d) * 1000
        ))
    ]
    bf = benford_audit(spark.createDataFrame(rows, "v double"), "v")
    devs = {r["digit"]: abs(r["dev_e4"]) for r in bf.collect()}
    assert max(devs.values()) <= 40  # quantization of the 3008-row sample
    uni = benford_audit(
        spark.createDataFrame(
            [(float(d),) for d in range(1, 10) for _ in range(100)],
            "v double",
        ),
        "v",
    )
    one = {r["digit"]: r for r in uni.collect()}[1]
    assert one["obs_e4"] == 1111 and one["dev_e4"] < -1800


def test_benford_excludes_sub_one_values(spark):
    from bioeco_portal_etl_spark.operators.benford import benford_audit

    df = spark.createDataFrame(
        [(0.5,), (0.0,), (12.0,), (190.0,)], "v double"
    )
    out = benford_audit(df, "v").collect()
    assert sum(r["n"] for r in out) == 2
    assert {r["digit"] for r in out} == {1}


# ---------------------------------------------------------------------------
# multimodal/phash.py
# ---------------------------------------------------------------------------


def test_ahash_known_image(spark):
    """A half-black/half-white image through the REAL PNG codec hashes to
    exactly the 8 bright-side bits."""
    from bioeco_portal_etl_spark.multimodal.phash import ahash
    from bioeco_portal_etl_spark.multimodal.png import encode_png

    w, h = 8, 8
    rows = [
        [(255 if x >= w // 2 else 0) for x in range(w) for _ in range(3)]
        for _ in range(h)
    ]
    payload = encode_png(rows, channels=3)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    got = ahash(df).collect()[0]
    assert (got["width"], got["height"]) == (w, h)
    # right half bright: bits bx>=2 for every by -> 0b1100 per nibble row
    expected = sum(
        1 << (by * 4 + bx) for by in range(4) for bx in range(2, 4)
    )
    assert got["phash"] == expected


def test_phash_near_pairs_matches_bruteforce(spark):
    """Banding is COMPLETE for Hamming <= 3: candidates from 4 nibble
    joins + verify equal the all-pairs answer on 60 real synthetic
    images."""
    from bioeco_portal_etl_spark.multimodal.media import synth_rgb_png
    from bioeco_portal_etl_spark.multimodal.phash import (
        ahash,
        phash_near_pairs,
    )

    ids = spark.range(60).select(F.col("id").alias("doc_id"))
    hashed = ahash(synth_rgb_png(ids, "doc_id")).cache()
    banded = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in phash_near_pairs(hashed, max_hamming=3).collect()
    }
    hs = {r["media_id"]: r["phash"] for r in hashed.collect()}
    brute = {
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    hashed.unpersist()
    assert banded == brute and len(brute) > 0


def test_phash_near_pairs_rejects_wide_radius(spark):
    from bioeco_portal_etl_spark.multimodal.phash import phash_near_pairs

    df = spark.createDataFrame([(1, 0)], "media_id long, phash long")
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        phash_near_pairs(df, max_hamming=4)


# ---------------------------------------------------------------------------
# streaming/joins.py interval_join_outer (batch face)
# ---------------------------------------------------------------------------


def test_interval_join_outer_batch_face(spark):
    """Batch semantics: matched rows join, unmatched left rows survive
    null-padded, and the interval bounds are inclusive."""
    from bioeco_portal_etl_spark.streaming.joins import interval_join_outer

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "L1"), (2, "2024-01-01 12:00:00", "L2")],
        "k long, lts string, l string",
    ).select("k", F.col("lts").cast("timestamp").alias("lts"), "l")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:05", "R1"), (2, "2024-01-02 00:00:00", "R2")],
        "k long, rts string, r string",
    ).select("k", F.col("rts").cast("timestamp").alias("rts"), "r")
    out = {
        r["l"]: r["r"]
        for r in interval_join_outer(
            left, right, "k", "lts", "rts", -5.0, 5.0
        ).collect()
    }
    assert out == {"L1": "R1", "L2": None}


def test_interval_join_outer_rejects_collisions(spark):
    from bioeco_portal_etl_spark.streaming.joins import interval_join_outer

    df = spark.createDataFrame([(1, 1)], "k long, same long")
    with pytest.raises(ValueError, match="collision"):
        interval_join_outer(df, df, "k", "same", "same", 0.0, 1.0)

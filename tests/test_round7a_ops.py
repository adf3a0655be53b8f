"""Operator-level tests for the round-7 first batch:
semantics on small/constructed inputs, independent of the DuckDB oracle
(tests/test_catalog_oracle.py covers the oracle equivalence)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.catalog import queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return queries()


def test_mm23_stats_match_pure_python_conversion(spark, q):
    """Channel stats through the real color codec == stats of the pinned
    double conversion computed in plain Python (no codec)."""
    from bioeco_portal_etl_spark.multimodal.jpeg import (
        _rgb_to_ycbcr,
        _ycbcr_to_rgb,
    )
    from bioeco_portal_etl_spark.multimodal.media import (
        JPEG_H_BASE,
        JPEG_H_MOD,
        JPEG_W_BASE,
        JPEG_W_MOD,
    )

    rows = {
        (r.media_id, r.channel): r
        for r in q["mm23_jpeg_color_roundtrip"](spark, SF).collect()
    }
    checked = 0
    for doc_id in (0, 1, 5):
        w = JPEG_W_BASE + doc_id % JPEG_W_MOD
        h = JPEG_H_BASE + doc_id % JPEG_H_MOD
        per_chan = {c: [] for c in range(3)}
        for y in range(h):
            for x in range(w):
                rgb = tuple(
                    (doc_id * 31 + (x // 8) * 7 + (y // 8) * 11 + c * 17) % 256
                    for c in range(3)
                )
                back = _ycbcr_to_rgb(*_rgb_to_ycbcr(*rgb))
                for c in range(3):
                    per_chan[c].append(back[c])
        for c in range(3):
            r = rows[(doc_id, c)]
            vals = per_chan[c]
            assert r.n_px == len(vals)
            assert r.mean_v == sum(vals) // len(vals)
            assert r.min_v == min(vals)
            assert r.max_v == max(vals)
            checked += 1
    assert checked == 9


def test_td16_identical_and_disjoint_docs(spark, q):
    """Pinned endpoints of the estimator: identical shingle sets match on
    every permutation (err 0 at every k); disjoint sets have true
    Jaccard 0, so the reported error IS the estimator's false-positive
    mass."""
    from bioeco_portal_etl_spark.text.dedupe import (
        minhash_signature_cols,
        shingle_hash,
        shingled,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa lambda"),
        ],
        "doc_id long, text string",
    )
    sh = shingled(docs, "doc_id", "text", 3)
    grams = sh.select("doc_id", F.explode("sh").alias("s"))
    sig = grams.select("doc_id", shingle_hash("s").alias("h")).groupBy(
        "doc_id"
    ).agg(*minhash_signature_cols(F.col("h"), 8))
    sigs = {r.doc_id: [r[f"_m{p}"] for p in range(8)] for r in sig.collect()}
    assert sigs[1] == sigs[2]  # identical docs -> identical signatures
    assert sigs[1] != sigs[3]


def test_td16_catalog_shape_and_error_monotonicity(spark, q):
    rows = q["td16_minhash_error_sweep"](spark, SF).collect()
    ks = [r.num_perm for r in rows]
    assert ks == [2, 4, 8]
    n_pairs = {r.n_pairs for r in rows}
    assert len(n_pairs) == 1 and n_pairs.pop() > 0  # same pair set per k
    for r in rows:
        assert 0 <= r.mean_abs_err_e6 <= 1_000_000
        assert r.mean_abs_err_e6 <= r.max_abs_err_e6
    # error law on the WORST pair: a spurious match contributes 1e6/k to
    # a single estimate, so the max error shrinks as the signature grows
    # (mean error is NOT monotone on a tiny corpus — one collision among
    # 780 mostly-disjoint pairs dominates it; the sweep exists to expose
    # exactly that granularity)
    by_k = {r.num_perm: r.max_abs_err_e6 for r in rows}
    assert by_k[8] <= by_k[4] <= by_k[2]


def test_tx41_identical_halves_give_perfect_rho(spark):
    """If both halves carry byte-identical text, every shared term ranks
    identically -> d2 = 0 and Spearman = exactly 1e6."""
    from bioeco_portal_etl_spark.catalog_text import rank_stability_frame

    text = "alpha alpha alpha beta beta gamma delta delta delta delta"
    docs = spark.createDataFrame(
        [(0, text), (1, text), (2, text), (3, text)],
        "doc_id long, text string",
    )
    row = rank_stability_frame(docs).collect()[0]
    assert row.d2_sum == 0
    assert row.spearman_e6 == 1_000_000
    assert row.n_common_terms == 4


def test_tx41_swapped_ranks_match_hand_formula(spark):
    """Even half ranks alpha>beta>gamma; odd half swaps alpha/beta.
    Shared top terms rank (1,2,3) vs (2,1,3): d2 = 1+1+0 = 2 and
    rho = 1 - 6*2/(3*8) = 0.5 exactly."""
    from bioeco_portal_etl_spark.catalog_text import rank_stability_frame

    even = "alpha alpha alpha beta beta gamma"
    odd = "beta beta beta alpha alpha gamma"
    docs = spark.createDataFrame(
        [(0, even), (1, odd)], "doc_id long, text string"
    )
    row = rank_stability_frame(docs).collect()[0]
    assert row.n_common_terms == 3
    assert row.d2_sum == 2
    assert row.spearman_e6 == 500_000


def test_tx41_catalog_rho_in_range(spark, q):
    row = q["tx41_rank_stability"](spark, SF).collect()[0]
    assert 0 < row.n_common_terms <= 200
    assert -1_000_000 <= row.spearman_e6 <= 1_000_000
    # the synthetic corpus is homogeneous, so the halves must correlate
    # positively — but at sf0.001 (60 docs) the top-200 tail is tie-heavy
    # and alphabetical tie-breaks disagree across halves, so the bar is
    # "clearly positive", not "near 1"
    assert row.spearman_e6 > 100_000


def test_ts25_matches_numpy_covariance(spark, q):
    """cov_e4 equals the quantized covariance recomputed with numpy on
    the same parquet (same e5 quantization, same floor)."""
    import numpy as np
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{SF}/embeddings.parquet").to_pydict()
    vecs = [v for i, v in zip(emb["vec_id"], emb["embedding"]) if i < 100000]
    m = np.floor(np.array(vecs, dtype="float64") * 100000.0).astype("int64")
    rows = q["ts25_dim_covariance"](spark, SF).collect()
    assert [r.dim for r in rows] == list(range(63))
    n = len(vecs)
    for r in rows[:8] + rows[-3:]:
        x = m[:, r.dim]
        y = m[:, r.dim + 1]
        num = n * int(np.dot(x, y)) - int(x.sum()) * int(y.sum())
        exp = math.floor(num / n / n / 1e6)
        assert r.n_vecs == n
        assert r.cov_e4 == exp, (r.dim, r.cov_e4, exp)


def test_x49_bootstrap_invariants(spark, q):
    row = q["x49_poisson_bootstrap"](spark, SF).collect()[0]
    assert row.n_resamples == 32
    assert row.boot_lo_e4 <= row.boot_hi_e4
    # the CI brackets the point estimate for any non-degenerate sample
    assert row.boot_lo_e4 <= row.point_mean_e4 <= row.boot_hi_e4
    assert row.point_mean_e4 > 0


def test_x49_poisson_weights_mean_one(spark):
    """The deterministic inverse-CDF draw must produce weights with mean
    ~1 (the Poisson(1) approximation's defining property) — a threshold
    typo would bias every resample the same way."""
    from bioeco_portal_etl_spark.catalog_analytics import _B, _pois_case

    rep = (
        spark.range(2000)
        .select(
            F.col("id").alias("o_orderkey"),
            F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        )
        .withColumn(
            "u",
            (
                (
                    F.col("o_orderkey") * F.lit(2654435761)
                    + F.col("b") * F.lit(40503)
                )
                % F.lit(1000003)
            ).cast("double")
            / F.lit(1000003.0),
        )
        .withColumn("w", F.expr(_pois_case("u")))
    )
    stats = rep.agg(
        F.avg("w").alias("mean_w"), F.max("w").alias("max_w")
    ).collect()[0]
    assert 0.97 < stats.mean_w < 1.03
    assert stats.max_w <= 7

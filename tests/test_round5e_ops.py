"""Operator-level tests for the round-5 fifth batch: certified heavy
hitters (vs the full groupBy + a forced certificate failure), Bloom join
pruning (no false negatives; join identity), lateness classification on
a hand fixture, WAV downsampling roundtrip, pivot exactness, and BPE
encode invariants."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# certified heavy hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_match_full_groupby(spark):
    from bioeco_portal_etl_spark.operators.heavyhitters import (
        certified_heavy_hitters,
    )

    rows = [(f"k{i % 7}",) for i in range(200)] + [("rare",)] * 3
    df = spark.createDataFrame(rows, "tok string")
    got = [
        (r["key"], r["cnt"], r["rank"])
        for r in certified_heavy_hitters(df, "tok", k=5)
        .orderBy("rank")
        .collect()
    ]
    want_counts = (
        df.groupBy("tok").count().orderBy(F.desc("count"), "tok").collect()
    )
    want = [(r["tok"], r["count"], i + 1) for i, r in enumerate(want_counts[:5])]
    assert got == want


def test_heavy_hitters_certificate_failure_raises(spark):
    from bioeco_portal_etl_spark.operators.heavyhitters import (
        certified_heavy_hitters,
    )

    # one partition, 10 distinct singleton keys, M=1: the partition emits
    # one candidate and residual 1; the k-th recounted count (1) cannot
    # beat the bound, so the operator must refuse to certify
    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(10)], "tok string"
    ).repartition(1)
    with pytest.raises(RuntimeError, match="certificate failed"):
        certified_heavy_hitters(df, "tok", k=2, per_partition_m=1)


def test_heavy_hitters_ignore_nulls(spark):
    from bioeco_portal_etl_spark.operators.heavyhitters import (
        certified_heavy_hitters,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "tok string"
    )
    got = {
        r["key"]: r["cnt"]
        for r in certified_heavy_hitters(df, "tok", k=5).collect()
    }
    assert got == {"a": 2, "b": 1}


# ---------------------------------------------------------------------------
# Bloom join pruning
# ---------------------------------------------------------------------------


def test_bloom_probe_has_no_false_negatives(spark):
    from bioeco_portal_etl_spark.operators.bloomjoin import (
        bloom_words,
        with_bloom_probe,
    )

    dim = spark.createDataFrame([(i,) for i in range(0, 50, 5)], "k long")
    words = bloom_words(dim, "k", m_bits=1024, k=3)
    probed = with_bloom_probe(dim, "k", words, 1024, 3)
    assert probed.filter(~F.col("__bloom_hit")).count() == 0


def test_bloom_filtered_join_equals_plain_join(spark):
    from bioeco_portal_etl_spark.operators.bloomjoin import (
        bloom_filtered_join,
    )

    fact = spark.createDataFrame(
        [(i % 37, i) for i in range(500)], "fk long, v long"
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 37, 3)], "dk long, name string"
    )
    got = sorted(
        (r["fk"], r["v"], r["name"])
        for r in bloom_filtered_join(fact, dim, "fk", "dk", m_bits=512).collect()
    )
    want = sorted(
        (r["fk"], r["v"], r["name"])
        for r in fact.join(dim, fact["fk"] == dim["dk"]).collect()
    )
    assert got == want


def test_bloom_prefilter_actually_prunes(spark):
    from bioeco_portal_etl_spark.operators.bloomjoin import (
        bloom_words,
        with_bloom_probe,
    )

    # 1000 fact keys, 5 dim keys, generous bitset: the probe must reject
    # the overwhelming majority of non-joining keys (FP rate ~1%)
    fact = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    dim = spark.createDataFrame([(i,) for i in range(5)], "k long")
    words = bloom_words(dim, "k", m_bits=4096, k=3)
    kept = (
        with_bloom_probe(fact, "k", words, 4096, 3)
        .filter(F.col("__bloom_hit"))
        .count()
    )
    assert 5 <= kept <= 60  # all true keys + a small FP tail


# ---------------------------------------------------------------------------
# lateness audit
# ---------------------------------------------------------------------------


def test_lateness_classification_fixture(spark):
    from bioeco_portal_etl_spark.operators.lateness import lateness_audit

    rows = [
        # (user, arrival, ts_seconds) — one user, arrival = insertion order
        (1, 1, 1000),  # first arrival -> ontime
        (1, 2, 2000),  # advances the mark -> ontime
        (1, 3, 1990),  # 10s behind mark 2000, delay 60 -> late
        (1, 4, 1000),  # 1000s behind -> dropped
        (1, 5, 2000),  # equal to mark -> ontime
    ]
    df = spark.createDataFrame(rows, "u long, a long, sec long").select(
        "u", "a", F.timestamp_seconds("sec").alias("ts")
    )
    got = {
        r["status"]: r["n"]
        for r in lateness_audit(df, "u", "a", "ts", 60, group_col="u").collect()
    }
    assert got == {"ontime": 3, "late": 1, "dropped": 1}


def test_lateness_marks_are_per_key(spark):
    from bioeco_portal_etl_spark.operators.lateness import lateness_audit

    # user 2's early event must NOT be judged against user 1's high mark
    rows = [(1, 1, 5000), (2, 2, 100), (2, 3, 90)]
    df = spark.createDataFrame(rows, "u long, a long, sec long").select(
        "u", "a", F.timestamp_seconds("sec").alias("ts")
    )
    got = {
        (r["grp"], r["status"]): r["n"]
        for r in lateness_audit(df, "u", "a", "ts", 60).collect()
    }
    assert got == {(1, "ontime"): 1, (2, "ontime"): 1, (2, "late"): 1}


# ---------------------------------------------------------------------------
# WAV downsample
# ---------------------------------------------------------------------------


def test_wav_downsample_block_means_roundtrip(spark):
    from bioeco_portal_etl_spark.multimodal.media import wav_downsample
    from bioeco_portal_etl_spark.multimodal.wavpcm import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 10, 20, 30, -5, -6, -7, -9, 100]  # 9 samples, factor 4
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(samples)))], "media_id long, payload binary"
    )
    out = wav_downsample(df, factor=4).collect()[0]
    rate, got = decode_wav(bytes(out["payload"]))
    # two full blocks; the trailing partial block (100) is dropped;
    # negative sum floors: (-5-6-7-9)//4 = -27//4 = -7
    assert got == [15, -7]
    assert rate == 16000 // 4


# ---------------------------------------------------------------------------
# pivot
# ---------------------------------------------------------------------------


def test_pivot_fills_absent_cells_with_zero(spark):
    from bioeco_portal_etl_spark.catalog_rel import (
        _PIV_ALIASES,
        _PRIORITIES,
    )

    o = spark.createDataFrame(
        [("1996-01-02", "1-URGENT"), ("1996-05-02", "5-LOW"),
         ("1997-01-02", "5-LOW")],
        "o_orderdate string, o_orderpriority string",
    ).select(
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    piv = (
        o.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .select(
            "o_year",
            *[
                F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
                for v, a in zip(_PRIORITIES, _PIV_ALIASES)
            ],
        )
        .orderBy("o_year")
    )
    rows = piv.collect()
    assert [tuple(r) for r in rows] == [
        (1996, 1, 0, 0, 0, 1),
        (1997, 0, 0, 0, 0, 1),
    ]


# ---------------------------------------------------------------------------
# BPE encode invariants
# ---------------------------------------------------------------------------


def test_bpe_encode_counts_bounded_and_compressed(spark):
    from bioeco_portal_etl_spark.catalog_text import tx24_bpe_encode
    from bioeco_portal_etl_spark.sources.files import read_parquet_table
    from tests.conftest import SF_SMOKE

    out = {r["doc_id"]: r for r in tx24_bpe_encode(spark, SF_SMOKE).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in read_parquet_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 200)
        .collect()
    }
    import re

    assert out
    for did, r in out.items():
        words = [w for w in re.split("[^a-z]+", docs[did].lower()) if w]
        chars = sum(len(w) for w in words)
        # subtokens can never exceed characters (round-0 upper bound) and
        # never undershoot words (every word is >= 1 subtoken); 2 merges
        # must compress at least SOME doc below the char count
        assert r["n_words"] == len(words)
        assert r["n_words"] <= r["n_subtokens"] <= chars
    assert any(
        r["n_subtokens"]
        < sum(
            len(w)
            for w in re.split("[^a-z]+", docs[d].lower())
            if w
        )
        for d, r in out.items()
    )

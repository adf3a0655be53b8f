"""Partition-invariance property tests (SURVEY.md §5.2).

The #1 correctness trap porting the reference (§4.1): its semantics lean on
frame order. Every order-sensitive operator here declares an explicit sort
key, so results must be IDENTICAL regardless of how the input is partitioned
or shuffled. We run each operator on (a) the natural parquet layout and
(b) an adversarially repartitioned/reordered copy, and compare signatures.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.operators.dedupe import dedupe_keep_first, make_unique
from bioeco_portal_etl_spark.sources.files import read_parquet_table
from bioeco_portal_etl_spark.text.dedupe import minhash_lsh_pairs, simhash
from tests.conftest import SF_SMOKE


def _sig(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _scrambled(df):
    """Adversarial layout: hash-repartitioned into many small partitions and
    locally reverse-sorted, destroying any incidental input order."""
    return df.repartition(13, F.col(df.columns[0])).sortWithinPartitions(
        F.col(df.columns[0]).desc()
    )


@pytest.fixture(scope="module")
def orders(spark):
    return read_parquet_table(spark, SF_SMOKE, "orders")


def test_dedupe_keep_first_partition_invariant(spark, orders):
    order = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    a = dedupe_keep_first(orders, ["o_custkey"], order)
    b = dedupe_keep_first(_scrambled(orders), ["o_custkey"], order)
    assert _sig(a) == _sig(b)


def test_make_unique_partition_invariant(spark, orders):
    keyed = orders.withColumn("key", F.col("o_orderpriority"))
    a = make_unique(keyed, "key", [F.col("o_orderkey").asc()], out_col="uk")
    b = make_unique(_scrambled(keyed), "key", [F.col("o_orderkey").asc()], out_col="uk")
    assert _sig(a.select("o_orderkey", "uk")) == _sig(b.select("o_orderkey", "uk"))


def test_minhash_pairs_partition_invariant(spark):
    docs = read_parquet_table(spark, SF_SMOKE, "documents")
    a = minhash_lsh_pairs(docs, "doc_id", "text")
    b = minhash_lsh_pairs(_scrambled(docs), "doc_id", "text")
    assert _sig(a) == _sig(b)


def test_simhash_partition_invariant(spark):
    docs = read_parquet_table(spark, SF_SMOKE, "documents")
    a = simhash(docs, "doc_id", "text")
    b = simhash(_scrambled(docs), "doc_id", "text")
    assert _sig(a) == _sig(b)


def test_make_unique_pathological_chains(spark):
    """[x, x, x, x_1]: naive single-bump emits duplicate 'unique' names;
    R skips suffixes taken by input names: make.unique gives x, x_2, x_3,
    x_1 (pre-existing x_1 keeps its name; bumps skip it)."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "x_1"), (5, "y")],
        "id int, key string",
    )
    out = make_unique(df, "key", [F.col("id").asc()], out_col="uk")
    vals = [r.uk for r in out.orderBy("id").collect()]
    assert vals == ["x", "x_2", "x_3", "x_1", "y"], vals


def test_make_unique_matches_r_examples(spark):
    """Exact R make.unique(sep='_') outputs for the documented edges."""
    cases = [
        (["x", "x", "x_1"], ["x", "x_2", "x_1"]),
        (["a", "a", "a"], ["a", "a_1", "a_2"]),
        (["x", "x", "x_1", "x_2"], ["x", "x_3", "x_1", "x_2"]),
        (["x_1", "x", "x"], ["x_1", "x", "x_2"]),
        (["a", "a_1", "a_1", "a"], ["a", "a_1", "a_1_1", "a_2"]),
    ]
    for keys, expect in cases:
        df = spark.createDataFrame(
            [(i, k) for i, k in enumerate(keys)], "id int, key string"
        )
        out = make_unique(df, "key", [F.col("id").asc()], out_col="uk")
        vals = [r.uk for r in out.orderBy("id").collect()]
        assert vals == expect, (keys, vals, expect)


def test_make_unique_base_and_suffix_holder(spark):
    """"a_1" is both a base (its repeat becomes a_1_1) and a suffix holder
    that blocks a_1 for the repeats of "a"; "x_1_1" blocks nothing under
    "x" (its base is "x_1"); nulls pass through."""
    keys = ["a", "a", "a_1", "a_1", "a_2", "x", "x_1_1", None, None]
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "id int, key string"
    )
    out = make_unique(df, "key", [F.col("id").asc()], out_col="uk")
    vals = [r.uk for r in out.orderBy("id").collect()]
    assert vals == ["a", "a_3", "a_1", "a_1_1", "a_2", "x", "x_1_1", None, None], vals


def test_segment_dedupe_partition_invariant(spark):
    from bioeco_portal_etl_spark.text.dedupe import segment_dedupe

    docs = read_parquet_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = segment_dedupe(docs, "doc_id", "text", sep=" the ")
    b = segment_dedupe(_scrambled(docs), "doc_id", "text", sep=" the ")
    assert _sig(a) == _sig(b)


def test_chunk_windows_partition_invariant(spark):
    from bioeco_portal_etl_spark.text.chunking import chunk_windows

    docs = read_parquet_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = chunk_windows(docs, "doc_id", "text", chunk_size=16, stride=12)
    b = chunk_windows(_scrambled(docs), "doc_id", "text", chunk_size=16, stride=12)
    assert _sig(a) == _sig(b)

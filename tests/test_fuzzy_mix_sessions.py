"""Unit/property/plan tests for the round-2 operator additions:
blocked fuzzy matching (operators/fuzzy.py), temperature-weighted corpus
mixing (operators/mixing.py), and batch gap-sessionization
(operators/sessions.py). Their DuckDB oracles run in
tests/test_catalog_oracle.py (x7/x8/w4); here we pin hand-checked
semantics, partition invariance, and the 100 TB plan shapes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.operators.fuzzy import blocked_fuzzy_best_match
from bioeco_portal_etl_spark.operators.mixing import mix_thresholds, temperature_mix
from bioeco_portal_etl_spark.operators.sampling import BUCKETS
from bioeco_portal_etl_spark.operators.sessions import session_stats, sessionize
from bioeco_portal_etl_spark.sources.files import read_parquet_table
from tests.conftest import SF_SMOKE


def _sig(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _scrambled(df):
    return df.repartition(13, F.col(df.columns[0])).sortWithinPartitions(
        F.col(df.columns[0]).desc()
    )


# ---------------------------------------------------------------------------
# fuzzy
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beacon"),
            (2, "alpha beacn"),  # 1 edit from id 1
            (3, "alpha beacxy"),  # 2 edits from both id 1 and id 2
            (4, "alpha completely different"),  # same block, length-banded out
            (5, "beta solo"),  # block of one -> no candidates
            (6, "gamma x"),
            (7, "gamma y"),  # 1 edit from id 6
        ],
        "id long, name string",
    )


def test_fuzzy_best_match_hand_checked(names):
    out = {
        r["id"]: (r["best_match_id"], r["best_distance"])
        for r in blocked_fuzzy_best_match(names, "id", "name").collect()
    }
    assert out[1] == (2, 1)
    assert out[2] == (1, 1)
    assert out[3] == (1, 2)  # d=2 from both 1 and 2 -> smallest id wins
    assert 4 not in out and 5 not in out
    assert out[6] == (7, 1) and out[7] == (6, 1)


def test_fuzzy_tiebreak_smallest_id(spark):
    df = spark.createDataFrame(
        [(10, "zz aaab"), (11, "zz aaac"), (12, "zz aaad")],
        "id long, name string",
    )
    out = {
        r["id"]: r["best_match_id"]
        for r in blocked_fuzzy_best_match(df, "id", "name").collect()
    }
    # 11 is distance 1 from both 10 and 12 -> smallest id wins
    assert out[11] == 10


def test_fuzzy_partition_invariant(spark):
    p = read_parquet_table(spark, SF_SMOKE, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    a = blocked_fuzzy_best_match(p, "id", "name", max_distance=3)
    b = blocked_fuzzy_best_match(_scrambled(p), "id", "name", max_distance=3)
    assert _sig(a) == _sig(b)


def test_fuzzy_argmin_combines_map_side(spark):
    p = read_parquet_table(spark, SF_SMOKE, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    plan = (
        blocked_fuzzy_best_match(p, "id", "name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-id argmin pre-combines inside the block-join partitions
    assert "partial_min" in plan


# ---------------------------------------------------------------------------
# mixing
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")


def test_mix_thresholds_bounds_and_temperature(spark):
    counts = spark.createDataFrame(
        [("big", 9000), ("mid", 900), ("rare", 90)], "lang string, n long"
    )
    thr = {
        r["lang"]: r["thr"]
        for r in mix_thresholds(counts, "lang", alpha=0.5, budget_frac=0.5).collect()
    }
    assert all(0 <= t <= BUCKETS for t in thr.values())
    # alpha < 1 upweights rare strata: acceptance rate increases as n shrinks
    assert thr["rare"] >= thr["mid"] >= thr["big"]
    # the rare stratum is kept whole (acceptance capped at 1)
    assert thr["rare"] == BUCKETS


def test_mix_alpha_one_is_proportional(spark):
    # alpha=1 -> p_s = n_s/N -> threshold = budget_frac everywhere
    counts = spark.createDataFrame(
        [("a", 5000), ("b", 1000), ("c", 250)], "lang string, n long"
    )
    thr = {
        r["lang"]: r["thr"]
        for r in mix_thresholds(counts, "lang", alpha=1.0, budget_frac=0.4).collect()
    }
    assert set(thr.values()) == {int(0.4 * BUCKETS)}


def test_mix_partition_invariant(docs):
    a = temperature_mix(docs, "doc_id", "lang")
    b = temperature_mix(_scrambled(docs), "doc_id", "lang")
    assert _sig(a.select("doc_id", "lang")) == _sig(b.select("doc_id", "lang"))


def test_mix_is_subset_and_deterministic(docs):
    kept = temperature_mix(docs, "doc_id", "lang", budget_frac=0.5)
    assert kept.count() < docs.count()
    assert kept.join(docs, ["doc_id", "lang"], "left_anti").count() == 0
    assert _sig(kept) == _sig(temperature_mix(docs, "doc_id", "lang", budget_frac=0.5))


def test_mix_corpus_never_shuffles(docs):
    """The only hash exchange is the |strata|-row counts aggregate; the
    corpus flows scan -> broadcast join -> filter."""
    plan = (
        temperature_mix(docs, "doc_id", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def events(spark):
    return read_parquet_table(spark, SF_SMOKE, "events")


def test_sessionize_gap_boundary_is_strict(spark):
    """An event exactly gap_seconds after its predecessor stays in the same
    session (strictly-greater split, matching the W4 oracle's `>`)."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1),
            (1, "2024-01-01 00:30:00", 2),  # exactly 1800 s -> same session
            (1, "2024-01-01 01:00:01", 3),  # 1801 s -> new session
            (2, "2024-01-01 00:00:00", 4),
        ],
        "user long, ts string, eid long",
    ).select("user", F.col("ts").cast("timestamp").alias("ts"), "eid")
    out = sessionize(df, "user", "ts", "eid", gap_seconds=1800)
    seqs = {r["eid"]: r["session_seq"] for r in out.collect()}
    assert seqs == {1: 1, 2: 1, 3: 2, 4: 1}


def test_session_stats_hand_checked(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1),
            (1, "2024-01-01 00:10:00", 2),
            (1, "2024-01-01 02:00:00", 3),
        ],
        "user long, ts string, eid long",
    ).select("user", F.col("ts").cast("timestamp").alias("ts"), "eid")
    rows = session_stats(df, "user", "ts", "eid").orderBy("session_seq").collect()
    assert [(r["session_seq"], r["n_events"], r["duration_sec"]) for r in rows] == [
        (1, 2, 600),
        (2, 1, 0),
    ]


def test_sessionize_partition_invariant(events):
    a = session_stats(events, "user_id", "ts", "event_id")
    b = session_stats(_scrambled(events), "user_id", "ts", "event_id")
    assert _sig(a) == _sig(b)


def test_session_stats_single_exchange(events):
    """The rollup reuses the window's hash(user) partitioning: ONE hash
    exchange end-to-end (hash(user, seq) is satisfied by hash(user))."""
    plan = (
        session_stats(events, "user_id", "ts", "event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1

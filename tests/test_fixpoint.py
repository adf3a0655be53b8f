"""operators/fixpoint.iterate: the one driver for the checkpointed round
loops. A round's convergence scalar is computed by the job that
checkpoints it, the previous round's checkpoint is released, and a loop
leaves one round of state cached (the frame it returns)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.graph.cc import connected_components
from bioeco_portal_etl_spark.operators.fixpoint import iterate
from bioeco_portal_etl_spark.operators.hierarchy import flatten_hierarchy


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run_in_group(spark, group, fn):
    """(fn's result, ids of the persisted RDDs it added, its job ids)."""
    sc = spark.sparkContext
    before = _persisted(spark)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return out, _persisted(spark) - before, jobs


def _actions(spark, jobs):
    """The action behind each job, in job order: the call-site name of the
    job's last stage. Broadcast builds run as jobs of their own on a
    helper thread (``withThreadLocalCaptured``); they are left out."""
    st = spark.sparkContext.statusTracker()
    names = [
        st.getStageInfo(max(st.getJobInfo(j).stageIds)).name.split(" at ")[0]
        for j in sorted(jobs)
    ]
    return [n for n in names if "withThreadLocalCaptured" not in n]


def _chain(spark, n=40):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )


def test_cc_keeps_only_the_returned_round(spark):
    """A 40-node chain needs several rounds; only the last survives."""
    out, added, _ = _run_in_group(
        spark, "fixpoint-cc-rdds", lambda: connected_components(_chain(spark))
    )
    assert len(added) == 1
    assert {r.component for r in out.collect()} == {0}


def test_cc_rounds_run_no_separate_scalar_action(spark):
    """The 40-node chain converges in six rounds. With adaptive execution
    off, each action is exactly one job, so the loop's actions are the one
    ``save`` that reads the starting label sum and one ``localCheckpoint``
    per round. A per-round scalar, whether a ``first()``, a ``count()`` or
    a writer, would add an action."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, _, jobs = _run_in_group(
            spark, "fixpoint-cc-jobs",
            lambda: connected_components(_chain(spark)),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert _actions(spark, jobs) == ["save"] + ["localCheckpoint"] * 6


@pytest.mark.parametrize("n", [1, 2, 5])
def test_fixed_rounds_checkpoint_all_but_the_last(spark, n):
    start = spark.range(10).withColumn("v", F.lit(0).cast("long"))
    out, added, jobs = _run_in_group(
        spark,
        f"fixpoint-fixed-{n}",
        lambda: iterate(start, lambda s: s.withColumn("v", s.v + 1), rounds=n),
    )
    # a narrow step: one job per eager checkpoint, none for the lazy last
    assert len(jobs) == n - 1
    assert len(added) == (1 if n > 1 else 0)
    assert {r.v for r in out.collect()} == {n}


def test_metric_rides_the_checkpoint_job(spark):
    """v climbs 1, 2, ..., 5, 5: one scan for the starting value, then six
    rounds of one job each; the sixth is returned."""
    start = spark.range(10).withColumn("v", F.lit(0).cast("long"))
    out, added, jobs = _run_in_group(
        spark,
        "fixpoint-metric",
        lambda: iterate(
            start,
            lambda s: s.withColumn("v", F.least(s.v + 1, F.lit(5))),
            rounds=10,
            metric=F.sum("v"),
        ),
    )
    assert len(jobs) == 1 + 6
    assert len(added) == 1
    assert {r.v for r in out.collect()} == {5}


def test_no_fixpoint_returns_none_and_releases_everything(spark):
    start = spark.range(10).withColumn("v", F.lit(0).cast("long"))
    out, added, _ = _run_in_group(
        spark,
        "fixpoint-diverge",
        lambda: iterate(
            start, lambda s: s.withColumn("v", s.v + 1), rounds=3,
            metric=F.sum("v"),
        ),
    )
    assert out is None
    assert added == set()


def test_flatten_drops_dangling_chains_exactly(spark):
    """The chain 0 -> 2 -> 1 -> 4 -> 3 -> 7 ends at a missing parent, so
    every row drops out; in round 2 the drops cancel the depth gained
    (sum(depth) stays 11), which a depth-only fixpoint test would take for
    convergence. The rooted tree 10 <- 11 <- 12 is unaffected."""
    rows = [(0, 2), (1, 4), (2, 1), (3, 7), (4, 3),
            (10, None), (11, 10), (12, 11)]
    nodes = spark.createDataFrame(rows, "node long, parent long")
    got = sorted(tuple(r) for r in flatten_hierarchy(nodes).collect())
    assert got == [(10, 10, 0), (11, 10, 1), (12, 10, 2)]

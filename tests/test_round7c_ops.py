"""Operator-level tests for the round-7 third batch."""

from __future__ import annotations

import math

import pytest

from bioeco_portal_etl_spark.catalog import queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return queries()


# ---------------------------------------------------------------------------
# w21 — streaming LOCF segments (pure-Python state-body checks; the
# Spark drain is covered by the catalog oracle test)
# ---------------------------------------------------------------------------


class _FakeState:
    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None


def _drive_locf(batches):
    import pandas as pd

    from bioeco_portal_etl_spark.streaming.locf import _locf_fn

    state = _FakeState()
    out = []
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "user_id": [1] * len(batch),
                "ts": pd.to_datetime([t for t, _, _ in batch], unit="us"),
                "event_id": [e for _, e, _ in batch],
                "vq": [v for _, _, v in batch],
            }
        )
        for o in _locf_fn((1,), iter([pdf]), state):
            out.extend(
                (r.user_id, r.start_us, r.dur_us, r.vq)
                for r in o.itertuples(index=False)
            )
    return out, state._v


def test_w21_segments_bridge_batches():
    """The open observation carried in state closes the first segment of
    the NEXT batch — segments must be identical however the (ordered)
    stream is sliced."""
    events = [(10, 1, 100), (25, 2, 200), (40, 3, 50), (70, 4, 75)]
    whole, st_whole = _drive_locf([events])
    sliced, st_sliced = _drive_locf([events[:1], events[1:3], events[3:]])
    exp = [(1, 10, 15, 100), (1, 25, 15, 200), (1, 40, 30, 50)]
    assert whole == exp
    assert sliced == exp
    assert st_whole == st_sliced == (70, 75)


def test_w21_intra_batch_disorder_sorted():
    events = [(40, 3, 50), (10, 1, 100), (25, 2, 200)]
    out, st = _drive_locf([events])
    assert out == [(1, 10, 15, 100), (1, 25, 15, 200)]
    assert st == (40, 50)


def test_w21_catalog_matches_batch_lead_segments(spark, q):
    """Drained stream output == rel38's lead()-segment frame minus each
    user's open tail, on the real sf0.001 events."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    got = q["w21_stream_locf_segments"](spark, SF)
    from bioeco_portal_etl_spark.sources.files import read_parquet_table as T

    e = T(spark, SF, "events").filter(F.col("user_id") < 80).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 10000.0).cast("long").alias("vq"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    exp = (
        e.withColumn("next_us", F.lead("ts_us").over(w))
        .filter(F.col("next_us").isNotNull())
        .select(
            "user_id",
            F.col("ts_us").alias("start_us"),
            (F.col("next_us") - F.col("ts_us")).alias("dur_us"),
            "vq",
        )
        .orderBy("user_id", "start_us", "dur_us", "vq")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in exp.collect()
    ]


# ---------------------------------------------------------------------------
# x51 — exact two-phase quantiles
# ---------------------------------------------------------------------------


def test_x51_matches_sorted_order_statistics(spark, q):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/orders.parquet").to_pydict()
    cents = sorted(math.floor(float(p) * 100.0) for p in t["o_totalprice"])
    n = len(cents)
    rows = q["x51_exact_quantiles"](spark, SF).collect()
    assert [r.p for r in rows] == [50, 95, 99]
    for r in rows:
        assert r.n == n
        assert r.value_cents == cents[(n - 1) * r.p // 100]


def test_x51_tiny_frame_exact(spark):
    from bioeco_portal_etl_spark.catalog_analytics import exact_quantiles_frame

    vals = [100_000 * i + 7 for i in range(21)]  # one per bucket
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = {r.p: r.value_cents for r in exact_quantiles_frame(df).collect()}
    s = sorted(vals)
    assert rows == {p: s[(21 - 1) * p // 100] for p in (50, 95, 99)}


# ---------------------------------------------------------------------------
# gr23 — degree inequality
# ---------------------------------------------------------------------------


def test_gr23_uniform_degrees_gini_zero(spark):
    from bioeco_portal_etl_spark.catalog_graph import degree_inequality_frame

    deg = spark.createDataFrame(
        [(i, 5) for i in range(10)], "node long, deg long"
    )
    r = degree_inequality_frame(deg).collect()[0]
    assert r.n_nodes == 10 and r.total_degree == 50
    assert r.gini_e6 == 0
    # top 1% of 10 nodes -> top 1 node -> share 5/50
    assert r.top1pct_share_e6 == 100_000


def test_gr23_single_hub_matches_hand_gini(spark):
    """9 nodes of degree 1 + one hub of degree 91: hand Lorenz Gini."""
    from bioeco_portal_etl_spark.catalog_graph import degree_inequality_frame

    degs = [1] * 9 + [91]
    deg = spark.createDataFrame(
        [(i, d) for i, d in enumerate(degs)], "node long, deg long"
    )
    s = sorted(degs)
    n, sd = len(s), sum(s)
    si = sum((i + 1) * d for i, d in enumerate(s))
    exp = math.floor((2.0 * si / (n * sd) - (n + 1.0) / n) * 1e6)
    r = degree_inequality_frame(deg).collect()[0]
    assert r.gini_e6 == exp
    assert r.top1pct_share_e6 == math.floor(91 * 1e6 / sd)


# ---------------------------------------------------------------------------
# dq17 — freshness lag
# ---------------------------------------------------------------------------


def test_dq17_lag_zero_for_freshest_type(spark, q):
    rows = q["dq17_freshness_lag"](spark, SF).collect()
    assert rows, "no event types"
    lags = [r.lag_us for r in rows]
    assert min(lags) == 0  # the type holding the high-water mark
    for r in rows:
        assert r.lag_us >= 0
        assert r.is_stale == (1 if r.lag_us > 43_200_000_000 else 0)
        assert r.last_us > 0 and r.n_events > 0

"""Streaming STATE-BOUND pins (VERDICT r10 item 6) — the 100 TB scale
contract for the stateful streaming family, executable.

Correctness tests prove each w-entry emits the right rows; these prove
the state store holds rows proportional to KEYS / WINDOWS / SKETCH
WIDTH — never to event count. Each test drains a DENSE synthetic stream
(hundreds of events per key per window — the sf0.001 events table is
too sparse to distinguish "state ∝ events" from "state ∝ keys": 1000
events over 531 distinct hours) and asserts the max
``stateOperators[*].numRowsTotal`` across all progress events stays at
the structural bound. At 100 TB the same bounds hold because none of
them mention event count:

  w16 HLL distinct       <= windows x (64 registers + 1)
  w17 binned quantiles   <= windows x (bins + 1)
  w18 CMS grid           <= windows x (d*w cells + 1)
  w19 native sessions    <= sessions (session_window merges in-store)
  w5/w21 applyInPandasWithState <= one state row per key

N_EVENTS (24k) / bound ratios range 30x-500x here and GROW with event
rate at fixed key/window cardinality — the definition of bounded state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.streaming.windows import (
    native_session_counts,
    run_stream_to_memory,
    windowed_binned_quantiles,
    windowed_cms_grid,
    windowed_distinct_hll,
)

N_EVENTS = 24_000
N_USERS = 50
N_HOURS = 4  # events span exactly 4 one-hour windows
EPOCH = 1_735_689_600  # 2025-01-01 00:00:00 UTC


@pytest.fixture(scope="module")
def dense_events_dir(spark, tmp_path_factory):
    """24k events, 50 users, 4 hours: each user fires every 30 s, so
    every user x window cell holds ~120 events (dense), every user is
    one continuous session (30 s << 30 min gap), and event_id repeats
    mod 2000."""
    d = str(tmp_path_factory.mktemp("dense_events") / "ev")
    (
        spark.range(N_EVENTS)
        .select(
            (F.col("id") % 2000).alias("event_id"),
            F.timestamp_seconds(
                F.lit(EPOCH)
                + (F.col("id") % N_USERS) * 2  # per-user phase offset
                + (F.col("id") / N_USERS).cast("long") * 30
            ).alias("ts"),
            (F.col("id") % N_USERS).alias("user_id"),
            ((F.col("id") * 37 % 101) / 10.0).alias("value"),
        )
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _read_stream(spark, path, watermark="10 minutes"):
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .parquet(path)
        .withWatermark("ts", watermark)
    )


def _drain_max_state(stream_df, name, mode="append"):
    """Drain availableNow; return (result_rows, max total state rows
    observed across every progress event — the store's high-water mark,
    not just the final batch)."""
    spark = stream_df.sparkSession
    q = run_stream_to_memory(stream_df, name, mode=mode)
    try:
        ok = q.awaitTermination(300)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    assert ok, f"{name} did not drain"
    mx = 0
    for p in progress:
        ops = p["stateOperators"] or []
        total = sum(int(o["numRowsTotal"]) for o in ops)
        mx = max(mx, total)
    return spark.table(name).count(), mx


def test_w16_hll_state_is_registers_not_users_or_events(
    spark, dense_events_dir
):
    stream = _read_stream(spark, dense_events_dir).select("ts", "user_id")
    n_out, mx = _drain_max_state(
        windowed_distinct_hll(stream, "1 hour", "user_id"), "sb_w16"
    )
    # two chained aggs: (window, bucket<=64) + (window) rows; one extra
    # window for the 2 s phase spill past the 4-hour mark
    bound = (N_HOURS + 1) * (64 + 1)
    assert 0 < mx <= bound, (mx, bound)
    assert mx * 30 < N_EVENTS, "state must be orders below event count"


def test_w17_binned_quantile_state_is_bins_not_values(
    spark, dense_events_dir
):
    stream = _read_stream(spark, dense_events_dir).select("ts", "value")
    n_out, mx = _drain_max_state(
        windowed_binned_quantiles(
            stream, "1 hour", "value", bins=16, lo_cents=0, step_cents=100
        ),
        "sb_w17",
    )
    bound = (N_HOURS + 1) * (16 + 1)
    assert 0 < mx <= bound, (mx, bound)


def test_w18_cms_state_is_grid_cells_not_keys(spark, dense_events_dir):
    stream = _read_stream(spark, dense_events_dir).select("ts", "user_id")
    n_out, mx = _drain_max_state(
        windowed_cms_grid(stream, "1 hour", "user_id", d=4, w=64), "sb_w18"
    )
    # one counter row per touched (window, row, bucket) cell; with 50
    # keys at most 50 distinct buckets fill per row
    bound = (N_HOURS + 1) * (4 * min(64, N_USERS) + 1)
    assert 0 < mx <= bound, (mx, bound)


def test_w19_native_session_state_is_sessions_not_events(
    spark, dense_events_dir
):
    stream = _read_stream(spark, dense_events_dir).select("ts", "user_id")
    n_out, mx = _drain_max_state(
        native_session_counts(stream, "30 minutes", "user_id"), "sb_w19"
    )
    # every user fires every 30 s -> ONE merged session per user in the
    # store; allow unmerged adjacency slack before compaction
    assert 0 < mx <= N_USERS * 4, mx
    assert mx * 30 < N_EVENTS


def test_w5_sessionize_state_is_one_row_per_user(spark, dense_events_dir):
    from bioeco_portal_etl_spark.streaming.sessions_stream import (
        streaming_sessionize,
    )

    stream = _read_stream(spark, dense_events_dir).select(
        "user_id", "ts", "event_id"
    )
    n_out, mx = _drain_max_state(
        streaming_sessionize(stream, gap_seconds=1800), "sb_w5"
    )
    # applyInPandasWithState keeps exactly one open-session row per user
    assert 0 < mx <= N_USERS, mx


def test_w21_locf_state_is_one_row_per_user(spark, dense_events_dir):
    from bioeco_portal_etl_spark.streaming.locf import streaming_locf_segments

    stream = _read_stream(spark, dense_events_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 10000.0).cast("long").alias("vq"),
    )
    n_out, mx = _drain_max_state(streaming_locf_segments(stream), "sb_w21")
    # one open-observation row per user; closed segments emit and leave
    assert 0 < mx <= N_USERS, mx
    # every event except each user's open last one closes a segment
    assert n_out == N_EVENTS - N_USERS

"""Streaming ≡ batch equivalence (SURVEY.md §7 step 8).

The same column expressions (streaming/windows.py) must produce identical
results via Structured Streaming (file source -> availableNow -> memory sink)
and via the batch DataFrame path that the DuckDB oracle already validates.
"""

from __future__ import annotations

import pytest
from datetime import datetime

from bioeco_portal_etl_spark.sources.files import read_parquet_table
from bioeco_portal_etl_spark.streaming.windows import (
    read_event_stream,
    run_stream_to_memory,
    session_counts,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """events re-materialized with µs timestamps (streaming readers can't use
    the nanos-as-long legacy path read_parquet_table handles for batch)."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    read_parquet_table(spark, SF_SMOKE, "events").write.parquet(path)
    return path


def _sig(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, event_dir):
    batch = tumbling_counts(spark.read.parquet(event_dir))
    q = run_stream_to_memory(
        tumbling_counts(read_event_stream(spark, event_dir)), "tumbling_mem"
    )
    q.awaitTermination(120)
    streamed = spark.table("tumbling_mem")
    assert _sig(streamed) == _sig(batch)


def test_session_stream_equals_batch(spark, event_dir):
    batch = session_counts(spark.read.parquet(event_dir))
    q = run_stream_to_memory(
        session_counts(read_event_stream(spark, event_dir)), "session_mem"
    )
    q.awaitTermination(120)
    streamed = spark.table("session_mem")
    assert _sig(streamed) == _sig(batch)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: an event arriving
    after the watermark has passed its window's close is DROPPED; the batch
    path (no watermark) still counts it. This is the state-eviction contract
    that bounds streaming memory at scale."""
    import time as _time

    from pyspark.sql import Row

    d = str(tmp_path / "late_events")
    on_time = [
        Row(event_id=1, ts=datetime(2024, 1, 1, 10, 5), user_id=1,
            event_type="click", value=1.0, props=None),
        Row(event_id=2, ts=datetime(2024, 1, 1, 23, 50), user_id=1,
            event_type="click", value=1.0, props=None),
    ]
    late = [
        # watermark after file 1 ≈ 23:50 - 2h = 21:50 -> the 10:00-11:00
        # window is long closed; this event must be discarded
        Row(event_id=3, ts=datetime(2024, 1, 1, 10, 20), user_id=1,
            event_type="click", value=1.0, props=None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    spark.createDataFrame(on_time, schema).coalesce(1).write.parquet(d)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "2 hours")
    )
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("late_mem")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table("late_mem").count() >= 1:
                break  # 10:00 window finalized after watermark passed it
            _time.sleep(1)
        spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (str(r.window_start), r.n_events) for r in spark.table("late_mem").collect()
    }
    # the 10:00 window finalized with ONE event; the late arrival was dropped
    assert ("2024-01-01 10:00:00", 1) in streamed
    batch_df = spark.read.parquet(d)
    batch = {
        (str(r.window_start), r.n_events)
        for r in tumbling_counts(batch_df).collect()
    }
    assert ("2024-01-01 10:00:00", 2) in batch  # batch sees all three rows


def test_enrich_stream_equals_batch_join(spark, event_dir):
    """Stream-static broadcast enrichment ≡ the batch left join."""
    from bioeco_portal_etl_spark.streaming.joins import static_enrich

    dim = spark.createDataFrame(
        [(i, "tier%d" % (i % 3)) for i in range(200)], "user_id long, tier string"
    )
    stream = static_enrich(read_event_stream(spark, event_dir), dim, "user_id")
    q = run_stream_to_memory(
        stream.select("event_id", "user_id", "tier"), "enrich_mem", mode="append"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _sig(spark.table("enrich_mem"))
    batch = _sig(
        spark.read.parquet(event_dir)
        .join(dim, "user_id", "left")
        .select("event_id", "user_id", "tier")
    )
    assert got == batch


def test_update_mode_foreachbatch_converges_across_batches(spark, tmp_path):
    """w10's claim pinned under MULTI-batch replay: with one file per
    trigger the changed groups re-emit each batch, and the keep-latest
    merge still converges to the batch aggregate."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "stream_src")
    rows1 = [(1, "a", 1.0), (2, "b", 2.0)]
    rows2 = [(3, "a", 3.0), (4, "a", 4.0)]
    spark.createDataFrame(rows1, "id long, k string, v double").write.parquet(
        src + "/f1.parquet"
    )
    spark.createDataFrame(rows2, "id long, k string, v double").write.parquet(
        src + "/f2.parquet"
    )
    stream = (
        spark.readStream.schema("id long, k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    agg = stream.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("s"),
    )
    final = {}
    emissions = []

    def merge(batch_df, batch_id):
        got = batch_df.collect()
        emissions.append((batch_id, sorted(r["k"] for r in got)))
        for r in got:
            final[r["k"]] = (r["n"], r["s"])

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    assert final == {"a": (3, 8.0), "b": (1, 2.0)}
    # multi-batch actually happened and 'a' was re-emitted with new state
    nonempty = [e for e in emissions if e[1]]
    assert len(nonempty) >= 2
    assert any("a" in ks for _, ks in nonempty[1:])

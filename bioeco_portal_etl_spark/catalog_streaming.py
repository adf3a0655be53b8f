"""Streaming catalog entries (w*): the batch faces of the streaming
operators — tumbling / sliding / session windows, watermarks, stateful
dedupe, stream joins, anomaly flags and sinks (streaming/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T
from bioeco_portal_etl_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


# ---------------------------------------------------------------------------
# Event-time windows (batch faces of streaming/windows.py)
# ---------------------------------------------------------------------------


def w1_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    # sums run as DECIMAL internally (reassociation-exact across partial
    # aggregation orders); the catalog surface casts to double on BOTH
    # engines — Decimal objects vs DOUBLE hash differently at the gate.
    e = T(spark, sf, "events")
    return (
        tumbling_counts(e)
        .withColumn("sum_value", F.col("sum_value").cast("double"))
        .orderBy("window_start", "event_type")
    )


W1_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events, sum(value::DECIMAL(18,6))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def w2_sliding(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    return (
        sliding_counts(e)
        .withColumn("sum_value", F.col("sum_value").cast("double"))
        .orderBy("window_start", "event_type")
    )


W2_SQL = """
WITH x AS (
  SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS window_start,
         event_type, value
  FROM events)
SELECT window_start, event_type, count(*) AS n_events,
       sum(value::DECIMAL(18,6))::DOUBLE AS sum_value
FROM x GROUP BY 1, 2 ORDER BY 1, 2
"""


def w3_session(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    return (
        session_counts(e)
        .withColumn("sum_value", F.col("sum_value").cast("double"))
        .orderBy("user_id", "session_start")
    )


W3_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events),
y AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x)
SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
       sum(value::DECIMAL(18,6))::DOUBLE AS sum_value
FROM y GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def w4_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Batch gap-sessionization (operators/sessions.py): explicit per-user
    session ordinals + session summaries over the events table, 30-min gap.
    One hash(user) exchange end-to-end — the rollup reuses the window's
    partitioning (hash(user, seq) ⊂ hash(user))."""
    from bioeco_portal_etl_spark.operators.sessions import session_stats

    e = T(spark, sf, "events")
    return session_stats(e, "user_id", "ts", "event_id", gap_seconds=1800).orderBy(
        "user_id", "session_seq"
    )


W4_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
y AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM x
)
SELECT user_id, session_seq::BIGINT AS session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       ((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000)::BIGINT
         AS duration_sec,
       count(*)::BIGINT AS n_events
FROM y GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""


def w5_streaming_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (streaming/sessions_stream.py):
    gap-sessionization via applyInPandasWithState, drained with
    availableNow into a memory sink. Emits every CLOSED session; each
    user's final (still-open) session stays in state — so the output is
    deterministic at any drain point: the batch sessionization (w4) minus
    each user's last session, which is exactly what the oracle computes.
    State is one (start,end,n) triple per user; the state-store shuffle on
    user_id is the same single exchange the batch operator pays."""
    import os

    from bioeco_portal_etl_spark.streaming.sessions_stream import (
        streaming_sessionize,
    )

    T(spark, sf, "events")  # pins UTC session tz for the epoch math
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        # glob, not the bare file: the streaming file source requires a
        # directory or glob (basePath then derives to the parent dir)
        .parquet(os.path.join(sf, "events.parquet*"))
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id")
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    # state-store instance count = shuffle partitions; size to the
    # drain, scoped + restored (see scoped_shuffle_partitions)
    with scoped_shuffle_partitions(spark, 8):
        q = (
            streaming_sessionize(stream)
            .writeStream.format("memory")
            .queryName("w5_sessions_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover - drain must finish within the timeout
            raise RuntimeError("w5 stream did not drain")
    return spark.table("w5_sessions_mem").orderBy("user_id", "session_start")


W5_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
y AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
),
s AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         ((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000)::BIGINT
           AS duration_sec,
         count(*)::BIGINT AS n_events
  FROM y GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, duration_sec, n_events
FROM (SELECT *, max(sid) OVER (PARTITION BY user_id) AS mx FROM s)
WHERE sid < mx
ORDER BY user_id, session_start
"""


def w6_streaming_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedupe (streaming/stateful.py streaming_dedupe):
    custom applyInPandasWithState first-seen dedupe over a documents
    stream, drained with availableNow. State partitions on a md5-derived
    bucket (balanced by construction); within a trigger, iteration is
    id-sorted, so a single-batch drain reproduces batch keep-first dedupe
    exactly — which is what the oracle computes (td1's shape: one row per
    distinct content hash, smallest doc id wins)."""
    import os

    from bioeco_portal_etl_spark.streaming.stateful import streaming_dedupe

    T(spark, sf, "documents")  # pins session confs like the other readers
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(os.path.join(sf, "documents.parquet*"))
    hashed = stream.select(
        F.pmod(F.abs(F.hash(F.md5("text"))), F.lit(8)).cast("int").alias("bucket"),
        "doc_id",
        F.md5("text").alias("content_hash"),
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    # state-store instance count = shuffle partitions; size to the
    # drain, scoped + restored (see scoped_shuffle_partitions)
    with scoped_shuffle_partitions(spark, 8):
        q = (
            streaming_dedupe(hashed)
            .writeStream.format("memory")
            .queryName("w6_dedupe_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w6 stream did not drain")
    return (
        spark.table("w6_dedupe_mem")
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    )


W6_SQL = """
SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
FROM documents
GROUP BY md5(text)
ORDER BY doc_id
"""


def w7_stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join (streaming/joins.py interval_join),
    actually run as TWO live streams: errors ⋈ clicks within ±5 min per
    user, both sides watermarked, inner join in append mode, drained with
    availableNow. A single-batch drain holds both sides fully in state,
    so every match emits — the output equals the batch theta-join the
    oracle runs. State retention is watermark+interval bounded; the join
    shuffles both streams on user_id."""
    import os

    from bioeco_portal_etl_spark.streaming.joins import interval_join

    T(spark, sf, "events")  # pins UTC session tz
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    path = os.path.join(sf, "events.parquet*")

    def stream():
        return spark.readStream.schema(schema).parquet(path)

    errors = (
        stream()
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("err_id"),
            F.col("ts").cast("timestamp").alias("err_ts"),
        )
        .withWatermark("err_ts", "2 hours")
    )
    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    j = interval_join(
        errors, clicks, "user_id", "err_ts", "click_ts", -300.0, 300.0
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    # state-store instance count = shuffle partitions; size to the
    # drain, scoped + restored (see scoped_shuffle_partitions)
    with scoped_shuffle_partitions(spark, 8):
        q = (
            j.select("err_id", "user_id", "click_ts", "click_value")
            .writeStream.format("memory")
            .queryName("w7_ssjoin_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w7 stream did not drain")
    return spark.table("w7_ssjoin_mem").orderBy(
        "err_id", "click_ts", "click_value"
    )


W7_SQL = """
SELECT e.event_id AS err_id, e.user_id, c.ts AS click_ts,
       c.value AS click_value
FROM events e
JOIN events c ON c.user_id = e.user_id AND c.event_type = 'click'
             AND c.ts >= e.ts - INTERVAL 5 MINUTE
             AND c.ts <= e.ts + INTERVAL 5 MINUTE
WHERE e.event_type = 'error'
ORDER BY err_id, click_ts, click_value
"""


# ---------------------------------------------------------------------------
# w8 — streaming rolling z-score anomalies
# ---------------------------------------------------------------------------


def w8_streaming_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming anomaly gate (streaming/anomaly.py streaming_zscore):
    the streaming face of x13 — applyInPandasWithState ring buffer of the
    last 10 e2 values per user, availableNow drain. In-trigger iteration
    is (ts, event_id)-sorted, so a single-batch drain reproduces the
    batch operator exactly; the oracle is x13's SQL with the z surfaced
    as floor-e4 (the streaming face avoids round()'s half-boundary
    divergence entirely)."""
    import os

    from bioeco_portal_etl_spark.streaming.anomaly import (
        prepare_event_stream,
        streaming_zscore,
    )

    T(spark, sf, "events")  # pins UTC session tz for the epoch math
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "value",
        )
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    # state-store instance count = shuffle partitions; size to the
    # drain, scoped + restored (see scoped_shuffle_partitions)
    with scoped_shuffle_partitions(spark, 8):
        q = (
            streaming_zscore(prepare_event_stream(stream))
            .writeStream.format("memory")
            .queryName("w8_anomaly_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w8 stream did not drain")
    return (
        spark.table("w8_anomaly_mem")
        .select("event_id", "user_id", "value", "z_e4")
        .orderBy("event_id")
    )


W8_SQL = """
WITH q AS (
  SELECT event_id, user_id, value,
         CAST(floor(value * 100) AS BIGINT) AS v_e2,
         count(*) OVER w AS n,
         sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS s1,
         sum(CAST(floor(value * 100) AS BIGINT) * CAST(floor(value * 100) AS BIGINT)) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_id, user_id, value,
         CAST(floor((v_e2 - s1 / n) / sqrt((n * s2 - s1 * s1) / (n * n))
              * 10000) AS BIGINT) AS z_e4
  FROM q
  WHERE n >= 5 AND n * s2 - s1 * s1 > 0
)
SELECT event_id, user_id, value, z_e4
FROM z WHERE abs(z_e4) > 25000
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# w9 — LIVE streaming tumbling aggregate (append mode)
# ---------------------------------------------------------------------------


def w9_streaming_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked streaming face of w1: a REAL readStream tumbling
    count/sum drained with availableNow into a memory sink in APPEND mode
    — only windows finalized by the watermark emit, so the result is the
    batch aggregate minus the trailing watermark horizon (exactly what
    the oracle computes). The no-data microbatch at drain end advances
    the watermark to max(ts) - delay, finalizing everything before it;
    state is one (window, type) row bounded by the horizon, behind the
    same (window, type) exchange the batch face pays."""
    import os

    from bioeco_portal_etl_spark.streaming.windows import tumbling_counts

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
        )
        .withWatermark("ts", "2 hours")
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    # state-store instance count = shuffle partitions; size to the
    # drain, scoped + restored (see scoped_shuffle_partitions)
    with scoped_shuffle_partitions(spark, 8):
        q = (
            tumbling_counts(stream)
            .withColumn("sum_value", F.col("sum_value").cast("double"))
            .writeStream.format("memory")
            .queryName("w9_tumbling_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w9 stream did not drain")
    return spark.table("w9_tumbling_mem").orderBy("window_start", "event_type")


W9_SQL = """
WITH mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events, sum(value::DECIMAL(18,6))::DOUBLE AS sum_value
FROM events CROSS JOIN mx
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= (SELECT wm FROM mx)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# w10 — update-mode streaming aggregation converged via foreachBatch
# ---------------------------------------------------------------------------


def w10_streaming_update_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The UPDATE-mode face of streaming aggregation (w9 is append):
    per-event-type count/sum where every trigger emits the CHANGED groups
    and a foreachBatch merge keeps the latest row per key — the
    convergent-table pattern behind every streaming dashboard sink
    (streaming/sink.py's JDBC upsert is the productionized form; here the
    merge target is a driver dict because the state is group-cardinality-
    sized by construction). After the drain the merged table must equal
    the batch aggregate exactly — which is what the oracle checks."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select("event_type", F.col("value").cast("decimal(18,6)").alias("v"))
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("sum_value"),
    )
    final: dict = {}

    def merge(batch_df, _batch_id):
        for r in batch_df.collect():  # group-cardinality rows, never events
            final[r["event_type"]] = (r["n_events"], r["sum_value"])

    with scoped_shuffle_partitions(spark, 8):
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(merge)
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w10 stream did not drain")
    rows = [
        (k, n, s) for k, (n, s) in sorted(final.items())
    ]
    return spark.createDataFrame(
        rows, "event_type string, n_events long, sum_value double"
    ).orderBy("event_type")


W10_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(value::DECIMAL(18,6))::DOUBLE AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# w11 — stream-static dimension enrichment (LIVE streaming)
# ---------------------------------------------------------------------------


def w11_stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """THE production streaming staple the w-family still lacked: a live
    event stream broadcast-joined per microbatch against a BATCH dimension
    (customer market segment keyed by user id; left join so facts without
    a dimension row survive as 'UNKNOWN'), then a watermarked tumbling
    aggregate drained append-mode with availableNow. The stream never
    shuffles for the join and the join itself holds NO state — the static
    side re-resolves every trigger — so state is just the (window,
    segment) aggregate rows inside the watermark horizon. Oracle = the
    batch join+window minus the trailing horizon (w9 drain semantics)."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.joins import static_enrich

    T(spark, sf, "events")  # pins UTC session tz
    dim = (
        T(spark, sf, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(
            F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
        )
        .withWatermark("ts", "2 hours")
    )
    enriched = static_enrich(stream, dim, "user_id").withColumn(
        "segment", F.coalesce("segment", F.lit("UNKNOWN"))
    )
    agg = (
        enriched.groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName("w11_enrich_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w11 stream did not drain")
    return spark.table("w11_enrich_mem").orderBy("window_start", "segment")


W11_SQL = """
WITH dim AS (SELECT c_custkey AS user_id, c_mktsegment AS segment
             FROM customer),
mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       coalesce(d.segment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       sum(value::DECIMAL(18,6))::DOUBLE AS sum_value
FROM events e LEFT JOIN dim d USING (user_id)
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
        <= (SELECT wm FROM mx)
GROUP BY 1, 2
ORDER BY 1, 2"""


# ---------------------------------------------------------------------------
# w12 — LIVE stream-stream LEFT OUTER interval join
# ---------------------------------------------------------------------------


def w12_stream_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """Errors LEFT OUTER clicks within ±5 min per user, run as TWO live
    streams (interval_join_outer), watermarked 2 h, drained availableNow.
    Matched rows emit with their batch; NULL-padded rows only emit once
    the GLOBAL watermark (min over both streams' per-stream watermarks)
    proves no partner can arrive, so the comparable region is errors at
    least 3 h (2 h watermark + 5 min interval + slack) behind the SLOWER
    stream's last event: both this query and the oracle filter to
    ``err_ts <= least(max_err_ts, max_click_ts) - 3 h``. The
    final no-data microbatch advances the watermark to flush that
    region's unmatched state."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.joins import interval_join_outer

    events = T(spark, sf, "events")  # pins UTC session tz
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    path = os.path.join(sf, "events.parquet*")

    def stream():
        return spark.readStream.schema(schema).parquet(path)

    errors = (
        stream()
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("err_id"),
            F.col("ts").cast("timestamp").alias("err_ts"),
        )
        .withWatermark("err_ts", "2 hours")
    )
    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    j = interval_join_outer(
        errors, clicks, "user_id", "err_ts", "click_ts", -300.0, 300.0
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            j.select("err_id", "user_id", "err_ts", "click_ts", "click_value")
            .writeStream.format("memory")
            .queryName("w12_ssoj_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w12 stream did not drain")
    cutoff = events.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            )
            - F.expr("INTERVAL 3 HOUR")
        ).alias("cut")
    )
    return (
        spark.table("w12_ssoj_mem")
        .crossJoin(F.broadcast(cutoff))
        .filter(F.col("err_ts") <= F.col("cut"))
        .select("err_id", "user_id", "err_ts", "click_ts", "click_value")
        .orderBy("err_id", "click_ts", "click_value")
    )


W12_SQL = """
WITH mx AS (
  SELECT least(max(ts) FILTER (event_type = 'error'),
               max(ts) FILTER (event_type = 'click'))
         - INTERVAL 3 HOUR AS cut
  FROM events)
SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
       c.ts AS click_ts, c.value AS click_value
FROM events e
LEFT JOIN events c ON c.user_id = e.user_id AND c.event_type = 'click'
       AND c.ts >= e.ts - INTERVAL 5 MINUTE
       AND c.ts <= e.ts + INTERVAL 5 MINUTE
CROSS JOIN mx
WHERE e.event_type = 'error' AND e.ts <= mx.cut
ORDER BY err_id, click_ts, click_value
"""


# ---------------------------------------------------------------------------
# w13 — chained streaming aggregation (window over window)
# ---------------------------------------------------------------------------


def w13_stream_two_level_agg(spark: SparkSession, sf: str) -> DataFrame:
    """15-min tumbling counts cascaded into hourly rollups in one LIVE
    streaming query (two stateful aggregations; watermark propagates
    through the first into the second). Drained with availableNow in
    append mode: only hours finalized by the watermark emit, so the
    result equals the batch rollup restricted to hour_end <= max(ts) -
    2 h — exactly what the oracle computes. n_subwindows counts the
    15-min windows WITH data inside each hour (the pre-agg fan-in)."""
    import os

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
        .withWatermark("ts", "2 hours")
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    lvl1 = stream.groupBy(
        F.window("ts", "15 minutes").alias("w15"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n15"))
    lvl2 = (
        lvl1.groupBy(
            F.window(F.col("w15"), "1 hour").alias("wh"), "event_type"
        )
        .agg(
            F.sum("n15").alias("n_events"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
        .select(
            F.col("wh.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            lvl2.writeStream.format("memory")
            .queryName("w13_twolevel_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w13 stream did not drain")
    return spark.table("w13_twolevel_mem").orderBy("hour_start", "event_type")


W13_SQL = """
WITH mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events),
b15 AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS w15, event_type,
         count(*)::BIGINT AS n15
  FROM events GROUP BY 1, 2
)
SELECT time_bucket(INTERVAL '1 hour', w15) AS hour_start, event_type,
       sum(n15)::BIGINT AS n_events, count(*)::BIGINT AS n_subwindows
FROM b15 CROSS JOIN mx
WHERE time_bucket(INTERVAL '1 hour', w15) + INTERVAL '1 hour'
      <= (SELECT wm FROM mx)
GROUP BY 1, 2 ORDER BY 1, 2"""


# ---------------------------------------------------------------------------
# w14 — complete-mode streaming top-k leaderboard
# ---------------------------------------------------------------------------


def w14_stream_complete_topk(spark: SparkSession, sf: str) -> DataFrame:
    """LIVE complete-output-mode leaderboard: top-10 (event_type, user
    bucket) cells by event count. Complete mode re-emits the FULL result
    per micro-batch (sort+limit is only legal here), so after an
    availableNow drain the memory sink holds exactly the batch top-10 —
    no watermark horizon, the contract difference vs the append-mode
    w9/w13 family."""
    import os

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select("event_type", (F.col("user_id") % 100).alias("u_bucket"))
    )
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    top = (
        stream.groupBy("event_type", "u_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type", "u_bucket")
        .limit(10)
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            top.writeStream.format("memory")
            .queryName("w14_topk_mem")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w14 stream did not drain")
    return spark.table("w14_topk_mem").orderBy(
        F.desc("n"), "event_type", "u_bucket"
    )


W14_SQL = """
SELECT event_type, user_id % 100 AS u_bucket, count(*)::BIGINT AS n
FROM events
GROUP BY 1, 2
ORDER BY n DESC, event_type, u_bucket
LIMIT 10"""


# ---------------------------------------------------------------------------
# w15 — LIVE streaming CDC apply into an embedded JDBC target
# ---------------------------------------------------------------------------

_W15_URL = "jdbc:derby:memory:w15db;create=true"
_W15_TABLE = "w15_state"


def w15_stream_cdc_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """LIVE streaming CDC sink: the event stream becomes a changelog
    (entity = event_id % 500, seq = event_id, op 0/1/2 from the event
    type), each micro-batch is compacted to per-key last ops and applied
    to an embedded Derby table with ONE server-side seq-guarded CDC
    MERGE (sinks/jdbc_upsert.stage_and_cdc_merge). The drained TABLE
    STATE — live rows only, deletes really gone — must equal the batch
    net effect, which is the oracle.

    Ordering contract: final state is batch-split-independent because
    seqs are globally unique, each batch applies max-seq-per-key, and
    the MERGE guard drops stale rows (see build_cdc_merge_sql on the
    tombstone-less delete caveat)."""
    import os

    from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_cdc_merge
    from bioeco_portal_etl_spark.sources.jdbc import read_jdbc_table
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    T(spark, sf, "events")  # pins UTC session tz
    empty = spark.createDataFrame(
        [], "entity long, seq long, op_code int, v_e4 long"
    )
    empty.write.jdbc(_W15_URL, _W15_TABLE, mode="overwrite")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(
            (F.col("event_id") % 500).alias("entity"),
            F.col("event_id").alias("seq"),
            F.expr(
                "CASE event_type WHEN 'signup' THEN 0 WHEN 'error' THEN 2"
                " ELSE 1 END"
            ).cast("int").alias("op_code"),
            F.expr("CAST(floor(value * 1e4) AS BIGINT)").alias("v_e4"),
        )
    )

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        stage_and_cdc_merge(
            batch_df, _W15_URL, _W15_TABLE,
            ["entity"], "seq", "op_code", ["v_e4"],
        )

    with scoped_shuffle_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(_apply)
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w15 stream did not drain")

    state = read_jdbc_table(spark, _W15_URL, _W15_TABLE)
    return state.select(
        F.col("entity").alias("key"),
        F.col("seq").alias("last_seq"),
        F.col("v_e4").alias("net_value"),
    ).orderBy("key")


W15_SQL = """
WITH ops AS (
  SELECT event_id % 500 AS entity, event_id AS seq,
         CASE event_type WHEN 'signup' THEN 0 WHEN 'error' THEN 2
              ELSE 1 END AS op_code,
         CAST(floor(value * 1e4) AS BIGINT) AS v_e4
  FROM events
),
last AS (
  SELECT entity, max(seq)::BIGINT AS last_seq,
         max_by(op_code, seq) AS op, max_by(v_e4, seq) AS net_value
  FROM ops GROUP BY entity
)
SELECT entity AS key, last_seq, net_value::BIGINT AS net_value
FROM last WHERE op <> 2 ORDER BY key"""


# ---------------------------------------------------------------------------
# w16 — LIVE streaming windowed distinct via HLL sketch state
# ---------------------------------------------------------------------------


def w16_stream_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly distinct-user estimates from a LIVE stream with
    sketch-bounded state (64 register rows per window, not one per
    user): chained streaming aggregates drained availableNow in append
    mode — a window emits once the 2 h watermark passes its end, so the
    result equals the batch HLL restricted to window_end <= max(ts) - 2h
    (exactly what the oracle computes)."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.windows import windowed_distinct_hll

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .withWatermark("ts", "2 hours")
    )
    res = windowed_distinct_hll(stream, "1 hour", "user_id")
    with scoped_shuffle_partitions(spark, 8):
        q = (
            res.writeStream.format("memory")
            .queryName("w16_hll_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w16 stream did not drain")
    return spark.table("w16_hll_mem").orderBy("window_start")


def _w16_sql() -> str:
    from bioeco_portal_etl_spark.sketches.hll import duck_hll

    hll = duck_hll(
        "(SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, user_id"
        " FROM events)",
        "wstart",
        "user_id",
    )
    return f"""
WITH mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events),
{hll.lstrip()}
SELECT grp AS window_start, est_distinct
FROM hll, mx WHERE grp + INTERVAL '1 hour' <= wm
ORDER BY window_start"""


# ---------------------------------------------------------------------------
# w17 — streaming windowed p50/p90 with bounded histogram state
# ---------------------------------------------------------------------------

_W17_BINS, _W17_LO, _W17_STEP = 16, 0, 3200


def w17_stream_binned_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly p50/p90 of event value from a LIVE stream with bounded
    state (<= 16 histogram rows per window): two chained streaming
    aggregates drained availableNow in append mode — a window emits once
    the 2 h watermark passes its end, so the result equals the batch
    histogram quantiles restricted to window_end <= max(ts) - 2h
    (exactly what the oracle computes)."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.windows import (
        windowed_binned_quantiles,
    )

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(F.col("ts").cast("timestamp").alias("ts"), "value")
        .withWatermark("ts", "2 hours")
    )
    res = windowed_binned_quantiles(
        stream, "1 hour", "value", _W17_BINS, _W17_LO, _W17_STEP
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            res.writeStream.format("memory")
            .queryName("w17_binq_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w17 stream did not drain")
    return spark.table("w17_binq_mem").orderBy("window_start")


def _w17_sql() -> str:
    bins, lo, step = _W17_BINS, _W17_LO, _W17_STEP
    bcols = ",\n         ".join(
        f"sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END)::BIGINT AS b{i}"
        for i in range(bins)
    )

    def pick(mult_cum: int, mult_n: int) -> str:
        cases = []
        cum_terms = []
        for i in range(bins - 1):
            cum_terms.append(f"b{i}")
            cum = " + ".join(cum_terms)
            cases.append(
                f"WHEN {mult_cum} * ({cum}) - {mult_n} * n >= 0 THEN {i}"
            )
        return "CASE " + " ".join(cases) + f" ELSE {bins - 1} END"

    p50, p90 = pick(2, 1), pick(10, 9)
    return f"""
WITH mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events),
binned AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
         least(greatest(CAST(floor((CAST(floor(value * 100) AS BIGINT) - {lo})
                                   / {step}) AS BIGINT), 0), {bins - 1}) AS bin
  FROM events
),
hist AS (
  SELECT wstart, count(*)::BIGINT AS n,
         {bcols}
  FROM binned GROUP BY wstart
),
q AS (
  SELECT wstart, n,
         CAST({p50} AS BIGINT) AS p50_bin,
         CAST({p90} AS BIGINT) AS p90_bin
  FROM hist
)
SELECT wstart AS window_start, n,
       p50_bin, ({lo} + p50_bin * {step})::BIGINT AS p50_est_cents,
       p90_bin, ({lo} + p90_bin * {step})::BIGINT AS p90_est_cents
FROM q, mx WHERE wstart + INTERVAL '1 hour' <= wm
ORDER BY window_start"""


# ---------------------------------------------------------------------------
# w18 — streaming per-window CMS frequency estimates
# ---------------------------------------------------------------------------

_W18_D, _W18_W = 4, 256


def w18_stream_cms_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-window frequency estimates for a fixed candidate key set from
    a LIVE stream with bounded state: the stream maintains one Count-Min
    grid per hourly window (<= d*w = 1024 counter rows — never one row
    per key), drained availableNow in append mode; the drained grids are
    then probed read-side (min over d cells) for candidates
    user_id % 50 = 0. Estimates are bit-identical to batch cms_build on
    the same windows (same md5-permutation family)."""
    import os

    from bioeco_portal_etl_spark.sketches import h60
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.windows import windowed_cms_grid
    from bioeco_portal_etl_spark.text.dedupe import MERSENNE31, PERM_A, PERM_B

    ev = T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .withWatermark("ts", "2 hours")
    )
    res = windowed_cms_grid(stream, "1 hour", "user_id", _W18_D, _W18_W).select(
        F.col("w.start").alias("window_start"), "row", "bucket", "cnt"
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            res.writeStream.format("memory")
            .queryName("w18_cms_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w18 stream did not drain")
    grid = spark.table("w18_cms_mem")

    # read-side probe: candidates x drained windows, min over the d cells
    cands = (
        ev.select(F.col("user_id").cast("long").alias("key"))
        .filter(F.col("key") % 50 == 0)
        .distinct()
    )
    h = F.col("__h")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    (F.lit(PERM_A[j]) * (h % MERSENNE31) + F.lit(PERM_B[j]))
                    % MERSENNE31
                    % _W18_W
                ).alias("bucket"),
            )
            for j in range(_W18_D)
        ]
    )
    # the probe frame re-derives windows from the same drained grid the
    # left join reads (a self-join of the memory view) — project the
    # right side to fresh column names so the join condition never
    # references the same attribute from both sides
    probes = (
        cands.select("key", h60(F.col("key").cast("string")).alias("__h"))
        .select("key", F.explode(cells).alias("rb"))
        .select("key", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .crossJoin(grid.select("window_start").distinct())
    )
    g = grid.select(
        F.col("window_start").alias("g_ws"),
        F.col("row").alias("g_row"),
        F.col("bucket").alias("g_bucket"),
        F.col("cnt").alias("g_cnt"),
    )
    return (
        probes.join(
            F.broadcast(g),
            (F.col("window_start") == F.col("g_ws"))
            & (F.col("row") == F.col("g_row"))
            & (F.col("bucket") == F.col("g_bucket")),
            "left",
        )
        .groupBy("window_start", "key")
        .agg(
            F.min(F.coalesce(F.col("g_cnt"), F.lit(0)))
            .cast("long")
            .alias("est_cnt")
        )
        .orderBy("window_start", "key")
    )


def _w18_sql() -> str:
    from bioeco_portal_etl_spark.sketches import duck_h60
    from bioeco_portal_etl_spark.text.dedupe import MERSENNE31, PERM_A, PERM_B

    h = duck_h60("CAST(user_id AS VARCHAR)")
    hk = duck_h60("CAST(key AS VARCHAR)")
    build_rows = "\n  UNION ALL ".join(
        f"SELECT wstart, {j} AS row,"
        f" ({PERM_A[j]} * h + {PERM_B[j]}) % {MERSENNE31} % {_W18_W} AS bucket"
        f" FROM hashed"
        for j in range(_W18_D)
    )
    probe_rows = "\n  UNION ALL ".join(
        f"SELECT key, {j} AS row,"
        f" ({PERM_A[j]} * h + {PERM_B[j]}) % {MERSENNE31} % {_W18_W} AS bucket"
        f" FROM khashed"
        for j in range(_W18_D)
    )
    return f"""
WITH mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events),
complete AS (
  SELECT DISTINCT time_bucket(INTERVAL '1 hour', ts) AS wstart
  FROM events, mx
  WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm
),
hashed AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
         ({h}) % {MERSENNE31} AS h
  FROM events
  WHERE time_bucket(INTERVAL '1 hour', ts) IN (SELECT wstart FROM complete)
),
grid AS (
  SELECT wstart, row, bucket, count(*) AS cnt
  FROM ({build_rows}) GROUP BY wstart, row, bucket
),
cands AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS key FROM events
  WHERE user_id % 50 = 0
),
khashed AS (SELECT key, ({hk}) % {MERSENNE31} AS h FROM cands),
probes AS (
  SELECT p.key, p.row, p.bucket, c.wstart
  FROM ({probe_rows}) p CROSS JOIN complete c
)
SELECT p.wstart AS window_start, p.key,
       min(coalesce(g.cnt, 0))::BIGINT AS est_cnt
FROM probes p
LEFT JOIN grid g
  ON g.wstart = p.wstart AND g.row = p.row AND g.bucket = p.bucket
GROUP BY p.wstart, p.key
ORDER BY window_start, key"""


# ---------------------------------------------------------------------------
# w19 — LIVE native session_window sessionization
# ---------------------------------------------------------------------------


def w19_stream_native_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-managed streaming sessions (30 min gap) drained
    availableNow in append mode: a session emits once the 2 h watermark
    proves it closed, so the result equals batch session_window
    restricted to session_end <= max(ts) - 2h (exactly what the oracle
    computes, with the builtin's strict-< merge boundary)."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.windows import (
        native_session_counts,
    )

    T(spark, sf, "events")  # pins UTC session tz
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .withWatermark("ts", "2 hours")
    )
    res = native_session_counts(stream, "30 minutes", "user_id")
    with scoped_shuffle_partitions(spark, 8):
        q = (
            res.writeStream.format("memory")
            .queryName("w19_sess_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w19 stream did not drain")
    return spark.table("w19_sess_mem").orderBy(
        "session_start", "user_id"
    )


W19_SQL = """
WITH mx AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM events),
x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
y AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
),
s AS (
  SELECT min(ts) AS session_start,
         max(ts) + INTERVAL '30 minutes' AS session_end,
         user_id, count(*)::BIGINT AS n_events
  FROM y GROUP BY user_id, sid
)
SELECT session_start, session_end, user_id, n_events
FROM s, mx WHERE session_end <= wm
ORDER BY session_start, user_id"""


# ---------------------------------------------------------------------------
# w20 — LIVE streaming union of two sources + native dropDuplicates
# ---------------------------------------------------------------------------


def w20_stream_union_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    """Two overlapping document streams (doc_id < 300 and doc_id >= 200
    — the 200-299 region arrives on BOTH paths) unioned and collapsed
    with NATIVE streaming dropDuplicates on doc_id, drained with
    availableNow — the exactly-once multi-path ingest shape (a backfill
    path racing the live path). The oracle is the distinct union. State
    is one key per doc id; with an event-time watermark the store
    ages out — unbounded only for this drain-once harness."""
    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions

    T(spark, sf, "documents")  # pins session confs like the other readers
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    path = os.path.join(sf, "documents.parquet*")
    a = (
        spark.readStream.schema(schema)
        .parquet(path)
        .filter(F.col("doc_id") < 300)
    )
    b = (
        spark.readStream.schema(schema)
        .parquet(path)
        .filter(F.col("doc_id") >= 200)
    )
    merged = a.unionByName(b).select("doc_id", "lang")
    with scoped_shuffle_partitions(spark, 8):
        q = (
            merged.dropDuplicates(["doc_id"])
            .writeStream.format("memory")
            .queryName("w20_union_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover
            raise RuntimeError("w20 stream did not drain")
    return spark.table("w20_union_mem").orderBy("doc_id")


W20_SQL = """
SELECT DISTINCT doc_id, lang FROM documents
WHERE doc_id < 300 OR doc_id >= 200
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# w21 — streaming LOCF segments
# ---------------------------------------------------------------------------


def w21_stream_locf_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (streaming/locf.py): LOCF
    segmentation via applyInPandasWithState, drained availableNow into a
    memory sink. Emits every CLOSED segment; each user's final
    observation stays open in state — so the drained output is the batch
    lead()-segment table minus each user's last row, deterministic at
    any drain point."""
    import os

    from bioeco_portal_etl_spark.streaming import scoped_shuffle_partitions
    from bioeco_portal_etl_spark.streaming.locf import streaming_locf_segments

    T(spark, sf, "events")  # pins UTC session tz for the epoch math
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(os.path.join(sf, "events.parquet*"))
        .filter(F.col("user_id") < 80)
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            F.floor(F.col("value") * 10000.0).cast("long").alias("vq"),
        )
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            streaming_locf_segments(stream)
            .writeStream.format("memory")
            .queryName("w21_locf_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            ok = q.awaitTermination(300)
        finally:
            q.stop()
        if not ok:  # pragma: no cover - drain must finish within timeout
            raise RuntimeError("w21 stream did not drain")
    return spark.table("w21_locf_mem").orderBy(
        "user_id", "start_us", "dur_us", "vq"
    )


_W21_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         floor(value * 10000.0)::BIGINT AS vq
  FROM events WHERE user_id < 80
),
led AS (
  SELECT user_id, ts_us, vq,
         lead(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS next_us
  FROM e
)
SELECT user_id, ts_us AS start_us, (next_us - ts_us)::BIGINT AS dur_us, vq
FROM led WHERE next_us IS NOT NULL
ORDER BY user_id, start_us, dur_us, vq"""


CATALOG = {
    "w4_sessionize": (w4_sessionize, W4_SQL),
    "w5_streaming_sessions": (w5_streaming_sessions, W5_SQL),
    "w6_streaming_dedupe": (w6_streaming_dedupe, W6_SQL),
    "w7_stream_interval_join": (w7_stream_interval_join, W7_SQL),
    "w1_tumbling": (w1_tumbling, W1_SQL),
    "w2_sliding": (w2_sliding, W2_SQL),
    "w3_session": (w3_session, W3_SQL),
    "w8_streaming_anomaly": (w8_streaming_anomaly, W8_SQL),
    "w9_streaming_tumbling": (w9_streaming_tumbling, W9_SQL),
    "w10_streaming_update_counts": (w10_streaming_update_counts, W10_SQL),
    "w11_stream_static_enrich": (w11_stream_static_enrich, W11_SQL),
    "w12_stream_outer_join": (w12_stream_outer_join, W12_SQL),
    "w13_stream_two_level_agg": (w13_stream_two_level_agg, W13_SQL),
    "w14_stream_complete_topk": (w14_stream_complete_topk, W14_SQL),
    "w15_stream_cdc_upsert": (w15_stream_cdc_upsert, W15_SQL),
    "w16_stream_hll_distinct": (w16_stream_hll_distinct, _w16_sql()),
    "w17_stream_binned_quantiles": (w17_stream_binned_quantiles, _w17_sql()),
    "w18_stream_cms_topk": (w18_stream_cms_topk, _w18_sql()),
    "w19_stream_native_sessions": (w19_stream_native_sessions, W19_SQL),
    "w20_stream_union_dedupe": (w20_stream_union_dedupe, W20_SQL),
    "w21_stream_locf_segments": (w21_stream_locf_segments, _W21_SQL),
}

"""Event-time windowed aggregation — batch + Structured Streaming.

The reference has no streaming surface (SURVEY.md §2.11); this is the
extension path for the driver's ``events`` table. The SAME column expressions
drive both modes: ``tumbling_counts``/``sliding_counts``/``session_counts``
are plain DataFrame transforms, so a batch DataFrame gives the oracle-checked
answer and a streaming DataFrame (``read_event_stream`` + watermark) gives the
incremental one — the unified-API property Spark's execution model promises.

Scale notes: tumbling/sliding aggs shuffle on (window, key) with partial
aggregation; state store size is bounded by the watermark horizon. Sums use
DECIMAL so results are reassociation-exact (engine-portable, no float-sum
nondeterminism across partial aggregation orders).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _agg(grouped) -> DataFrame:
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    w = F.window("ts", width)
    return _agg(events.groupBy(w, "event_type")).select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_counts(
    events: DataFrame, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    w = F.window("ts", width, slide)
    return _agg(events.groupBy(w, "event_type")).select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user (session_window works in batch and
    streaming alike)."""
    w = F.session_window("ts", gap)
    return _agg(events.groupBy(w, "user_id")).select(
        F.col("session_window.start").alias("session_start"),
        "user_id",
        "n_events",
        "sum_value",
    )


def read_event_stream(spark: SparkSession, path: str, watermark: str = "2 hours") -> DataFrame:
    """File-source stream over an events directory (parquet, explicit schema —
    streaming sources must not infer), with an event-time watermark so windowed
    state is evictable and late data beyond the horizon is dropped."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(path)
        .withWatermark("ts", watermark)
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, mode: str = "complete"
):
    """Drain a (bounded) stream into an in-memory table with availableNow —
    the batch-equivalence test harness; swap sink/trigger for production."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def windowed_distinct_hll(
    events: DataFrame, window: str = "1 hour", value_col: str = "user_id"
) -> DataFrame:
    """Windowed distinct-count estimation for streams, sketch-state only:
    two CHAINED streaming aggregates — (window, bucket) -> max register,
    then window -> HLL estimate — so per-window state is at most m=64
    register rows instead of one row per distinct value. That bound is
    the whole point at scale: a billion distinct users in an hour cost
    the state store 64 rows, and late data folds in by max-merge (HLL
    union is idempotent/commutative — sketches/hll.py). The input must
    carry a watermark; in append mode a window drains once the watermark
    passes its end, same cascade semantics as the two-level rollup
    (catalog w13).

    Returns (window_start, est_distinct)."""
    from bioeco_portal_etl_spark.sketches.hll import ALPHA_M, M, _POW55, hll_registers

    keyed = events.select(
        F.window("ts", window).alias("w"), F.col(value_col)
    )
    regs = hll_registers(keyed, ["w"], value_col)
    # Second stateful agg re-windows the window column (same duration →
    # identity cascade) — the chained-streaming-agg form Spark's
    # unsupported-operation checker accepts, as in the w13 rollup.
    term = F.expr("shiftleft(1L, CAST(55 - register AS INT))")
    agg = regs.groupBy(F.window(F.col("w"), window).alias("wh")).agg(
        F.sum(term - F.lit(1 << 55)).alias("__delta")
    )
    s = F.col("__delta") + F.lit(M * (1 << 55))
    est = F.floor(F.lit(ALPHA_M * M * M) * F.lit(_POW55) / s).cast("long")
    return agg.select(
        F.col("wh.start").alias("window_start"), est.alias("est_distinct")
    )


def windowed_binned_quantiles(
    events: DataFrame,
    window: str = "1 hour",
    value_col: str = "value",
    bins: int = 16,
    lo_cents: int = 0,
    step_cents: int = 3200,
) -> DataFrame:
    """Windowed streaming quantiles with BOUNDED state: a fixed
    ``bins``-bucket equi-width histogram per window, folded by two
    chained streaming aggregates, then p50/p90 read off the cumulative
    bin counts in a stateless projection.

    Exact quantiles over a stream are impossible with bounded memory
    (you'd buffer every value); the standard production trade is a
    histogram/sketch with a known resolution bound — here the estimate
    is each quantile's BIN LOWER EDGE, so the error is at most one bin
    width and the state store holds <= ``bins`` rows per window no
    matter how many events arrive (same state-bounding move as the w16
    HLL distinct). Values are quantized to integer cents BEFORE binning
    (floor(value*100) — the x16/x17 convention) and every comparison is
    integer (2*cum >= n, 10*cum >= 9*n: ceil-rank without division), so
    a batch oracle reproduces the numbers bit-exactly.

    Stage shape: groupBy(window(ts), bin) count — the only per-event
    shuffle — then an identity re-window groupBy(window) folding the
    <= bins rows into one row of pivoted bin counts (the w13 chained-agg
    form), then pure projection. Returns (window_start, n, p50_bin,
    p50_est_cents, p90_bin, p90_est_cents)."""
    v = F.floor(F.col(value_col) * 100).cast("long")
    # floor() then cast — Spark's CAST(double AS LONG) truncates while
    # DuckDB's rounds; floor() is the one spelling both engines agree on
    bin_ = F.least(
        F.greatest(
            F.floor((v - F.lit(lo_cents)) / F.lit(step_cents)).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(bins - 1).cast("long"),
    )
    keyed = events.select(F.window("ts", window).alias("w"), bin_.alias("bin"))
    h = keyed.groupBy("w", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    piv = h.groupBy(F.window(F.col("w"), window).alias("wh")).agg(
        F.sum("cnt").alias("n"),
        *[
            F.sum(F.when(F.col("bin") == i, F.col("cnt")).otherwise(0)).alias(
                f"b{i}"
            )
            for i in range(bins)
        ],
    )

    def pick(mult_cum: int, mult_n: int) -> F.Column:
        expr = F.lit(bins - 1).cast("long")
        cum = None
        cums = []
        for i in range(bins):
            cum = F.col(f"b{i}") if cum is None else cum + F.col(f"b{i}")
            cums.append(cum)
        for i in range(bins - 1, -1, -1):
            expr = F.when(
                mult_cum * cums[i] - mult_n * F.col("n") >= 0, F.lit(i).cast("long")
            ).otherwise(expr)
        # scanning high→low with when() keeps the SMALLEST satisfying bin
        return expr

    p50 = pick(2, 1)
    p90 = pick(10, 9)
    return piv.select(
        F.col("wh.start").alias("window_start"),
        F.col("n"),
        p50.alias("p50_bin"),
        (F.lit(lo_cents) + p50 * F.lit(step_cents)).alias("p50_est_cents"),
        p90.alias("p90_bin"),
        (F.lit(lo_cents) + p90 * F.lit(step_cents)).alias("p90_est_cents"),
    )


def windowed_cms_grid(
    events: DataFrame,
    window: str = "1 hour",
    key_col: str = "user_id",
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Per-window Count-Min sketch maintenance for streams: the classic
    answer to "which keys are hot RIGHT NOW" when the key domain is too
    big to count exactly — per-key streaming counts keep one state row
    per distinct key per window (unbounded under skew/churn), while the
    CMS grid caps state at d*w counter rows per window (4*256 = 1 KB of
    longs) with the standard one-sided error bound.

    One stateless projection fans each event out to its d (row, bucket)
    cells (same md5-permutation family as sketches/cms.py — grids built
    here are bit-identical to batch cms_build on the same slice), then
    ONE stateful windowed aggregate maintains the counters; merging late
    data is plain addition, so watermarked append mode drains each
    window's final grid exactly once. Point estimates are a read-side
    min-over-d probe of the drained grid (see the w18 catalog entry).

    Returns (w, row, bucket, cnt) with ``w`` the window struct."""
    from bioeco_portal_etl_spark.sketches import h60
    from bioeco_portal_etl_spark.text.dedupe import MERSENNE31, PERM_A, PERM_B

    h = F.col("__h")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    (F.lit(PERM_A[j]) * (h % MERSENNE31) + F.lit(PERM_B[j]))
                    % MERSENNE31
                    % w
                ).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    keyed = (
        events.select(
            F.window("ts", window).alias("w"),
            h60(F.col(key_col).cast("string")).alias("__h"),
        )
        .select("w", F.explode(cells).alias("rb"))
        .select("w", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    )
    return keyed.groupBy("w", "row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def native_session_counts(
    events: DataFrame, gap: str = "30 minutes", key_col: str = "user_id"
) -> DataFrame:
    """Engine-managed streaming sessionization: the built-in
    ``session_window`` merges events closer than ``gap`` per key inside
    the state store — vs streaming/sessions_stream.py's
    applyInPandasWithState, which implements the same windows by hand
    for cross-watermark custom semantics. In watermarked append mode a
    session emits exactly once, when the watermark proves no more events
    can merge into it; the drained result equals the batch session_window
    restricted to session_end <= max(ts) - delay (pinned by the w19
    oracle). Boundary convention (matters for the mirror): an event
    exactly ``gap`` after the previous one starts a NEW session — the
    builtin merges on strict ``<``.

    Returns (session_start, session_end, key, n_events)."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("sw"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            F.col(key_col),
            "n_events",
        )
    )

"""Round-4 operators: sketches (KMV/CMS/HLL/Bloom), graph (PageRank /
triangles), robust stats, islands, priority sampling, rolling z-score.

The catalog oracle test already pins cross-engine exactness; these pin the
SEMANTIC guarantees (error bounds, one-sidedness, no-false-negatives,
conservation) and the plan shapes that make each safe at 100 TB."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark import catalog
from tests.conftest import SF_SMOKE


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# sketches
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k_and_bounded_error_above(spark):
    from bioeco_portal_etl_spark.sketches.kmv import kmv_distinct

    # 10 distinct < k: sketch must be exact
    small = spark.range(100).select((F.col("id") % 10).alias("v"), F.lit("g").alias("g"))
    [row] = kmv_distinct(small, ["g"], "v", k=64).collect()
    assert row["est_distinct"] == 10
    # 5000 distinct >> k=256: relative error within 5/sqrt(k-2)
    big = spark.range(5000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    [row] = kmv_distinct(big, ["g"], "v", k=256).collect()
    assert abs(row["est_distinct"] - 5000) / 5000 < 5 / (254**0.5)


def test_cms_overestimates_never_under(spark):
    rows = catalog.queries()["sk2_cms_heavy_hitters"](spark, SF_SMOKE).collect()
    assert rows and all(r["est_cnt"] >= r["true_cnt"] for r in rows)


def test_cms_grid_is_broadcast_and_build_combines_map_side(spark):
    df = catalog.queries()["sk2_cms_heavy_hitters"](spark, SF_SMOKE)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan  # grid join never shuffles the keys
    assert "partial_count" in plan  # grid build pre-combines map-side


def test_hll_error_within_3_sigma(spark):
    rows = catalog.queries()["sk3_hll_distinct"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # raw HLL, m=64 -> sigma ~ 1.04/8 = 13%; allow 3 sigma
        assert abs(r["est_distinct"] - r["true_distinct"]) <= 0.4 * r["true_distinct"] + 2


def test_bloom_no_false_negatives(spark):
    rows = catalog.queries()["sk4_bloom_gate"](spark, SF_SMOKE).collect()
    assert rows
    assert all(r["possibly_seen"] for r in rows if r["actually_seen"])


def test_bloom_word_table_is_bounded_and_broadcast(spark):
    from bioeco_portal_etl_spark.sketches.bloom_md5 import WORD_BITS, bloom_build_md5

    docs = spark.range(200).select(F.col("id").cast("string").alias("t"))
    bloom = bloom_build_md5(docs, "t", m_bits=8192, k=3)
    assert bloom.count() <= 8192 // WORD_BITS + 1
    plan = _physical(catalog.queries()["sk4_bloom_gate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# graph
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_uniform_on_symmetric_regular_graph(spark):
    from bioeco_portal_etl_spark.graph.pagerank import pagerank

    # 4-cycle, symmetric: every node must hold the same rank
    pairs = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2), (3, 0), (0, 3)]
    ranks = pagerank(_edges(spark, pairs), iterations=3, persist_edges=False).collect()
    vals = {r["pr_e9"] for r in ranks}
    assert len(vals) == 1 and len(ranks) == 4
    # total mass stays ~1.0 (truncation loses < 1e-9 * E * iters)
    assert abs(sum(r["pr_e9"] for r in ranks) - 1_000_000_000) < 100


def test_pagerank_hub_outranks_leaves(spark):
    from bioeco_portal_etl_spark.graph.pagerank import pagerank

    # star: leaves 1..5 <-> hub 0
    pairs = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    ranks = {
        r["node"]: r["pr_e9"]
        for r in pagerank(_edges(spark, pairs), iterations=3, persist_edges=False).collect()
    }
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0)


def test_triangles_known_graph(spark):
    from bioeco_portal_etl_spark.graph.triangles import triangle_stats

    # K4 has 4 triangles, 6 edges; add a pendant edge (4-5): still 4
    pairs = [(a, b) for a in range(4) for b in range(4) if a != b] + [(4, 5)]
    [row] = triangle_stats(_edges(spark, pairs)).collect()
    assert row["n_nodes"] == 6
    assert row["n_edges"] == 7
    assert row["n_triangles"] == 4


def test_triangles_no_false_positives_on_tree(spark):
    from bioeco_portal_etl_spark.graph.triangles import triangle_stats

    pairs = [(0, 1), (1, 2), (2, 3), (1, 4)]
    [row] = triangle_stats(_edges(spark, pairs)).collect()
    assert row["n_triangles"] == 0


# ---------------------------------------------------------------------------
# robust stats / islands / sampling / z-score
# ---------------------------------------------------------------------------


def test_median_mad_known_values(spark):
    from bioeco_portal_etl_spark.operators.robust import median_mad

    df = spark.createDataFrame(
        [("g", float(v), i) for i, v in enumerate([1, 2, 3, 4, 100])],
        "g string, v double, id long",
    )
    [row] = median_mad(df, ["g"], "v", "id").collect()
    assert row["median"] == 3.0  # robust to the 100 outlier
    assert row["mad"] == 1.0  # devs: 2,1,0,1,97 -> lower median 1
    assert row["n"] == 5


def test_islands_splits_on_value_change_not_time(spark):
    from bioeco_portal_etl_spark.operators.islands import islands

    rows = [
        (1, "a", 1, 10),
        (1, "a", 2, 11),
        (1, "b", 3, 12),
        (1, "a", 4, 13),
        (2, "a", 1, 14),
    ]
    df = spark.createDataFrame(rows, "user long, typ string, t long, id long")
    out = {
        (r["user"], r["typ"], r["run_start"]): r["n_rows"]
        for r in islands(df, ["user"], "typ", ["t", "id"]).collect()
    }
    assert out == {(1, "a", 1): 2, (1, "b", 3): 1, (1, "a", 4): 1, (2, "a", 1): 1}


def test_priority_sample_respects_weights(spark):
    from bioeco_portal_etl_spark.operators.sampling import priority_sample

    # 500 light (w=1) + 500 heavy (w=100) docs: a 50-doc sample should be
    # dominated by heavy docs (expected heavy share ~ 100/101)
    df = spark.range(1000).select(
        F.col("id"),
        F.lit("g").alias("g"),
        F.when(F.col("id") < 500, 1).otherwise(100).alias("w"),
    )
    picked = priority_sample(df, "g", "id", "w", k=50).collect()
    heavy = sum(1 for r in picked if r["id"] >= 500)
    assert len(picked) == 50 and heavy >= 45


def test_rolling_zscore_flags_planted_outlier(spark):
    from bioeco_portal_etl_spark.operators.timeseries import rolling_zscore

    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.0, 500.0, 10.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "user long, t long, v double"
    )
    out = rolling_zscore(df, ["user"], ["t"], "v", window_rows=10, min_rows=5)
    flagged = [r["t"] for r in out.filter(F.col("is_anomaly")).collect()]
    assert flagged == [7]  # only the planted 500.0 spike


def test_new_ops_have_no_python_udfs(spark):
    """Every round-4 catalog query stays JVM-side (no BatchEvalPython /
    ArrowEvalPython stages)."""
    for name in [
        "sk1_kmv_distinct", "sk2_cms_heavy_hitters", "sk3_hll_distinct",
        "sk4_bloom_gate", "gr1_pagerank", "gr2_triangles",
        "rel16_median_mad", "rel17_islands", "x12_weighted_sample",
        "x13_rolling_zscore", "tx12_vocab_growth",
    ]:
        plan = _physical(catalog.queries()[name](spark, SF_SMOKE))
        assert "EvalPython" not in plan, name


# ---------------------------------------------------------------------------
# batch 2: kmv set ops / interval merge / ewma / audio frames
# ---------------------------------------------------------------------------


def test_kmv_set_ops_exact_below_k(spark):
    from bioeco_portal_etl_spark.sketches.kmv import kmv_set_ops

    a = spark.range(0, 30).select(F.col("id").alias("v"))
    b = spark.range(20, 50).select(F.col("id").alias("v"))
    [row] = kmv_set_ops(a, b, "v", k=64).collect()
    # union 50 < k -> exact; intersection 10 of 50 -> exactly 10
    assert row["est_union"] == 50
    assert row["est_intersection"] == 10


def test_interval_merge_chains_and_touching(spark):
    from bioeco_portal_etl_spark.operators.intervals import merge_intervals

    rows = [
        # user 1: [0,10] + [5,20] overlap; [20,30] touches -> one chain
        (1, "2024-01-01 00:00:00", "2024-01-01 00:00:10", 1),
        (1, "2024-01-01 00:00:05", "2024-01-01 00:00:20", 2),
        (1, "2024-01-01 00:00:20", "2024-01-01 00:00:30", 3),
        # gap -> second chain
        (1, "2024-01-01 00:01:00", "2024-01-01 00:01:05", 4),
        (2, "2024-01-01 00:00:00", "2024-01-01 00:00:01", 5),
    ]
    df = spark.createDataFrame(
        rows, "u long, s string, e string, id long"
    ).select(
        "u",
        F.to_timestamp("s").alias("s"),
        F.to_timestamp("e").alias("e"),
        "id",
    )
    out = merge_intervals(df, ["u"], "s", "e", "id").orderBy("u", "merge_start")
    got = [(r["u"], r["n_intervals"]) for r in out.collect()]
    assert got == [(1, 3), (1, 1), (2, 1)]


def test_ewma_known_trajectory(spark):
    from bioeco_portal_etl_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, f"2024-01-01 00:00:0{i}", i, float(v)) for i, v in enumerate([4, 8, 0])],
        "u long, ts string, id long, v double",
    ).select("u", F.to_timestamp("ts").alias("ts"), "id", "v")
    out = ewma(df, "u", "ts", "id", "v", alpha_shift=2).orderBy("event_id").collect()
    # e4: s0=40000; s1=40000+(80000-40000)//4=50000; s2=50000+(0-50000)//4=37500
    assert [r["ewma_e4"] for r in out] == [40000, 50000, 37500]


def test_audio_frames_known_payload(spark):
    from bioeco_portal_etl_spark.multimodal.media import audio_frame_features

    media = spark.createDataFrame(
        [(1, bytes([64] * 32 + [66] * 5))], "media_id long, payload binary"
    )
    out = audio_frame_features(media, frame_bytes=32, max_frames=4).orderBy(
        "frame_idx"
    ).collect()
    assert [(r["frame_idx"], r["n_samples"], r["energy"], r["peak"]) for r in out] == [
        (0, 32, 0, 0),  # flat frame at the center -> zero energy
        (1, 5, 20, 2),  # 5 samples of dev 2 -> 5*4
    ]


def test_audio_decode_seam_real_codec(spark):
    """The decode_fn seam: a real (non-identity) codec decoding s16le
    little-endian PCM through the same Arrow path."""
    import struct

    from bioeco_portal_etl_spark.multimodal.media import audio_frame_features

    def s16le(payload: bytes):
        n = len(payload) // 2
        return [s // 256 + 64 for s in struct.unpack(f"<{n}h", payload[: 2 * n])]

    pcm = struct.pack("<4h", 0, 256, -256, 512)
    media = spark.createDataFrame([(7, pcm)], "media_id long, payload binary")
    [row] = audio_frame_features(
        media, frame_bytes=4, max_frames=1, decode_fn=s16le
    ).collect()
    # samples -> [64, 65, 63, 66]; dev [0,1,-1,2]
    assert (row["n_samples"], row["energy"], row["peak"]) == (4, 6, 2)


# ---------------------------------------------------------------------------
# batch 3: funnel / temporal split / bigram LM
# ---------------------------------------------------------------------------


def test_funnel_requires_order(spark):
    from bioeco_portal_etl_spark.operators.funnel import funnel_steps

    rows = [
        # user 1 completes a->b->c in order
        (1, "2024-01-01 00:00:01", "a"),
        (1, "2024-01-01 00:00:02", "b"),
        (1, "2024-01-01 00:00:03", "c"),
        # user 2 has all three but c BEFORE b: funnel stalls at step 2
        (2, "2024-01-01 00:00:01", "a"),
        (2, "2024-01-01 00:00:02", "c"),
        (2, "2024-01-01 00:00:03", "b"),
        # user 3 never signs up: step 0 even with later events
        (3, "2024-01-01 00:00:01", "b"),
        (3, "2024-01-01 00:00:02", "c"),
    ]
    df = spark.createDataFrame(rows, "u long, ts string, t string").select(
        "u", F.to_timestamp("ts").alias("ts"), "t"
    )
    out = {
        r["user"]: r["steps_completed"]
        for r in funnel_steps(df, "u", "ts", "t", ["a", "b", "c"]).collect()
    }
    assert out == {1: 3, 2: 2, 3: 0}


def test_temporal_split_is_suffix_and_sized(spark):
    from bioeco_portal_etl_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [(1, i, i) for i in range(10)] + [(2, i, i + 100) for i in range(4)],
        "u long, t long, id long",
    )
    out = temporal_split(df, "u", "t", "id", test_pct=20).collect()
    test_rows = {(r["u"], r["t"]) for r in out if r["split"] == "test"}
    # user 1: 10 rows -> last 2 are test; user 2: 4 rows -> (4*20)//100 = 0
    assert test_rows == {(1, 8), (1, 9)}


def test_bigram_lm_boilerplate_scores_higher(spark):
    from bioeco_portal_etl_spark.text.lm import bigram_lm_scores

    rows = [(i, "the cat sat on the mat") for i in range(9)] + [
        (99, "zephyr quixotic umbrage flotsam")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_lp_e4"] for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    # the repeated template's transitions dominate the corpus -> higher
    # (less negative) average log-prob than the rare-transition doc
    assert out[0] > out[99]


# ---------------------------------------------------------------------------
# batch 4: k-hop BFS / rolling distinct / readability
# ---------------------------------------------------------------------------


def test_khop_reach_distances_and_bound(spark):
    from bioeco_portal_etl_spark.graph.bfs import khop_reach

    # path 0-1-2-3-4-5, seed {0}: dist = index, cut at k=3
    pairs = [(i, i + 1) for i in range(5)] + [(i + 1, i) for i in range(5)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {
        r["node"]: r["dist"]
        for r in khop_reach(edges, seeds, k=3, persist_edges=False).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_khop_multiple_seeds_take_min(spark):
    from bioeco_portal_etl_spark.graph.bfs import khop_reach

    pairs = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    out = {
        r["node"]: r["dist"]
        for r in khop_reach(edges, seeds, k=2, persist_edges=False).collect()
    }
    assert out == {0: 0, 3: 0, 1: 1, 2: 1}


def test_rolling_distinct_counts(spark):
    df = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(["a", "a", "b", "c", "b"])],
        "user_id long, event_id long, event_type string",
    ).withColumn("ts", F.col("event_id").cast("timestamp"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    out = [
        r["n"]
        for r in df.select(
            F.size(F.array_distinct(F.collect_list("event_type").over(w))).alias("n")
        ).collect()
    ]
    assert out == [1, 1, 2, 3, 2]  # last window [b,c,b] -> 2


def test_readability_orders_simple_vs_dense(spark):
    rows = [
        (1, "The cat sat. The dog ran. It was fun."),
        (2, "Extraordinarily sophisticated considerations necessitate comprehensive organizational restructuring."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import bioeco_portal_etl_spark.catalog_text as c2

    # reuse the catalog expression by registering a temp doc table path is
    # heavier than recomputing; assert via the public query on a temp dir
    import os, tempfile

    with tempfile.TemporaryDirectory() as td:
        # single-file parquet: read_parquet_table probes the footer with
        # pyarrow, which wants a file, not a Spark part-file directory
        df.toPandas().to_parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["doc_id"]: r["flesch_e2"]
            for r in c2.tx14_readability(spark, td).collect()
        }
    assert out[1] > out[2]  # short words/sentences read easier


def test_streaming_zscore_state_spans_triggers(spark, tmp_path):
    """Cross-batch contract: the ring buffer persists in the state store,
    so an outlier in batch 2 is judged against baseline values from batch
    1 — with maxFilesPerTrigger=1 forcing separate triggers, the result
    still equals the batch operator over the in-order concatenation."""
    import pandas as pd

    from bioeco_portal_etl_spark.streaming.anomaly import streaming_zscore

    base = [(1, i, i, 10.0 + (i % 3)) for i in range(8)]  # t == event_id
    spike = [(1, 100 + j, 100 + j, v) for j, v in enumerate([400.0, 11.0])]
    d = tmp_path / "stream"
    d.mkdir()
    pd.DataFrame(base, columns=["user_id", "t", "event_id", "value"]).to_parquet(
        d / "a.parquet"
    )
    pd.DataFrame(spike, columns=["user_id", "t", "event_id", "value"]).to_parquet(
        d / "b.parquet"
    )
    stream = (
        spark.readStream.schema("user_id long, t long, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        streaming_zscore(stream, window_rows=10, min_rows=5)
        .writeStream.format("memory")
        .queryName("w8_test_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.table("w8_test_mem").collect()
    assert [r["event_id"] for r in rows] == [100]  # only the 400.0 spike
    assert rows[0]["z_e4"] > 25000

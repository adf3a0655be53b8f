#!/usr/bin/env python
"""Scale probe: time representative operators at 1x and Nx sf0.1 (the Nx
input is the same parquet unioned N times with perturbed keys — no extra
storage; row counts scale, key cardinalities scale, value distributions
hold). A near-linear ratio (≈N on a fixed-core box) means no superlinear
cliff — the shuffle/agg strategy survives the scale-up; superlinear growth
flags an operator to redesign BEFORE it meets 100 TB.

Usage: python scripts/scale_probe.py [N]   (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark import StorageLevel  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from bioeco_portal_etl_spark.session import get_spark  # noqa: E402
from bioeco_portal_etl_spark.sources.files import read_parquet_table  # noqa: E402
from bioeco_portal_etl_spark.operators.asof import asof_join  # noqa: E402
from bioeco_portal_etl_spark.operators.sampling import (  # noqa: E402
    stratified_hash_split,
)
from bioeco_portal_etl_spark.text.decontam import ngram_overlap_pairs  # noqa: E402
from bioeco_portal_etl_spark.text.dedupe import (  # noqa: E402
    minhash_lsh_pairs,
    segment_dedupe,
)
from bioeco_portal_etl_spark.functions.urls import canonicalize_urls  # noqa: E402
from bioeco_portal_etl_spark.geo.pip import (  # noqa: E402
    point_in_polygon_join,
    point_in_polygon_join_grid,
)
from bioeco_portal_etl_spark.operators.cdc import snapshot_diff  # noqa: E402
from bioeco_portal_etl_spark.operators.quality import fd_audit  # noqa: E402
from bioeco_portal_etl_spark.graph.hyperball import hyperball_neighborhood  # noqa: E402
from bioeco_portal_etl_spark.graph.pagerank import personalized_pagerank  # noqa: E402
from bioeco_portal_etl_spark.graph.sssp import sssp_bounded  # noqa: E402
from bioeco_portal_etl_spark.operators.anonymity import l_diversity_audit  # noqa: E402
from bioeco_portal_etl_spark.operators.basket import association_rules  # noqa: E402
from bioeco_portal_etl_spark.operators.funnel import window_funnel  # noqa: E402
from bioeco_portal_etl_spark.operators.rangepart import (  # noqa: E402
    range_assignment_audit,
    range_boundaries,
)
from bioeco_portal_etl_spark.similarity.ivf import ivf_topk  # noqa: E402
from bioeco_portal_etl_spark.graph.linkpred import adamic_adar  # noqa: E402
from bioeco_portal_etl_spark.text.novelty import ngram_novelty  # noqa: E402
from bioeco_portal_etl_spark.text.burst import term_burstiness  # noqa: E402
from bioeco_portal_etl_spark.operators.concurrency import max_concurrency  # noqa: E402
from bioeco_portal_etl_spark.operators.bitmapidx import bitmap_suitability  # noqa: E402
from bioeco_portal_etl_spark.text.dedupe import shard_dup_locality  # noqa: E402
from bioeco_portal_etl_spark.graph.richclub import rich_club  # noqa: E402
from bioeco_portal_etl_spark.graph.modularity import community_modularity  # noqa: E402
from bioeco_portal_etl_spark.similarity.centroids import label_centroid_drift  # noqa: E402
from bioeco_portal_etl_spark.operators.quality import key_discovery  # noqa: E402
from bioeco_portal_etl_spark.operators.ndv import ndv_estimate_audit  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import attach_payload, scene_cuts  # noqa: E402
from bioeco_portal_etl_spark.sketches.histq import binned_histogram, hist_quantiles  # noqa: E402
from bioeco_portal_etl_spark.similarity.pq import pq_encode  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import frame_motion  # noqa: E402
from bioeco_portal_etl_spark.graph.triangles import edge_support  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import wav_clip_stats  # noqa: E402
from bioeco_portal_etl_spark.sketches.cms import cms_build, cms_estimate  # noqa: E402
from bioeco_portal_etl_spark.similarity.knn import cosine_topk  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import channel_correlation  # noqa: E402


def _union_all(frames):
    out = None
    for f in frames:
        out = f if out is None else out.unionByName(f)
    return out

from bioeco_portal_etl_spark.operators.stats import weighted_median  # noqa: E402
from bioeco_portal_etl_spark.operators.joinstats import join_card_audit  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import wav_gain_normalization  # noqa: E402
from bioeco_portal_etl_spark.text.analysis import language_id  # noqa: E402
from bioeco_portal_etl_spark.similarity.matryoshka import prefix_recall_at_k  # noqa: E402
from bioeco_portal_etl_spark.sketches.minhash_merge import group_minhash_similarity  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import jpeg_blockiness  # noqa: E402
from bioeco_portal_etl_spark.operators.quality import duplicate_burden  # noqa: E402
from bioeco_portal_etl_spark.operators.skyline import skyline_2d  # noqa: E402
from bioeco_portal_etl_spark.graph.triangles import local_clustering  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import image_histogram_stats  # noqa: E402
from bioeco_portal_etl_spark.text.nucleus import nucleus_coverage  # noqa: E402
from bioeco_portal_etl_spark.similarity.centroids import label_centroid_stats  # noqa: E402
from bioeco_portal_etl_spark.operators.balance import split_balance  # noqa: E402
from bioeco_portal_etl_spark.operators.sampling import hash_bucket  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import (  # noqa: E402
    png_channel_stats,
    synth_gray_jpeg,
    synth_pcm_wav,
    synth_rgb_jpeg,
    wav_trim_bounds,
)
from bioeco_portal_etl_spark.text.feature_hash import collision_audit  # noqa: E402
from bioeco_portal_etl_spark.operators.abtest import ab_test_report  # noqa: E402
from bioeco_portal_etl_spark.operators.quality import expectation_suite  # noqa: E402
from bioeco_portal_etl_spark.text.zipf import zipf_fit  # noqa: E402
from bioeco_portal_etl_spark.graph.degrees import degree_assortativity  # noqa: E402
from bioeco_portal_etl_spark.operators.sharding import (  # noqa: E402
    hash_ring,
    resharding_report,
)
from bioeco_portal_etl_spark.operators.hierarchy import bom_rollup  # noqa: E402
from bioeco_portal_etl_spark.operators.timeseries import time_weighted_avg  # noqa: E402
from bioeco_portal_etl_spark.text.doccosine import (  # noqa: E402
    doc_cosine2_pairs,
    term_counts,
)
from bioeco_portal_etl_spark.operators.selectivity import (  # noqa: E402
    grid_histogram_2d,
    selectivity_bounds,
)
from bioeco_portal_etl_spark.operators.zonemap import (  # noqa: E402
    skip_report,
    zone_maps,
)
from bioeco_portal_etl_spark.text.textrank import (  # noqa: E402
    cooccurrence_edges,
    textrank_keywords,
)
from bioeco_portal_etl_spark.functions.variant import shred_variant  # noqa: E402
from bioeco_portal_etl_spark.similarity.sq import sq_distortion  # noqa: E402
from bioeco_portal_etl_spark.text.ngram_coverage import ngram_coverage  # noqa: E402
from bioeco_portal_etl_spark.sketches.hll import (  # noqa: E402
    hll_estimate,
    hll_registers,
    merge_registers,
)
from bioeco_portal_etl_spark.text.dsir import dsir_weights  # noqa: E402
from bioeco_portal_etl_spark.text.gopher import gopher_flags  # noqa: E402
from bioeco_portal_etl_spark.operators.sessions import session_stats  # noqa: E402
from bioeco_portal_etl_spark.text.lm import unigram_lm_scores  # noqa: E402
from bioeco_portal_etl_spark.sketches.kmv import kmv_distinct  # noqa: E402
from bioeco_portal_etl_spark.sketches.cms import cms_build  # noqa: E402
from bioeco_portal_etl_spark.sketches.hll import hll_estimate, hll_registers  # noqa: E402
from bioeco_portal_etl_spark.graph.pagerank import pagerank  # noqa: E402
from bioeco_portal_etl_spark.graph.triangles import triangle_stats  # noqa: E402
from bioeco_portal_etl_spark.operators.timeseries import rolling_zscore  # noqa: E402
from bioeco_portal_etl_spark.operators.sampling import priority_sample  # noqa: E402
from bioeco_portal_etl_spark.text.analysis import vocab_growth  # noqa: E402
from bioeco_portal_etl_spark.operators.attribution import (  # noqa: E402
    attribute_conversions,
)
from bioeco_portal_etl_spark.operators.stats import winsorize_stats  # noqa: E402
from bioeco_portal_etl_spark.operators.resample import resample_interpolate  # noqa: E402
from bioeco_portal_etl_spark.operators.timeseries import ewma  # noqa: E402
from bioeco_portal_etl_spark.text.bpe import bpe_rounds  # noqa: E402
from bioeco_portal_etl_spark.similarity.semantic_dedupe import (  # noqa: E402
    semantic_dedupe_assigned,
)
from bioeco_portal_etl_spark.operators.zorder import (  # noqa: E402
    quantize,
    z_bucket_profile,
)
from bioeco_portal_etl_spark.operators.benford import benford_audit  # noqa: E402
from bioeco_portal_etl_spark.multimodal.media import synth_rgb_png  # noqa: E402
from bioeco_portal_etl_spark.multimodal.phash import (  # noqa: E402
    ahash,
    phash_dup_groups,
)
from bioeco_portal_etl_spark.streaming.joins import interval_join_outer  # noqa: E402
from bioeco_portal_etl_spark.text.bm25 import bm25_topk  # noqa: E402
from bioeco_portal_etl_spark.graph.labelprop import label_propagation  # noqa: E402
from bioeco_portal_etl_spark.catalog_analytics import (  # noqa: E402
    exact_quantiles_frame,
    ks_test_frame,
    poisson_bootstrap_frame,
)
from bioeco_portal_etl_spark.catalog_ann import dim_covariance_frame  # noqa: E402
from bioeco_portal_etl_spark.catalog_dedup import (  # noqa: E402
    minhash_error_sweep_frame,
    truncation_dupes_frame,
)
from bioeco_portal_etl_spark.catalog_graph import (  # noqa: E402
    assortativity_frame,
    degree_inequality_frame,
)
from bioeco_portal_etl_spark.catalog_rel import time_weighted_avg_frame  # noqa: E402
from bioeco_portal_etl_spark.catalog_text import (  # noqa: E402
    js_divergence_frame,
    rank_stability_frame,
)
from bioeco_portal_etl_spark.graph.kcore import kcore  # noqa: E402
from bioeco_portal_etl_spark.operators.drift import profile_drift  # noqa: E402
from bioeco_portal_etl_spark.operators.skew import salted_join  # noqa: E402
from bioeco_portal_etl_spark.operators.heavyhitters import (  # noqa: E402
    certified_heavy_hitters,
)
from bioeco_portal_etl_spark.operators.bloomjoin import (  # noqa: E402
    bloom_filtered_join,
)
from bioeco_portal_etl_spark.operators.lateness import lateness_audit  # noqa: E402
from bioeco_portal_etl_spark.text.bpe import (  # noqa: E402
    apply_merge,
    pair_counts,
    top_merge,
    with_spaced,
    word_frequencies,
)
from bioeco_portal_etl_spark.text.tokenize import tokens  # noqa: E402
from bioeco_portal_etl_spark.operators.sampling import (  # noqa: E402
    epoch_shuffle,
    epoch_shuffle_audit,
)
from bioeco_portal_etl_spark.operators.compaction import compaction_plan  # noqa: E402
from bioeco_portal_etl_spark.text.blocklist import blocklist_hits  # noqa: E402
from bioeco_portal_etl_spark.operators.timeseries import rolling_slope  # noqa: E402
from bioeco_portal_etl_spark.graph.hits import hits  # noqa: E402
from bioeco_portal_etl_spark.text.rake import rake_keywords  # noqa: E402
from bioeco_portal_etl_spark.similarity.knn import cosine_range_search  # noqa: E402
from bioeco_portal_etl_spark.operators.cdc import net_effect  # noqa: E402
from bioeco_portal_etl_spark.text.analysis import (  # noqa: E402
    pmi_bigrams,
    postings_table,
    token_entropy_table,
)
from bioeco_portal_etl_spark.graph.similarity import node_jaccard  # noqa: E402
from bioeco_portal_etl_spark.graph.cc import connected_components  # noqa: E402
from bioeco_portal_etl_spark.operators.leakage import split_leakage  # noqa: E402
from bioeco_portal_etl_spark.operators.sampling import hash_split  # noqa: E402
from bioeco_portal_etl_spark.operators.incremental import (  # noqa: E402
    merge_aggs,
    partial_agg,
)
from bioeco_portal_etl_spark.operators.stats import equi_depth_bins  # noqa: E402
from bioeco_portal_etl_spark.text.dedupe import (  # noqa: E402
    containment_pairs,
    exact_dedupe,
)
from bioeco_portal_etl_spark.operators.drift import psi_drift  # noqa: E402
from bioeco_portal_etl_spark.operators.anonymity import (  # noqa: E402
    k_anonymity_audit,
)
from bioeco_portal_etl_spark.similarity.sq import sq8_topk  # noqa: E402
from bioeco_portal_etl_spark.operators.scd import scd2_history  # noqa: E402
from bioeco_portal_etl_spark.text.winnow import winnow_fingerprints  # noqa: E402


def _exact_canonical(d):
    """Exact-dup pre-collapse: keep one doc per content hash (the step a
    curation pipeline always runs before any near-dup stage)."""
    keep = exact_dedupe(d, "doc_id", "text").filter(~F.col("is_duplicate"))
    return d.join(keep.select("doc_id"), "doc_id")

SF_DIR = "/root/testdata/sf0.1"


def scaled_cross(df, n, key_cols):
    """n-fold replication via ONE broadcast cross join with a replica
    index (same key-shift semantics as :func:`scaled`). Used for the
    100x ladder: a 100-branch union would make Catalyst analyze 100
    identical scan subtrees and re-open the parquet 100 times per stage,
    measuring plan overhead instead of operator scaling.

    The input is repartitioned BEFORE the replication join. Round-7
    finding: without it, a base frame whose lineage is broadcast-joins
    over a single-split parquet file (sf0.1 tables are one file each)
    has ONE partition, so the n-fold expansion + the first partial
    aggregate after it ran as ONE task (measured: a 100x modularity
    probe pinned one core for >20 min in that single task while 31 sat
    idle). Production tables have thousands of splits, so a 100x probe
    serialized by local file granularity measures the harness, not the
    operator; the cheap pre-expansion shuffle (the 1x row count) restores
    the parallelism the operator would see on a real layout."""
    rep = F.broadcast(
        df.sparkSession.range(n).select(F.col("id").alias("__rep"))
    )
    out = df.repartition(32).crossJoin(rep)
    for k in key_cols:
        out = out.withColumn(
            k, F.col(k) + F.col("__rep") * F.lit(1_000_000_000)
        )
    return out.drop("__rep")


def scaled(df, n, key_cols):
    """Union n copies with shifted keys so group/join cardinality scales too.

    n > 10 delegates to :func:`scaled_cross` — the 10x SCALING.md rows
    were measured with the union shape and stay comparable; the 100x
    ladder needs the single-plan-node shape."""
    if n > 10:
        return scaled_cross(df, n, key_cols)
    out = None
    for i in range(n):
        part = df
        for k in key_cols:
            part = part.withColumn(k, F.col(k) + F.lit(i * 1_000_000_000))
        out = part if out is None else out.unionByName(part)
    return out


def main() -> None:
    # usage: scale_probe.py [N] [case-substring ...] — with substrings,
    # probe only matching cases (targeted re-runs of a flagged operator)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2:]
    # Big-N ladders need data-proportional shuffle partitioning: at 100x
    # the default 32 partitions put ~30M rows in each hash-aggregate task
    # and 32 concurrent tasks exhaust the unified region (two measured
    # SparkOutOfMemoryError runs) — exactly why production submits scale
    # spark.sql.shuffle.partitions with data volume (session.py note).
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0")) or (
        256 if n > 10 else None
    )
    spark = get_spark(app_name="scale-probe", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")

    li = read_parquet_table(spark, SF_DIR, "lineitem")
    orders = read_parquet_table(spark, SF_DIR, "orders")
    parts = read_parquet_table(spark, SF_DIR, "part")
    docs = read_parquet_table(spark, SF_DIR, "documents")
    events = read_parquet_table(spark, SF_DIR, "events")
    embeddings = read_parquet_table(spark, SF_DIR, "embeddings")
    supplier = read_parquet_table(spark, SF_DIR, "supplier")

    def q1(df):
        return (
            df.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1)))
        )

    def _coorder():
        li1 = li.filter(F.col("l_orderkey") % 100 == 0)
        src1 = li1.select("l_orderkey", "l_suppkey")
        a, b = src1.alias("a"), src1.alias("b")
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
            .select(
                F.col("a.l_suppkey").alias("src"),
                F.col("b.l_suppkey").alias("dst"),
            )
        )

    def _coact():
        o = orders.select("o_custkey", "o_orderdate")
        a, b = o.alias("a"), o.alias("b")
        return (
            a.join(b, "o_orderdate")
            .filter(F.col("a.o_custkey") != F.col("b.o_custkey"))
            .select(
                F.col("a.o_custkey").alias("src"),
                F.col("b.o_custkey").alias("dst"),
            )
        )

    def join_agg(li_df, o_df):
        return (
            li_df.join(o_df, li_df.l_orderkey == o_df.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        )

    def asof_case(s):
        e = events if s == 1 else scaled(events, s, ["user_id"])
        errors = e.filter(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        clicks = e.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        return asof_join(errors, clicks, "user_id", "ts", "ts", ["value"])

    def cdc_case(s):
        c = read_parquet_table(spark, SF_DIR, "customer")
        old = c if s == 1 else scaled(c, s, ["c_custkey"])
        k = F.col("c_custkey")
        new = old.filter(k % 97 != 0).select(
            k.alias("c_custkey"),
            "c_name",
            F.when(k % 13 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        return snapshot_diff(
            old.select("c_custkey", "c_name", "c_acctbal"),
            new,
            ["c_custkey"],
            ["c_name", "c_acctbal"],
        )

    def url_case(s):
        d = docs if s == 1 else scaled(docs, s, ["doc_id"])
        k = F.col("doc_id")
        url = F.concat(
            F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM"),
            F.lit("/a//"), (k % 1000).cast("string"),
            F.when(k % 2 == 0, F.lit("?utm_source=x&b=2&a=1")).otherwise(F.lit("")),
        )
        with_url = d.select("doc_id", url.alias("__url"))
        return (
            canonicalize_urls(with_url, F.col("__url"), keep=["doc_id"])
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep"))
        )

    def pip_case(s, grid=False):
        c = read_parquet_table(spark, SF_DIR, "customer")
        pts_src = c if s == 1 else scaled(c, s, ["c_custkey"])
        pts = pts_src.select(
            "c_custkey",
            (F.pmod(F.col("c_custkey") * 7, F.lit(1000)) / 10.0).alias("x"),
            (F.pmod(F.col("c_custkey") * 13, F.lit(1000)) / 10.0).alias("y"),
        )
        g = spark.range(25)
        cx = (F.col("id") / 5).cast("long").cast("double") * 20 + 10
        cy = (F.col("id") % 5).cast("double") * 20 + 10
        polys = g.select(
            F.col("id").alias("poly_id"),
            F.array(cx - 8, cx, cx + 8, cx).alias("xs"),
            F.array(cy, cy + 8, cy, cy - 8).alias("ys"),
        )
        if grid:
            return point_in_polygon_join_grid(pts, polys, "x", "y", cell_size=10.0)
        return point_in_polygon_join(pts, polys, "x", "y")

    def co_edges(s, order_mod=1):
        base = li if s == 1 else scaled(li, s, ["l_orderkey", "l_suppkey"])
        if order_mod > 1:
            base = base.filter(F.col("l_orderkey") % order_mod == 0)
        src = base.select("l_orderkey", "l_suppkey")
        a, b = src.alias("a"), src.alias("b")
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
            .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        )


    def chain_edges(s):
        base = li if s == 1 else scaled(li, s, ["l_orderkey", "l_suppkey"])
        a, b = base.alias("a"), base.alias("b")
        fwd = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_linenumber") + 1 == F.col("b.l_linenumber"))
                & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
            )
            .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        )
        return fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    cases = {
        "scan_agg_q1": (lambda s: q1(li if s == 1 else scaled(li, s, ["l_orderkey"]))),
        "join_agg": (
            lambda s: join_agg(
                li if s == 1 else scaled(li, s, ["l_orderkey"]),
                orders if s == 1 else scaled(orders, s, ["o_orderkey"]),
            )
        ),
        "asof_join": asof_case,
        "minhash_lsh": (
            lambda s: minhash_lsh_pairs(
                docs if s == 1 else scaled(docs, s, ["doc_id"]), "doc_id", "text"
            )
        ),
        # IVF ANN: corpus scales, query set and cell count stay FIXED
        # (the serving shape) — assignment is corpus x ncells dot
        # products and the probe join fans out nprobe/ncells of the
        # corpus per query, both exactly linear in corpus size
        "ivf_topk": (
            lambda s: (
                lambda emb: ivf_topk(
                    emb,
                    embeddings.filter(F.col("vec_id") < 10),
                    embeddings.filter(F.col("vec_id") < 8),
                    "embedding",
                    "vec_id",
                    k=5,
                    nprobe=2,
                )
            )(
                embeddings
                if s == 1
                else scaled(embeddings, s, ["vec_id"])
            )
        ),
        # benchmark stays FIXED while the corpus scales — the realistic
        # decontamination shape (broadcast side must not grow with data)
        "decontam": (
            lambda s: ngram_overlap_pairs(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                docs.filter(F.col("doc_id") < 50),
                "doc_id",
                "text",
            )
        ),
        # keys shift but text does NOT -> duplicate-segment rate rises with
        # s, stressing the canonical-owner agg's map-side combine exactly
        # the way boilerplate does at scale
        "segment_dedupe": (
            lambda s: segment_dedupe(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                sep=" the ",
            )
        ),
        "stratified_split": (
            lambda s: stratified_hash_split(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "lang",
                {"en": 0.95},
            )
        ),
        # both snapshots scale; churn rate is constant so output scales too
        "snapshot_diff": (lambda s: cdc_case(s)),
        # canonicalize + dedupe: url variants scale with docs
        "url_dedupe": (lambda s: url_case(s)),
        # points scale against a FIXED broadcast polygon set (the realistic
        # shape: admin regions don't grow with observation count)
        "point_in_polygon": (lambda s: pip_case(s)),
        # grid tier: same fixture, shuffled cell equi-join instead of the
        # broadcast bbox theta-join — candidate count is grid-pruned, so
        # the ratio should hold or improve on the broadcast tier's
        "pip_grid": (lambda s: pip_case(s, grid=True)),
        # vocab is Heaps-bounded: scaling docs grows the corpus, not the
        # broadcast side
        "unigram_lm": (
            lambda s: unigram_lm_scores(
                docs if s == 1 else scaled(docs, s, ["doc_id"]), "doc_id", "text"
            )
        ),
        "sessionize": (
            lambda s: session_stats(
                events if s == 1 else scaled(events, s, ["user_id"]),
                "user_id", "ts", "event_id",
            )
        ),
        # sketch state is CONSTANT per group (k hashes / d*w grid / m
        # registers) — the probe verifies the build cost is the scan, not
        # the state
        "kmv_sketch": (
            lambda s: kmv_distinct(
                orders if s == 1 else scaled(orders, s, ["o_custkey"]),
                ["o_orderpriority"], "o_custkey", k=64,
            )
        ),
        "cms_sketch": (
            lambda s: cms_build(
                li if s == 1 else scaled(li, s, ["l_suppkey"]), "l_suppkey"
            )
        ),
        "hll_sketch": (
            lambda s: hll_estimate(
                hll_registers(
                    li if s == 1 else scaled(li, s, ["l_partkey"]),
                    ["l_returnflag"], "l_partkey",
                ),
                ["l_returnflag"],
            )
        ),
        # graph ops: node/edge count scales with s (shifted suppkeys make
        # disjoint co-order components), so both sides of the ratio grow
        "pagerank": (lambda s: pagerank(co_edges(s), iterations=3)),
        # 1%-order slice, same as the catalog fixture: the synthetic
        # co-order graph is near-complete, and unsliced triangle counting
        # measures the generator's density (Θ(E^{3/2})), not the plan
        "triangles": (lambda s: triangle_stats(co_edges(s, order_mod=100))),
        # one-exchange window families
        "rolling_zscore": (
            lambda s: rolling_zscore(
                events if s == 1 else scaled(events, s, ["user_id"]),
                ["user_id"], ["ts", "event_id"], "value",
            )
        ),
        "priority_sample": (
            lambda s: priority_sample(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "source", "doc_id", "n_chars", k=10,
            )
        ),
        # second stage runs on the Heaps-bounded vocab: ratio tracks the
        # tokenize/count scan, not the head-rank window
        "vocab_growth": (
            lambda s: vocab_growth(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "source", "text",
            )
        ),
        # round-4 continued: one window pass over the scaled stream
        "attribution": (
            lambda s: attribute_conversions(
                events if s == 1 else scaled(events, s, ["user_id"]),
                "user_id", "ts", "event_type", "value", "purchase",
            )
        ),
        # explode-heavy corpus stats: post-explode stages are
        # vocab/type-bounded, the scan is the cost
        "token_entropy": (
            lambda s: token_entropy_table(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id", "text",
            )
        ),
        "pmi_bigrams": (
            lambda s: pmi_bigrams(
                docs if s == 1 else scaled(docs, s, ["doc_id"]), "text"
            )
        ),
        "postings": (
            lambda s: postings_table(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id", "text",
            )
        ),
        # two-pass rank selection: the window sort is the data-sized cost
        "winsorize": (
            lambda s: winsorize_stats(
                li if s == 1 else scaled(li, s, ["l_orderkey"]),
                "l_returnflag", "l_extendedprice",
            )
        ),
        # containment's OUTPUT is quadratic in the duplication factor (a
        # text with c exact copies owns c*(c-1)/2 true 100%-containment
        # pairs — no candidate scheme avoids emitting real pairs), so the
        # raw op probes superlinear on this repeat-text fixture (13.8x
        # measured). The production composition collapses exact dups
        # FIRST (content-hash, one window) and runs containment on the
        # canonical docs only — which is what this case probes.
        "containment_deduped": (
            lambda s: containment_pairs(
                _exact_canonical(
                    docs if s == 1 else scaled(docs, s, ["doc_id"])
                ),
                "doc_id", "text",
            )
        ),
        # partition-batched grouped-map tier (grouped_map.py): glue is
        # per-Arrow-batch, so the ratio should track row count, not
        # group count
        "resample_batched": (
            lambda s: resample_interpolate(
                events if s == 1 else scaled(events, s, ["user_id"]),
                "user_id", "ts", "value",
            )
        ),
        "ewma_batched": (
            lambda s: ewma(
                events if s == 1 else scaled(events, s, ["user_id"]),
                "user_id", "ts", "event_id", "value",
            )
        ),
        # frequency-table boundaries: the window runs over distinct cents
        # values (range-bounded), so scaling rows should barely move it
        "equi_depth": (
            lambda s: equi_depth_bins(
                orders if s == 1 else scaled(orders, s, ["o_orderkey"]),
                "o_totalprice",
            )
        ),
        # Sigma deg^2 with the hub guard: customers AND parts both scale
        # (shifted keys make disjoint bipartite blocks), so pair volume
        # scales ~linearly — the guard is what prevents the quadratic tail
        "node_similarity": (
            lambda s: node_jaccard(
                (li if s == 1 else scaled(li, s, ["l_orderkey", "l_partkey"]))
                .join(
                    orders
                    if s == 1
                    else scaled(orders, s, ["o_orderkey", "o_custkey"]),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                )
                .select(
                    F.col("o_custkey").alias("src"),
                    F.col("l_partkey").alias("dst"),
                ),
                min_common=2,
                max_item_degree=64,
                pair_partitions=512,
            )
        ),
        # round-5: CC is iterative — scaling must not add ROUNDS (disjoint
        # copies keep component diameter constant), only per-round volume
        "connected_components": (
            lambda s: connected_components(
                (docs if s == 1 else scaled(docs, s, ["doc_id"]))
                .select(
                    "doc_id",
                    F.coalesce("text", F.lit("")).alias("t"),
                    F.col("lang"),
                )
                .select(
                    F.md5(F.substring("t", 1, 100)).alias("h"), "doc_id"
                )
                .withColumn("m", F.min("doc_id").over(Window.partitionBy("h")))
                .filter(F.col("doc_id") != F.col("m"))
                .select(F.col("m").alias("src"), F.col("doc_id").alias("dst"))
            )
        ),
        # one md5 + one combinable groupBy; output = leaked hashes only
        "split_leakage": (
            lambda s: split_leakage(
                hash_split(
                    (docs if s == 1 else scaled(docs, s, ["doc_id"])),
                    "doc_id",
                ),
                "doc_id",
                "text",
                "split",
            )
        ),
        # merge of two agg-cardinality tables: cost ~ group count, which
        # scales with the month keys, never with base row count
        "incremental_agg": (
            lambda s: (
                lambda o: merge_aggs(
                    partial_agg(
                        o.filter(F.col("o_orderdate") < "1997-01-01"),
                        ["o_orderpriority", "order_month"],
                        "o_totalprice",
                    ),
                    partial_agg(
                        o.filter(F.col("o_orderdate") >= "1997-01-01"),
                        ["o_orderpriority", "order_month"],
                        "o_totalprice",
                    ),
                    ["o_orderpriority", "order_month"],
                )
            )(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"])).select(
                    "o_orderpriority",
                    F.date_format("o_orderdate", "yyyy-MM").alias(
                        "order_month"
                    ),
                    "o_orderdate",
                    "o_totalprice",
                )
            )
        ),
        # SCD2: both windows ride one user_id shuffle; change-point filter
        # drops unchanged rows before the stitch pass
        "scd2_history": (
            lambda s: scd2_history(
                (events if s == 1 else scaled(events, s, ["user_id"])).select(
                    "user_id", "event_type", "ts", "event_id"
                ),
                ["user_id"],
                "event_type",
                ["ts", "event_id"],
                ts_col="ts",
            )
        ),
        # k-anonymity: one combinable QI groupBy; the rollup and the
        # broadcast anti-join touch only group-cardinality tables
        "k_anonymity": (
            lambda s: (
                lambda c: k_anonymity_audit(
                    c.select(
                        "c_custkey",
                        "c_nationkey",
                        "c_mktsegment",
                        F.floor(F.col("c_acctbal") / 1000)
                        .cast("long")
                        .alias("bal_bucket"),
                    ),
                    ["c_nationkey", "c_mktsegment", "bal_bucket"],
                    k=5,
                )
            )(
                read_parquet_table(spark, SF_DIR, "customer")
                if s == 1
                else scaled(
                    read_parquet_table(spark, SF_DIR, "customer"),
                    s,
                    ["c_custkey"],
                )
            )
        ),
        # SQ8: one abs-max aggregate + codegen encode + broadcast
        # brute-force scan — linear in corpus vectors by construction
        "sq8_topk": (
            lambda s: (
                lambda emb: sq8_topk(
                    emb,
                    emb.filter(F.col("vec_id") < 10),
                    "embedding",
                    "vec_id",
                    k=5,
                )
            )(
                read_parquet_table(spark, SF_DIR, "embeddings")
                if s == 1
                else scaled(
                    read_parquet_table(spark, SF_DIR, "embeddings"),
                    s,
                    ["vec_id"],
                )
            )
        ),
        # PSI: one combinable (key, bin) groupBy collapses the corpus;
        # the window/term stages touch only bins-sized tables
        "psi_drift": (
            lambda s: psi_drift(
                (events if s == 1 else scaled(events, s, ["user_id"])).select(
                    "event_type",
                    "value",
                    (F.col("user_id") % 2 == 0).alias("is_cur"),
                ),
                "event_type",
                "value",
                "is_cur",
            )
        ),
        # winnowing: position-row explosion (∝ corpus chars) + streaming
        # window-min + same-shuffle aggregates — the volume driver is the
        # explode, which scales with data, not with any key cardinality
        "winnow_fingerprints": (
            lambda s: winnow_fingerprints(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    "doc_id", "text"
                ),
                "doc_id",
                "text",
            )
        ),
        # BPE: the corpus scan collapses to the (word, cnt) table first
        # (vocab is Heaps-bounded like vocab_growth), so round cost is
        # vocabulary-sized; scaling docs scales only the first scan
        "bpe_rounds": (
            lambda s: bpe_rounds(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    "text"
                ),
                "text",
                n_rounds=2,
                top_k=8,
            )
        ),
        # SemDeDup pair stage with k ∝ N (the production posture: cluster
        # COUNT grows with the corpus, cluster SIZE stays bounded, so the
        # within-cluster quadratic term scales linearly). Assignment is a
        # hash-mod stand-in for a fitted-kmeans label; the pair join and
        # verdict aggregation are the real operator code.
        "semantic_dedupe": (
            lambda s: (
                lambda emb: semantic_dedupe_assigned(
                    emb,
                    emb.select(
                        "vec_id",
                        (F.col("vec_id") % (8 * s)).alias("cluster"),
                        (F.col("vec_id") % 97).alias("cent_sim_e4"),
                    ),
                    "embedding",
                    "vec_id",
                    threshold_e4=3500,
                )
            )(
                read_parquet_table(spark, SF_DIR, "embeddings")
                if s == 1
                else scaled(
                    read_parquet_table(spark, SF_DIR, "embeddings"),
                    s,
                    ["vec_id"],
                )
            )
        ),
        # z-order audit: scan + bit-interleave (codegen) + 256-key groupBy
        # with map-side combine — the quantizer caps keep the rollup tiny
        "zorder_profile": (
            lambda s: (
                lambda o: z_bucket_profile(
                    o.withColumn(
                        "order_day",
                        F.expr("datediff(o_orderdate, DATE '1992-01-01')"),
                    ),
                    quantize("o_custkey", 64, 255),
                    quantize("order_day", 16, 255),
                    bits=8,
                    bucket_shift=8,
                )
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # Benford: scan + 9-key groupBy; pure map-side combine
        "benford": (
            lambda s: benford_audit(
                li if s == 1 else scaled(li, s, ["l_orderkey"]),
                "l_extendedprice",
            )
        ),
        # perceptual hash: PNG encode+decode per image (Arrow batches,
        # linear) + window count on the 16-bit hash key
        "phash_groups": (
            lambda s: phash_dup_groups(
                ahash(
                    synth_rgb_png(
                        spark.range(200 * s).select(
                            F.col("id").alias("doc_id")
                        ),
                        "doc_id",
                    )
                )
            )
        ),
        # outer interval join (batch face): user_id key space scales with
        # the corpus, per-key density constant -> linear shuffle join
        "interval_outer_join": (
            lambda s: (
                lambda ev: interval_join_outer(
                    ev.filter(F.col("event_type") == "error").select(
                        "user_id",
                        F.col("event_id").alias("err_id"),
                        F.col("ts").cast("timestamp").alias("err_ts"),
                    ),
                    ev.filter(F.col("event_type") == "click").select(
                        "user_id",
                        F.col("ts").cast("timestamp").alias("click_ts"),
                        F.col("value").alias("click_value"),
                    ),
                    "user_id",
                    "err_ts",
                    "click_ts",
                    -300.0,
                    300.0,
                )
            )(
                events
                if s == 1
                else scaled(events, s, ["user_id", "event_id"])
            )
        ),
        # BM25: postings scale with the corpus (docs 10x, same query
        # terms); stats/df broadcasts stay O(1); top-k is heap-merged
        "bm25": (
            lambda s: bm25_topk(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                ["spark", "merge", "window"],
                k=100,
            )
        ),
        # label propagation / k-core: the EDGE LIST scales (10 disjoint
        # copies of the co-activity graph — same density, 10x nodes and
        # edges, the honest growth mode for a time-accumulated graph:
        # scaling orders instead would merge day cohorts and grow pairs
        # quadratically, a fixture artifact)
        # round-6 tenth batch ------------------------------------------
        # edge support: oriented triangles + 3x explode + count
        "edge_support": (
            lambda s: edge_support(
                _coorder() if s == 1 else scaled(_coorder(), s, ["src", "dst"])
            )
        ),
        # id gaps: distinct + one lag window over the id table
        "id_gaps": (
            lambda s: (
                lambda ids: (
                    lambda d: d.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum((F.col("delta") > 1).cast("long")).alias(
                            "runs"
                        ),
                    )
                )(
                    ids.select(
                        "id",
                        (F.col("id") - F.lag("id").over(Window.orderBy("id")))
                        .alias("delta"),
                    )
                )
            )(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
                .select(F.col("o_orderkey").alias("id"))
                .distinct()
            )
        ),
        # norm profile: codegen fold + bucket agg
        "norm_profile": (
            lambda s: (
                lambda e: e.select(
                    F.aggregate(
                        F.transform(
                            F.col("embedding"),
                            lambda x: F.floor(x.cast("double") * 10000).cast(
                                "long"
                            ),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, xq: acc + xq * xq,
                    ).alias("norm2_q")
                )
                .select(F.expr("norm2_q div 50000000").alias("bucket"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n_vecs"))
            )(embeddings if s == 1 else scaled(embeddings, s, ["vec_id"]))
        ),
        # soft-dedupe weights: hash groupBy + join back
        "soft_dedupe_weights": (
            lambda s: (
                lambda d: d.join(
                    d.groupBy("fp").agg(
                        F.count(F.lit(1)).alias("cluster_size")
                    ),
                    "fp",
                ).select(
                    "doc_id",
                    F.expr("CAST(1000000 div cluster_size AS BIGINT)").alias(
                        "weight_e6"
                    ),
                )
            )(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    "doc_id",
                    F.md5(
                        F.substring(F.coalesce("text", F.lit("")), 1, 100)
                    ).alias("fp"),
                )
            )
        ),
        # crest factor: one Arrow stats stage + JVM projection
        "crest_factor": (
            lambda s: wav_clip_stats(
                synth_pcm_wav(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 100),
                    "doc_id",
                )
            ).select(
                "media_id",
                F.expr(
                    "CASE WHEN energy > 0 THEN CAST(floor(10000"
                    " * greatest(max_s, -min_s)"
                    " / sqrt(CAST(energy AS DOUBLE) / n_samples))"
                    " AS BIGINT) END"
                ).alias("crest_e4"),
            )
        ),
        # round-7 first batch ------------------------------------------
        # color JPEG roundtrip: two Arrow stages; images scale with ids
        "color_jpeg": (
            lambda s: png_channel_stats(
                synth_rgb_jpeg(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 120),
                    "doc_id",
                )
            )
        ),
        # minhash error sweep: AUDIT op — exact arm is all-pairs by
        # definition (td12 precedent), so pairs grow ~s^2; the probe
        # documents that quadratic, it does not hide it
        "minhash_sweep": (
            lambda s: minhash_error_sweep_frame(
                (
                    docs if s == 1 else scaled(docs, s, ["doc_id"])
                )
                .filter(F.col("doc_id") % 1_000_000_000 < 40)
                .select("doc_id", "text")
            )
        ),
        # rank stability: token volume scales, top-200 heap is bounded
        "rank_stability": (
            lambda s: rank_stability_frame(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    "doc_id", "text"
                )
            )
        ),
        # adjacent-dim covariance: one generate + one partial agg
        "dim_covariance": (
            lambda s: dim_covariance_frame(
                embeddings
                if s == 1
                else scaled(embeddings, s, ["vec_id"])
            )
        ),
        # poisson bootstrap: B=32 explode, map-side combinable
        "poisson_bootstrap": (
            lambda s: poisson_bootstrap_frame(
                orders if s == 1 else scaled(orders, s, ["o_orderkey"])
            )
        ),
        # round-7 second batch -----------------------------------------
        # exact two-sample KS: per-value partials; value domain saturates
        "ks_test": (
            lambda s: ks_test_frame(
                orders if s == 1 else scaled(orders, s, ["o_orderkey"])
            )
        ),
        # JS divergence: vocab constant under replication, counts scale
        "js_divergence": (
            lambda s: js_divergence_frame(
                (docs if s == 1 else scaled(docs, s, ["doc_id"]))
                .select(
                    F.coalesce("lang", F.lit("und")).alias("grp"), "text"
                )
            )
        ),
        # assortativity: moment sums over the co-activity edge list
        "assortativity": (
            lambda s: assortativity_frame(
                (
                    _coact() if s == 1 else scaled(_coact(), s, ["src", "dst"])
                ).distinct()
            )
        ),
        # truncation dupes: replicating CONTENT multiplies every true
        # prefix pair across copies (s^2 output) — correctness, not a
        # plan defect; wall-time tracks the candidate volume the data
        # actually contains
        "truncation_dupes": (
            lambda s: truncation_dupes_frame(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    "doc_id", "text"
                )
            )
        ),
        # TWA: disjoint replica users keep groups constant-size
        "twa": (
            lambda s: time_weighted_avg_frame(
                (
                    events
                    if s == 1
                    else scaled(events, s, ["event_id", "user_id"])
                ).filter(F.col("user_id") % 1_000_000_000 < 50)
            )
        ),
        # round-7 third batch ------------------------------------------
        # exact two-phase quantiles: histogram pass + 3-bucket resolve
        # (w21's streaming segments share the twa case's lead-window
        # shape; the drain itself is bench-timed, not probe-scaled)
        "exact_quantiles": (
            lambda s: exact_quantiles_frame(
                (
                    orders if s == 1 else scaled(orders, s, ["o_orderkey"])
                ).select(
                    F.floor(F.col("o_totalprice").cast("double") * 100.0)
                    .cast("long")
                    .alias("v")
                )
            )
        ),
        # degree inequality: vertex-scaled windows over the node table
        "degree_inequality": (
            lambda s: degree_inequality_frame(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey", "o_custkey"]))
                .groupBy(F.col("o_custkey").alias("node"))
                .agg(F.count(F.lit(1)).alias("deg"))
            )
        ),
        # round-6 ninth batch ------------------------------------------
        # dedupe agreement: cluster-local exact pairs + banded LSH arm
        "dedupe_agreement": (
            lambda s: (
                lambda d: (
                    lambda fp: fp.alias("a")
                    .join(fp.alias("b"), "fp")
                    .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                    .select(
                        F.col("a.doc_id").alias("id_a"),
                        F.col("b.doc_id").alias("id_b"),
                    )
                    .join(
                        minhash_lsh_pairs(d, "doc_id", "text").select(
                            "id_a", "id_b", F.lit(1).alias("__l")
                        ),
                        ["id_a", "id_b"],
                        "left",
                    )
                    .agg(
                        F.count(F.lit(1)).alias("n_exact"),
                        F.sum(F.coalesce("__l", F.lit(0))).alias("n_both"),
                    )
                )(
                    d.select(
                        "doc_id",
                        F.md5(
                            F.substring(F.coalesce("text", F.lit("")), 1, 100)
                        ).alias("fp"),
                    )
                )
            )(docs if s == 1 else scaled(docs, s, ["doc_id"]))
        ),
        # top movers: per-class lag + TakeOrdered head
        "top_movers": (
            lambda s: (
                lambda m: m.withColumn(
                    "prev",
                    F.lag("rev_e2").over(
                        Window.partitionBy("cls").orderBy("month")
                    ),
                )
                .filter(F.col("prev").isNotNull())
                .orderBy(
                    F.desc(F.abs(F.col("rev_e2") - F.col("prev"))),
                    "cls",
                    "month",
                )
                .limit(15)
            )(
                (li if s == 1 else scaled(li, s, ["l_orderkey"]))
                .select(
                    (F.col("l_partkey") % 40).cast("long").alias("cls"),
                    F.date_trunc(
                        "month", F.col("l_shipdate").cast("timestamp")
                    ).alias("month"),
                    F.expr(
                        "CAST(floor(l_extendedprice * 100) AS BIGINT)"
                    ).alias("p_e2"),
                )
                .groupBy("cls", "month")
                .agg(F.sum("p_e2").alias("rev_e2"))
            )
        ),
        # top paths: per-user double-lead window + counts
        "top_paths": (
            lambda s: (
                lambda ev: ev.select(
                    F.col("event_type").alias("e1"),
                    F.lead("event_type", 1)
                    .over(
                        Window.partitionBy("user_id").orderBy(
                            "ts", "event_id"
                        )
                    )
                    .alias("e2"),
                    F.lead("event_type", 2)
                    .over(
                        Window.partitionBy("user_id").orderBy(
                            "ts", "event_id"
                        )
                    )
                    .alias("e3"),
                )
                .filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
                .groupBy("e1", "e2", "e3")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), "e1", "e2", "e3")
                .limit(20)
            )(
                (
                    events
                    if s == 1
                    else scaled(events, s, ["event_id", "user_id"])
                ).select(
                    "user_id",
                    F.col("ts").cast("timestamp").alias("ts"),
                    "event_id",
                    "event_type",
                )
            )
        ),
        # frame motion: one Arrow stage, linear in clips
        "frame_motion": (
            lambda s: frame_motion(
                attach_payload(
                    docs if s == 1 else scaled(docs, s, ["doc_id"]),
                    "doc_id",
                    "text",
                ),
                frame_bytes=64,
                max_frames=8,
            )
        ),
        # hapax: (lang, tok) counts then rollup
        "hapax_ratio": (
            lambda s: (
                lambda d: d.select(
                    F.coalesce("lang", F.lit("und")).alias("lang"),
                    F.explode(tokens("text")).alias("tok"),
                )
                .groupBy("lang", "tok")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("vocab"),
                    F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
                )
            )(docs if s == 1 else scaled(docs, s, ["doc_id"]))
        ),
        # round-6 eighth batch -----------------------------------------
        # shot lengths: one Arrow stage + per-clip windows
        "shot_lengths": (
            lambda s: (
                lambda cuts: (
                    lambda sh: sh.groupBy("media_id", "shot_id")
                    .agg(F.count(F.lit(1)).alias("len"))
                    .groupBy("media_id")
                    .agg(
                        F.sum("len").alias("n_frames"),
                        F.count(F.lit(1)).alias("n_shots"),
                    )
                )(
                    cuts.withColumn(
                        "shot_id",
                        F.sum(F.col("is_cut").cast("long")).over(
                            Window.partitionBy("media_id")
                            .orderBy("frame_idx")
                            .rowsBetween(
                                Window.unboundedPreceding, Window.currentRow
                            )
                        ),
                    )
                )
            )(
                scene_cuts(
                    attach_payload(
                        docs if s == 1 else scaled(docs, s, ["doc_id"]),
                        "doc_id",
                        "text",
                    ),
                    frame_bytes=64,
                    threshold=8,
                    max_frames=8,
                )
            )
        ),
        # histq sweep: three bounded histograms + exact rank selection
        "histq_error_sweep": (
            lambda s: (
                lambda o: _union_all(
                    [
                        hist_quantiles(
                            binned_histogram(
                                o,
                                [],
                                "o_totalprice",
                                bins=b,
                                lo_cents=0,
                                step_cents=5_120_000 // b,
                            ),
                            [],
                            [("p50", 2, 1)],
                            lo_cents=0,
                            step_cents=5_120_000 // b,
                        ).select(
                            F.lit(b).alias("bins"), F.col("p50_est_cents")
                        )
                        for b in (8, 16, 64)
                    ]
                )
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # PQ utilization: encode (broadcast codebook) + two tiny aggs
        "pq_utilization": (
            lambda s: (
                lambda v: pq_encode(
                    v,
                    embeddings.select(
                        "vec_id",
                        F.transform(
                            F.col("embedding"), lambda x: x.cast("double")
                        ).alias("e"),
                    )
                    .filter(F.col("vec_id") < 128)
                    .select(
                        F.expr("vec_id div 16").cast("int").alias("subspace"),
                        (F.col("vec_id") % 16).cast("int").alias("code"),
                        F.expr(
                            "slice(e, (vec_id div 16) * 8 + 1, 8)"
                        ).alias("subvec"),
                    ),
                    "e",
                    "vec_id",
                )
                .groupBy("subspace", "code")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .groupBy("subspace")
                .agg(F.sum("cnt").alias("n"), F.max("cnt").alias("mx"))
            )(
                (
                    embeddings if s == 1 else scaled(embeddings, s, ["vec_id"])
                ).select(
                    "vec_id",
                    F.transform(
                        F.col("embedding"), lambda x: x.cast("double")
                    ).alias("e"),
                )
            )
        ),
        # decile lift: ntile sort + decile-table windows
        "decile_lift": (
            lambda s: (
                lambda o: o.withColumn(
                    "decile",
                    F.ntile(10).over(
                        Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
                    ),
                )
                .groupBy("decile")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (F.col("o_orderstatus") == "F").cast("long")
                    ).alias("positives"),
                )
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # cycle time: join + (month, days) frequency table + window
        "cycle_time": (
            lambda s: (
                lambda li_s, o_s: (
                    lambda j: (
                        lambda vt: vt.select(
                            "month",
                            "days",
                            F.sum("c")
                            .over(
                                Window.partitionBy("month")
                                .orderBy("days")
                                .rowsBetween(
                                    Window.unboundedPreceding,
                                    Window.currentRow,
                                )
                            )
                            .alias("cum"),
                            F.sum("c")
                            .over(Window.partitionBy("month"))
                            .alias("n"),
                        )
                        .groupBy("month")
                        .agg(
                            F.min(
                                F.when(
                                    F.lit(2) * F.col("cum") >= F.col("n"),
                                    F.col("days"),
                                )
                            ).alias("p50_days")
                        )
                    )(
                        j.groupBy("month", "days").agg(
                            F.count(F.lit(1)).alias("c")
                        )
                    )
                )(
                    li_s.join(
                        o_s, li_s["l_orderkey"] == o_s["o_orderkey"]
                    ).select(
                        F.date_trunc(
                            "month", F.col("o_orderdate").cast("timestamp")
                        ).alias("month"),
                        F.datediff(
                            F.col("l_shipdate").cast("date"),
                            F.col("o_orderdate").cast("date"),
                        )
                        .cast("long")
                        .alias("days"),
                    )
                )
            )(
                li if s == 1 else scaled(li, s, ["l_orderkey"]),
                orders if s == 1 else scaled(orders, s, ["o_orderkey"]),
            )
        ),
        # round-6 seventh batch ----------------------------------------
        # modularity: ONE persisted symmetric frame shared between the
        # detector and the scorer (the gr20 plan)
        "modularity": (
            lambda s: (
                lambda sym: community_modularity(
                    sym,
                    label_propagation(sym, rounds=2, pre_symmetrized=True),
                    top_k=20,
                    pre_symmetrized=True,
                )
            )(
                (
                    _coact() if s == 1 else scaled(_coact(), s, ["src", "dst"])
                )
                .distinct()
                # at 100x the shared frame is ~1e9 rows: caching it on
                # disk keeps the unified region free for the per-round
                # label aggregations (storage evicts execution under
                # pressure only up to the protected fraction)
                .persist(
                    StorageLevel.DISK_ONLY if s > 10 else StorageLevel.MEMORY_AND_DISK
                )
            )
        ),
        # period growth: rollup then a month-table window
        "period_growth": (
            lambda s: (
                lambda o: (
                    lambda m: m.withColumn(
                        "prev", F.lag("rev_e2").over(Window.orderBy("month"))
                    )
                )(
                    o.select(
                        F.date_trunc(
                            "month", F.col("o_orderdate").cast("timestamp")
                        ).alias("month"),
                        F.expr(
                            "CAST(floor(o_totalprice * 100) AS BIGINT)"
                        ).alias("p"),
                    )
                    .groupBy("month")
                    .agg(F.sum("p").alias("rev_e2"))
                )
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # centroid drift: one explode + one pivot agg
        "centroid_drift": (
            lambda s: label_centroid_drift(
                (
                    embeddings if s == 1 else scaled(embeddings, s, ["vec_id"])
                ).select(
                    F.col("label").cast("long").alias("label"),
                    F.when(F.col("vec_id") % 2 == 0, F.lit("a"))
                    .otherwise(F.lit("b"))
                    .alias("half"),
                    "embedding",
                ),
                "label",
                "embedding",
                "half",
            )
        ),
        # key discovery: count-distinct aggs, one per candidate
        "key_discovery": (
            lambda s: key_discovery(
                orders if s == 1 else scaled(orders, s, ["o_orderkey"]),
                [["o_orderkey"], ["o_custkey"], ["o_custkey", "o_orderdate"]],
            )
        ),
        # NDV audit: sampled value counts + true distinct
        "ndv_audit": (
            lambda s: ndv_estimate_audit(
                li if s == 1 else scaled(li, s, ["l_orderkey"]),
                F.concat_ws(":", "l_orderkey", "l_linenumber"),
                ["l_partkey", "l_suppkey"],
                sample_buckets=1000,
            )
        ),
        # round-6 sixth batch ------------------------------------------
        # nprobe sweep: three IVF arms, corpus 10x, queries fixed
        "nprobe_sweep": (
            lambda s: (
                lambda emb: (
                    lambda exact: _union_all(
                        [
                            exact.join(
                                ivf_topk(
                                    emb,
                                    embeddings.filter(F.col("vec_id") < 10),
                                    embeddings.filter(F.col("vec_id") < 8),
                                    "embedding",
                                    "vec_id",
                                    k=5,
                                    nprobe=np,
                                ).select(
                                    "query_id",
                                    "match_id",
                                    F.lit(1).alias("__hit"),
                                ),
                                ["query_id", "match_id"],
                                "left",
                            ).agg(
                                F.lit(np).alias("nprobe"),
                                F.count(F.lit(1)).alias("n_exact"),
                                F.sum(F.coalesce("__hit", F.lit(0))).alias(
                                    "n_hits"
                                ),
                            )
                            for np in (1, 2, 4)
                        ]
                    )
                )(
                    cosine_topk(
                        emb,
                        embeddings.filter(F.col("vec_id") < 10),
                        "embedding",
                        "vec_id",
                        k=5,
                    ).select("query_id", "match_id")
                )
            )(embeddings if s == 1 else scaled(embeddings, s, ["vec_id"]))
        ),
        # CMS sweep: three bounded grids, fact 10x
        "cms_error_sweep": (
            lambda s: (
                lambda fact: _union_all(
                    [
                        cms_estimate(
                            supplier.select(
                                F.col("s_suppkey").alias("suppkey")
                            ),
                            cms_build(fact, "l_suppkey", d=4, w=w),
                            "suppkey",
                            d=4,
                            w=w,
                        ).agg(
                            F.lit(w).alias("w"),
                            F.sum("est_cnt").alias("total_est"),
                        )
                        for w in (64, 256, 1024)
                    ]
                )
            )(li if s == 1 else scaled(li, s, ["l_orderkey"]))
        ),
        # garbage score: pure codegen projections
        "garbage_score": (
            lambda s: (
                lambda d: d.select(
                    "doc_id",
                    F.length(
                        F.regexp_replace(
                            F.lower(F.coalesce("text", F.lit(""))),
                            "[^a-z]",
                            "",
                        )
                    ).alias("nl"),
                    F.coalesce(
                        F.array_max(
                            F.transform(
                                F.split(
                                    F.lower(F.coalesce("text", F.lit(""))),
                                    "[aeiou]|[^a-z]",
                                ),
                                lambda x: F.length(x),
                            )
                        ),
                        F.lit(0),
                    ).alias("mrun"),
                )
            )(docs if s == 1 else scaled(docs, s, ["doc_id"]))
        ),
        # channel correlation: per-payload Arrow work
        "channel_corr": (
            lambda s: channel_correlation(
                synth_rgb_png(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 120),
                    "doc_id",
                )
            )
        ),
        # expectation drift: two conditional-sum scans
        "expectation_drift": (
            lambda s: (
                lambda o: (
                    lambda sliced: expectation_suite(
                        sliced.filter(F.col("__sl") == "a"),
                        [
                            ("price_positive", F.col("o_totalprice") > 0),
                            (
                                "custkey_present",
                                F.col("o_custkey").isNotNull(),
                            ),
                        ],
                    ).join(
                        expectation_suite(
                            sliced.filter(F.col("__sl") == "b"),
                            [
                                (
                                    "price_positive",
                                    F.col("o_totalprice") > 0,
                                ),
                                (
                                    "custkey_present",
                                    F.col("o_custkey").isNotNull(),
                                ),
                            ],
                        ).withColumnRenamed("pass_e6", "pass_b"),
                        "check",
                    )
                )(
                    o.withColumn(
                        "__sl",
                        F.when(
                            F.col("o_orderdate").cast("date")
                            < F.lit("1998-01-01"),
                            F.lit("a"),
                        ).otherwise(F.lit("b")),
                    )
                )
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # round-6 fifth batch ------------------------------------------
        # fertility: vocab broadcast; token stream 10x
        "bpe_fertility": (
            lambda s: (
                lambda d: (
                    lambda vocab: (
                        d.select(
                            F.coalesce("lang", F.lit("und")).alias("lang"),
                            "doc_id",
                            F.explode(
                                F.split(F.lower("text"), "[^a-z]+")
                            ).alias("w"),
                        )
                        .filter(F.col("w") != "")
                        .join(F.broadcast(vocab), "w")
                        .groupBy("lang", "doc_id")
                        .agg(
                            F.count(F.lit(1)).alias("words"),
                            F.sum("n_sub").alias("subs"),
                        )
                        .groupBy("lang")
                        .agg(
                            F.sum("words").alias("n_words"),
                            F.sum("subs").alias("n_subtokens"),
                        )
                    )
                )(
                    (
                        lambda wf: (
                            lambda m1: apply_merge(
                                m1, top_merge(pair_counts(m1))
                            ).select(
                                "w",
                                F.size(F.split("spaced", " "))
                                .cast("long")
                                .alias("n_sub"),
                            )
                        )(
                            apply_merge(wf, top_merge(pair_counts(wf))).select(
                                "w", "cnt", "spaced"
                            )
                        )
                    )(with_spaced(word_frequencies(d, "text")))
                )
            )(docs if s == 1 else scaled(docs, s, ["doc_id"]))
        ),
        # bitmap audit: one lag window per column over the sort
        "bitmap_suitability": (
            lambda s: bitmap_suitability(
                orders if s == 1 else scaled(orders, s, ["o_orderkey"]),
                "o_orderkey",
                ["o_orderstatus", "o_orderpriority"],
            )
        ),
        # dup locality: size-derived pair counts, combinable aggs
        "shard_dup_locality": (
            lambda s: shard_dup_locality(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    "doc_id",
                    F.md5(
                        F.substring(F.coalesce("text", F.lit("")), 1, 100)
                    ).alias("fp"),
                ),
                "doc_id",
                "fp",
                n_shards=8,
            )
        ),
        # rich club: disjoint graph copies
        "rich_club": (
            lambda s: rich_club(
                _coorder() if s == 1 else scaled(_coorder(), s, ["src", "dst"]),
                ks=[2, 4, 8, 16],
            )
        ),
        # round-6 fourth batch -----------------------------------------
        # concurrency sweep: 2 rows/interval, one window per group
        "max_concurrency": (
            lambda s: max_concurrency(
                (events if s == 1 else scaled(events, s, ["event_id"])).select(
                    F.col("event_type").alias("grp"),
                    F.unix_micros(F.col("ts").cast("timestamp")).alias(
                        "start_us"
                    ),
                    (
                        F.unix_micros(F.col("ts").cast("timestamp"))
                        + (F.lit(60) + F.col("event_id") % 240) * 1_000_000
                    ).alias("end_us"),
                    F.col("event_id").alias("tid"),
                ),
                "grp",
                "start_us",
                "end_us",
                "tid",
            )
        ),
        # weighted median: frequency-table collapse before the window
        "weighted_median": (
            lambda s: weighted_median(
                (li if s == 1 else scaled(li, s, ["l_orderkey"])).select(
                    F.col("l_returnflag").alias("grp"),
                    F.floor(F.col("l_extendedprice").cast("double") * 100)
                    .cast("long")
                    .alias("price_c"),
                    F.col("l_quantity").cast("long").alias("qty"),
                ),
                "grp",
                "price_c",
                "qty",
            )
        ),
        # join-card audit: per-key count tables, never the join itself
        "join_card": (
            lambda s: join_card_audit(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"])).select(
                    F.col("o_orderkey").alias("k")
                ),
                (li if s == 1 else scaled(li, s, ["l_orderkey"])).select(
                    F.col("l_orderkey").alias("k")
                ),
                "k",
                "probe",
            )
        ),
        # gain normalization: per-payload Arrow scan
        "gain_norm": (
            lambda s: wav_gain_normalization(
                synth_pcm_wav(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 100),
                    "doc_id",
                ),
                target_rms=500,
            )
        ),
        # langid confusion: regex scores in codegen + tiny broadcast
        "langid_confusion": (
            lambda s: (
                lambda d: (
                    lambda cell: cell.join(
                        F.broadcast(
                            cell.groupBy("true_lang").agg(
                                F.sum("n").alias("tn")
                            )
                        ),
                        "true_lang",
                    ).select(
                        "true_lang",
                        "pred_lang",
                        "n",
                        F.expr("CAST((1000000 * n) div tn AS BIGINT)").alias(
                            "share_of_true_e6"
                        ),
                    )
                )(
                    d.groupBy("true_lang", "pred_lang").agg(
                        F.count(F.lit(1)).alias("n")
                    )
                )
            )(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    F.coalesce("lang", F.lit("und")).alias("true_lang"),
                    language_id("text").alias("pred_lang"),
                )
            )
        ),
        # round-6 third batch ------------------------------------------
        # burstiness: vocab-keyed aggs, Heaps-bounded output
        "term_burstiness": (
            lambda s: term_burstiness(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                top_k=100,
            )
        ),
        # matryoshka: corpus scales, fixed query set; both arms broadcast
        "matryoshka_recall": (
            lambda s: prefix_recall_at_k(
                embeddings if s == 1 else scaled(embeddings, s, ["vec_id"]),
                embeddings.filter(F.col("vec_id") < 10),
                "embedding",
                "vec_id",
                prefix_dims=16,
                k=5,
            )
        ),
        # group minhash: signature agg combinable; pair table = groups^2
        "minhash_group_sim": (
            lambda s: group_minhash_similarity(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    F.coalesce("lang", F.lit("und")).alias("lang"),
                    "doc_id",
                    "text",
                ),
                "lang",
                "doc_id",
                "text",
                k=3,
                num_perm=8,
            )
        ),
        # blockiness: per-payload Arrow scan, linear in image count
        "jpeg_blockiness": (
            lambda s: jpeg_blockiness(
                synth_gray_jpeg(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 120),
                    "doc_id",
                )
            )
        ),
        # duplicate burden: md5-keyed combinable aggs
        "duplicate_burden": (
            lambda s: duplicate_burden(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    F.coalesce("lang", F.lit("und")).alias("lang"),
                    "doc_id",
                    F.substring(F.coalesce("text", F.lit("")), 1, 100).alias(
                        "fp"
                    ),
                    "n_chars",
                ),
                "lang",
                "doc_id",
                "fp",
                "n_chars",
            )
        ),
        # round-6 second batch -----------------------------------------
        # novelty: gram table Heaps-bounded; both shuffles on the gram key
        "ngram_novelty": (
            lambda s: ngram_novelty(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                k=3,
            )
        ),
        # skyline: one sort, no join — scales like an orderBy
        "skyline_2d": (
            lambda s: skyline_2d(
                (
                    parts if s == 1 else scaled(parts, s, ["p_partkey"])
                ).select(
                    "p_partkey",
                    F.floor(F.col("p_retailprice").cast("double") * 100)
                    .cast("long")
                    .alias("price_c"),
                    F.col("p_size").cast("long").alias("p_size"),
                ),
                "price_c",
                "p_size",
            )
        ),
        # LCC: disjoint graph copies (both endpoints shifted)
        "clustering_coeff": (
            lambda s: local_clustering(
                _coorder() if s == 1 else scaled(_coorder(), s, ["src", "dst"])
            )
        ),
        # pixel gini: per-payload Arrow work, linear in image count
        "pixel_gini": (
            lambda s: image_histogram_stats(
                synth_rgb_png(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 150),
                    "doc_id",
                )
            )
        ),
        # nucleus: token counts partial-combine; window on vocab-sized table
        "nucleus_coverage": (
            lambda s: nucleus_coverage(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    F.coalesce("lang", F.lit("und")).alias("lang"), "text"
                ),
                "lang",
                "text",
                p_e6=800_000,
            )
        ),
        # round-6 first batch ------------------------------------------
        # Adamic-Adar: disjoint graph copies (both endpoints shifted);
        # wedge volume per copy constant -> total linear in copies
        "adamic_adar": (
            lambda s: adamic_adar(
                _coact() if s == 1 else scaled(_coact(), s, ["src", "dst"]),
                max_degree=200,
                min_common=2,
            )
        ),
        # centroid stats: rows 10x under the SAME label set (the
        # realistic shape: classes fixed, corpus grows); per-(label,dim)
        # partials combine map-side
        "centroid_stats": (
            lambda s: label_centroid_stats(
                embeddings if s == 1 else scaled(embeddings, s, ["vec_id"]),
                "label",
                "embedding",
            )
        ),
        # split balance: pure counting — scales like a count(*)
        "split_balance": (
            lambda s: (
                lambda d: split_balance(
                    d.select(
                        F.when(hash_bucket("doc_id") < 9000, F.lit("train"))
                        .otherwise(F.lit("val"))
                        .alias("split"),
                        F.col("lang").alias("stratum"),
                    ),
                    "split",
                    "stratum",
                )
            )(docs if s == 1 else scaled(docs, s, ["doc_id"]))
        ),
        # JPEG round-trip: per-payload Arrow work, linear in image count
        "jpeg_roundtrip": (
            lambda s: png_channel_stats(
                synth_gray_jpeg(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 150),
                    "doc_id",
                )
            )
        ),
        # WAV trim: per-payload Arrow scan, linear in clip count
        "wav_trim": (
            lambda s: wav_trim_bounds(
                synth_pcm_wav(
                    (
                        docs.select("doc_id")
                        if s == 1
                        else scaled(docs.select("doc_id"), s, ["doc_id"])
                    ).filter(F.col("doc_id") % 1_000_000_000 < 150),
                    "doc_id",
                ),
                threshold=128,
            )
        ),
        "labelprop": (
            lambda s: label_propagation(
                _coact() if s == 1 else scaled(_coact(), s, ["src", "dst"]),
                rounds=2,
            )
        ),
        "kcore": (
            lambda s: kcore(
                _coact() if s == 1 else scaled(_coact(), s, ["src", "dst"]),
                k=8,
            )
        ),
        # profile drift: two full scans, all metrics in one agg per side
        "profile_drift": (
            lambda s: (
                lambda o: profile_drift(
                    o.filter(F.col("o_orderdate") < "1995-01-01"),
                    o.filter(F.col("o_orderdate") >= "1995-01-01"),
                    [
                        ("o_custkey", "numeric"),
                        ("o_orderpriority", "categorical"),
                        ("o_orderstatus", "categorical"),
                        ("o_totalprice", "numeric"),
                    ],
                )
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # salted join: fact rows 10x with the SAME skewed key domain, so
        # the hot key gets 10x hotter — precisely the case the salt
        # spreads; dim side constant
        "salted_join": (
            lambda s: (
                lambda b: salted_join(
                    b.select(
                        F.expr(
                            "CASE WHEN l_suppkey % 10 < 3 THEN 1"
                            " ELSE l_suppkey END"
                        ).alias("skew_key"),
                        "l_extendedprice",
                        "l_discount",
                    ),
                    read_parquet_table(spark, SF_DIR, "supplier")
                    .select(F.col("s_suppkey").alias("skew_key"), "s_nationkey")
                    .hint("merge"),
                    "skew_key",
                    buckets=8,
                )
                .groupBy("s_nationkey")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.sum(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).alias("revenue"),
                )
            )(li if s == 1 else scaled(li, s, ["l_orderkey"]))
        ),
        # certified heavy hitters: candidate pass ∝ corpus (Arrow, no
        # shuffle), recount shuffle ∝ candidates only
        "heavy_hitters": (
            lambda s: certified_heavy_hitters(
                (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                    F.explode(tokens("text")).alias("tok")
                ),
                "tok",
                k=10,
            )
        ),
        # bloom join: probe is scan-stage; fact 10x, dim constant
        "bloom_join": (
            lambda s: (
                lambda f: bloom_filtered_join(
                    f.select("l_suppkey", "l_quantity"),
                    read_parquet_table(spark, SF_DIR, "supplier")
                    .filter(F.col("s_nationkey") < 5)
                    .select("s_suppkey", "s_nationkey"),
                    "l_suppkey",
                    "s_suppkey",
                )
                .groupBy("s_nationkey")
                .agg(F.count(F.lit(1)).alias("n_items"))
            )(li if s == 1 else scaled(li, s, ["l_orderkey"]))
        ),
        # lateness: one per-key window + combinable rollup
        "lateness": (
            lambda s: (
                lambda ev: lateness_audit(
                    ev.select(
                        "user_id",
                        "event_id",
                        F.col("ts").cast("timestamp").alias("ts"),
                        "event_type",
                    ),
                    "user_id",
                    "event_id",
                    "ts",
                    300,
                    group_col="event_type",
                )
            )(
                events
                if s == 1
                else scaled(events, s, ["user_id", "event_id"])
            )
        ),
        # pivot: one scan, one combinable agg on (year x 5) cells
        "pivot": (
            lambda s: (
                lambda o: o.withColumn(
                    "o_year", F.year("o_orderdate").cast("long")
                )
                .groupBy("o_year")
                .pivot(
                    "o_orderpriority",
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"],
                )
                .agg(F.count(F.lit(1)))
            )(orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
        ),
        # BPE encode: vocab stays Heaps-bounded; only the token stream
        # and the broadcast-join probe side grow
        "bpe_encode": (
            lambda s: (
                lambda d: (
                    lambda wf: (
                        lambda vocab: d.select(
                            "doc_id",
                            F.explode(
                                F.split(F.lower("text"), "[^a-z]+")
                            ).alias("w"),
                        )
                        .filter(F.col("w") != "")
                        .join(F.broadcast(vocab), "w")
                        .groupBy("doc_id")
                        .agg(
                            F.count(F.lit(1)).alias("n_words"),
                            F.sum("n_sub").alias("n_subtokens"),
                        )
                    )(
                        apply_merge(
                            wf, top_merge(pair_counts(wf))
                        ).select(
                            "w",
                            F.size(F.split("spaced", " "))
                            .cast("long")
                            .alias("n_sub"),
                        )
                    )
                )(with_spaced(word_frequencies(d, "text")))
            )(docs if s == 1 else scaled(docs, s, ["doc_id"]))
        ),
        # epoch shuffle: scan-stage keys + ONE hash repartition + audit
        "epoch_shuffle": (
            lambda s: epoch_shuffle_audit(
                epoch_shuffle(
                    (docs if s == 1 else scaled(docs, s, ["doc_id"])).select(
                        "doc_id"
                    ),
                    "doc_id",
                    "epoch-0",
                    n_shards=16,
                ),
                "doc_id",
            )
        ),
        # compaction plan: listings are metadata-sized; 10x files, same
        # group count -> bigger collect_list per group (the honest axis)
        "compaction_plan": (
            lambda s: compaction_plan(
                (
                    parts if s == 1 else scaled(parts, s, ["p_partkey"])
                ).select(
                    "p_brand",
                    F.col("p_partkey").alias("file_id"),
                    ((F.col("p_partkey") * 7) % 100 + 1)
                    .cast("long")
                    .alias("size_mb"),
                ),
                "p_brand",
                "file_id",
                "size_mb",
                target_size=128,
            )
        ),
        # blocklist: broadcast term table, corpus-side explode 10x
        "blocklist": (
            lambda s: blocklist_hits(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                {"infra": ["spark", "hash", "shard"], "ops": ["merge", "sort"]},
            )
        ),
        # rolling slope: one window exchange; rows 10x, keys constant ->
        # in-partition sort volume is the scaling axis
        "rolling_slope": (
            lambda s: rolling_slope(
                (
                    events if s == 1 else scaled(events, s, ["event_id"])
                ).select(
                    "event_type",
                    F.col("ts").cast("timestamp").alias("ts"),
                    "event_id",
                    "value",
                ),
                "event_type",
                "ts",
                "event_id",
                "value",
                window_rows=10,
            )
        ),
        # two-level agg (batch face of w13): pre-agg collapses to
        # 15-min cells before the hourly rollup — second agg is tiny
        "twolevel_agg": (
            lambda s: (
                lambda ev: ev.select(
                    F.col("ts").cast("timestamp").alias("ts"), "event_type"
                )
                .groupBy(
                    F.window("ts", "15 minutes").alias("w15"), "event_type"
                )
                .agg(F.count(F.lit(1)).alias("n15"))
                .groupBy(
                    F.window(F.col("w15"), "1 hour").alias("wh"),
                    "event_type",
                )
                .agg(
                    F.sum("n15").alias("n_events"),
                    F.count(F.lit(1)).alias("n_subwindows"),
                )
            )(
                events
                if s == 1
                else scaled(events, s, ["event_id", "user_id"])
            )
        ),
        # HITS: edges 10x as disjoint graph copies (both endpoints
        # shifted); per-iteration shuffles carry the score tables
        "hits": (
            lambda s: (
                lambda e: hits(e, iterations=2)
            )(
                (
                    lambda o, li: o.join(
                        li, o.o_orderkey == li.l_orderkey
                    ).select(
                        F.col("o_custkey").alias("src"),
                        F.col("l_suppkey").alias("dst"),
                    )
                )(orders, li)
                if s == 1
                else scaled(
                    (
                        lambda o, li2: o.join(
                            li2, o.o_orderkey == li2.l_orderkey
                        ).select(
                            F.col("o_custkey").alias("src"),
                            F.col("l_suppkey").alias("dst"),
                        )
                    )(orders, li),
                    s,
                    ["src", "dst"],
                )
            )
        ),
        # RAKE: token stream 10x; word stats stay vocab-sized
        "rake": (
            lambda s: rake_keywords(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                ["the", "order", "scan", "batch"],
                top_k=3,
            )
        ),
        # radius search: corpus 10x, query set fixed -> linear scan
        "range_search": (
            lambda s: (
                lambda e: cosine_range_search(
                    e,
                    e.filter(F.col("vec_id") < 5),
                    "embedding",
                    "vec_id",
                    threshold_e4=2000,
                )
            )(
                read_parquet_table(spark, SF_DIR, "embeddings")
                if s == 1
                else scaled(
                    read_parquet_table(spark, SF_DIR, "embeddings"),
                    s,
                    ["vec_id"],
                )
            )
        ),
        # net effect: one combinable groupBy on the entity key
        # n-gram coverage: explode + vocab-sized df agg + gram equi-join;
        # shifted doc ids REUSE the same text so common grams stay common
        "ngram_coverage": (
            lambda s: ngram_coverage(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                k=3,
                min_df=2,
            )
        ),
        # selectivity-preserving variant for the 100x ladder: with s
        # replicated copies every gram trivially reaches min_df=2 (each
        # text exists s times), so the common-gram cut stops cutting and
        # the position blowup saturates — a profile no real corpus has.
        # Scaling min_df with s keeps the SELECTIVITY of the cut at its
        # 1x level (a gram in d docs at 1x is in s*d docs at s-fold), so
        # this case measures the operator on a workload whose
        # repeated-span fraction matches the 1x corpus.
        "ngram_coverage_seltv": (
            lambda s: ngram_coverage(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                k=3,
                min_df=2 * s,
            )
        ),
        # HLL merge: day registers -> week/global by register max; the
        # merged grains aggregate register rows, never raw events
        "hll_merge": (
            lambda s: (
                lambda ev: hll_estimate(
                    merge_registers(
                        hll_registers(
                            ev.select(
                                F.to_date(
                                    F.col("ts").cast("timestamp")
                                ).alias("d"),
                                "user_id",
                            ),
                            ["d"],
                            "user_id",
                        ),
                        [],
                    ),
                    [],
                )
            )(events if s == 1 else scaled(events, s, ["user_id"]))
        ),
        # HyperBall: per-round cost = one edges-registers equi-join + a
        # partial-max merge; state is |V| * 64 register rows, never ball-sized
        "hyperball": (
            lambda s: (
                lambda e: hyperball_neighborhood(
                    e, e.select(F.col("src").alias("node")).distinct(), radius=2
                )
            )(
                chain_edges(1)
                if s == 1
                else scaled(chain_edges(1), s, ["src", "dst"])
            )
        ),
        # Variant shred: parse-once ingest + one partial-agg rollup — pure
        # scan-stage column algebra, must be ~linear
        "variant_shred": (
            lambda s: (
                lambda ev: shred_variant(
                    ev, "props", {"k": ("$.k", "bigint")}, keep=["event_type"]
                )
                .groupBy("event_type", (F.col("k") % 8).alias("kb"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sk"))
            )(events if s == 1 else scaled(events, s, ["event_id"]))
        ),
        # SQ distortion: two linear scans (scale agg + error fold), one-row
        # broadcast scale — no shuffle wider than the label rollup
        "sq_distortion": (
            lambda s: sq_distortion(
                read_parquet_table(spark, SF_DIR, "embeddings")
                if s == 1
                else scaled(
                    read_parquet_table(spark, SF_DIR, "embeddings"),
                    s,
                    ["vec_id"],
                ),
                "embedding",
                "vec_id",
            )
        ),
        # Assortativity: degree agg + equi-joins + one 6-sum reduce
        "assortativity": (
            lambda s: degree_assortativity(
                chain_edges(1)
                if s == 1
                else scaled(chain_edges(1), s, ["src", "dst"])
            )
        ),
        # Consistent hashing: broadcast ring, per-key min fold
        "consistent_hash": (
            lambda s: resharding_report(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
                .select(F.col("o_orderkey").alias("k")),
                "k",
                hash_ring(spark, 4, 16),
                hash_ring(spark, 5, 16),
            )
        ),
        # A/B report: per-user agg + one 4-integer reduce
        "ab_test": (
            lambda s: ab_test_report(
                (events if s == 1 else scaled(events, s, ["user_id"]))
                .groupBy("user_id")
                .agg(
                    F.max(
                        (F.col("event_type") == "purchase").cast("long")
                    ).alias("converted")
                )
                .select(
                    F.when(F.col("user_id") % 2 == 0, F.lit("A"))
                    .otherwise(F.lit("B"))
                    .alias("variant"),
                    "converted",
                ),
                "variant",
                "converted",
            )
        ),
        # Zipf: freq agg + TakeOrdered(K) + constant-size OLS
        "zipf": (
            lambda s: zipf_fit(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "text",
                top_k=500,
            )
        ),
        # Expectations: one conditional-sum aggregate over one scan
        "expectations": (
            lambda s: expectation_suite(
                orders if s == 1 else scaled(orders, s, ["o_orderkey"]),
                [
                    ("price_positive", F.col("o_totalprice") > 0),
                    ("price_under_300k", F.col("o_totalprice") < 300000),
                    ("custkey_present", F.col("o_custkey").isNotNull()),
                ],
            )
        ),
        # Timeout funnel: one groupBy(user) collect; per-user array scan
        "window_funnel": (
            lambda s: window_funnel(
                (events if s == 1 else scaled(events, s, ["user_id"])).select(
                    "user_id",
                    F.col("ts").cast("timestamp").alias("ts"),
                    "event_type",
                ),
                "user_id",
                "ts",
                "event_type",
                ["view", "click", "purchase"],
                3_600_000_000,
            )
            .groupBy("funnel_level")
            .agg(F.count(F.lit(1)).alias("n"))
        ),
        # Range audit: two frequency aggregates + a B-1-row broadcast
        "range_audit": (
            lambda s: (
                lambda o: range_assignment_audit(
                    o, "o_custkey", range_boundaries(o, "o_custkey", "o_orderkey")
                )
            )(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"])).select(
                    "o_orderkey", F.col("o_custkey").cast("long").alias("o_custkey")
                )
            )
        ),
        # Feature hashing: explode + two partial aggs — scan-stage algebra
        "feature_hash": (
            lambda s: collision_audit(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                dim=64,
            )
        ),
        # BOM rollup: fixed-depth walk — per level one equi-join over
        # one-row-per-node state; must be ~linear in |nodes|
        "bom": (
            lambda s: bom_rollup(
                (parts if s == 1 else scaled(parts, s, ["p_partkey"])).select(
                    F.col("p_partkey").alias("node"),
                    F.when(F.col("p_partkey") < 8, F.lit(None).cast("long"))
                    .otherwise(F.expr("p_partkey div 8"))
                    .alias("parent"),
                    (F.col("p_partkey") % 3 + 1).cast("long").alias("qty"),
                ),
                max_depth=8,
            )
            .groupBy("root")
            .agg(F.sum("eff_qty").alias("s"))
        ),
        # Market basket: pair fan-out bounded by basket size; supports broadcast
        "basket": (
            lambda s: association_rules(
                (li if s == 1 else scaled(li, s, ["l_orderkey"])).select(
                    F.col("l_orderkey").alias("basket"),
                    (F.col("l_partkey") % 40).cast("long").alias("item"),
                ),
                "basket",
                "item",
                min_support=50,
            )
        ),
        # Doc cosine: postings self-join bounded by the df cut
        "doc_cosine": (
            lambda s: doc_cosine2_pairs(
                term_counts(
                    docs if s == 1 else scaled(docs, s, ["doc_id"]),
                    "doc_id",
                    "text",
                ),
                max_df=20,
                min_cos2_e6=1000,
            )
        ),
        # TWA: one keyed lead() window + a partial-combinable aggregate
        "twa": (
            lambda s: (
                lambda ev: time_weighted_avg(
                    ev.select(
                        "user_id",
                        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
                        F.col("ts").cast("timestamp").alias("ts"),
                        "value",
                    ),
                    ["user_id", "day"],
                )
                .groupBy("day")
                .agg(F.count(F.lit(1)).alias("n"))
            )(events if s == 1 else scaled(events, s, ["user_id", "event_id"]))
        ),
        # PPR: same superstep plan as pagerank; seeds scale with nodes
        "ppr": (
            lambda s: personalized_pagerank(
                chain_edges(1)
                if s == 1
                else scaled(chain_edges(1), s, ["src", "dst"]),
                (
                    chain_edges(1)
                    if s == 1
                    else scaled(chain_edges(1), s, ["src", "dst"])
                )
                .select(F.col("src").alias("node"))
                .filter(F.col("node") % 17 == 0)
                .distinct(),
                iterations=3,
            )
        ),
        # l-diversity: two partial-combinable aggregates keyed by QI tuple
        "l_diversity": (
            lambda s: l_diversity_audit(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
                .select(
                    "o_orderpriority",
                    F.year("o_orderdate").cast("long").alias("order_year"),
                    "o_orderstatus",
                ),
                ["o_orderpriority", "order_year"],
                "o_orderstatus",
            )
        ),
        # selectivity grid: one grid aggregate + constant predicate algebra
        "selectivity": (
            lambda s: (
                lambda o: selectivity_bounds(
                    grid_histogram_2d(o, "o_custkey", "order_day", 64, 16),
                    64,
                    16,
                    [("p1", 100, 199, 2000, 2179), ("p2", 0, 10**7, 0, 10**7)],
                )
            )(
                (orders if s == 1 else scaled(orders, s, ["o_orderkey"])).select(
                    F.col("o_custkey").cast("long").alias("o_custkey"),
                    F.expr("datediff(o_orderdate, DATE '1992-01-01')")
                    .cast("long")
                    .alias("order_day"),
                )
            )
        ),
        # TextRank: grouped PageRank — per-round cost one equi-join on
        # (doc_id, word) + partial sums; doc graphs are tiny so no skew
        "textrank": (
            lambda s: textrank_keywords(
                cooccurrence_edges(
                    docs if s == 1 else scaled(docs, s, ["doc_id"]),
                    "doc_id",
                    "text",
                ),
                iterations=2,
                k=3,
            )
        ),
        # SSSP: per-round one frontier-edges equi-join + a MIN aggregate;
        # frontier state is one row per reached node
        "sssp": (
            lambda s: (
                lambda e: sssp_bounded(
                    e.withColumn("w", (F.col("src") + F.col("dst")) % 9 + 1),
                    e.select(F.col("src").alias("node"))
                    .filter(F.col("node") % 17 == 0)
                    .distinct(),
                    rounds=3,
                )
            )(
                chain_edges(1)
                if s == 1
                else scaled(chain_edges(1), s, ["src", "dst"])
            )
        ),
        # Zone-map audit: two partial-combinable agg passes (one per
        # layout) + a constant-size predicate evaluation — pure scan algebra
        "zone_skip": (
            lambda s: skip_report(
                zone_maps(
                    (orders if s == 1 else scaled(orders, s, ["o_orderkey"]))
                    .select(
                        "o_custkey",
                        F.expr("datediff(o_orderdate, DATE '1992-01-01')")
                        .cast("long")
                        .alias("order_day"),
                    ),
                    F.expr("order_day div 30"),
                    ["o_custkey", "order_day"],
                ),
                "date_linear",
                [("cust_range", [("o_custkey", 100, 199)]),
                 ("day_range", [("order_day", 2000, 2179)])],
            )
        ),
        # gopher rules: pure scan-stage column algebra — must be ~linear
        "gopher_rules": (
            lambda s: gopher_flags(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
            )
        ),
        # DSIR: explode + B-row broadcast back-join — two linear passes
        "dsir_weights": (
            lambda s: dsir_weights(
                docs if s == 1 else scaled(docs, s, ["doc_id"]),
                "doc_id",
                "text",
                F.col("lang") == "en",
            )
        ),
        # FD audit: shrinking two-level hash aggregate per pair
        "fd_audit": (
            lambda s: fd_audit(
                (orders if s == 1 else scaled(orders, s, ["o_custkey"]))
                .select("o_custkey", "o_orderstatus", "o_orderpriority"),
                [
                    ("o_custkey", "o_orderstatus"),
                    ("o_orderstatus", "o_orderpriority"),
                ],
            )
        ),
        "net_effect": (
            lambda s: (
                lambda ev: net_effect(
                    ev.select(
                        (F.col("event_id") % (400 * s)).alias("entity"),
                        F.col("event_id").alias("seq"),
                        F.expr(
                            "CASE event_type WHEN 'signup' THEN 'I'"
                            " WHEN 'error' THEN 'D' ELSE 'U' END"
                        ).alias("op"),
                        F.expr(
                            "CAST(floor(value * 1e4) AS BIGINT)"
                        ).alias("v_e4"),
                    ),
                    "entity",
                    "seq",
                    "op",
                    "v_e4",
                )
            )(events if s == 1 else scaled(events, s, ["event_id"]))
        ),
    }

    results = {}
    if only:
        cases = {
            k: v for k, v in cases.items() if any(s in k for s in only)
        }
    for name, mk in cases.items():
        for s in (1, n):
            mk(s).write.format("noop").mode("overwrite").save()  # warm
            t0 = time.perf_counter()
            mk(s).write.format("noop").mode("overwrite").save()
            results[f"{name}@{s}x"] = round(time.perf_counter() - t0, 2)
        results[f"{name}_ratio"] = round(
            results[f"{name}@{n}x"] / max(results[f"{name}@1x"], 1e-9), 1
        )
    print(json.dumps({"n": n, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()

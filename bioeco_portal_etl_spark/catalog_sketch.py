"""Sketch catalog entries (sk*): KMV, HLL, count-min, Bloom, mergeable
histograms and quantile samples, MinHash merges (sketches/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


# ---------------------------------------------------------------------------
# sk1 — KMV distinct-count sketch
# ---------------------------------------------------------------------------


def sk1_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k=64) distinct customers per order priority, alongside the
    exact count the sketch replaces (sketches/kmv.py). The exact column
    is the demo yardstick — production keeps only the sketch, whose
    per-group state is 64 longs instead of the full distinct key set."""
    from bioeco_portal_etl_spark.sketches.kmv import kmv_distinct

    o = T(spark, sf, "orders")
    est = kmv_distinct(o, ["o_orderpriority"], "o_custkey", k=64)
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("true_distinct")
    )
    return est.join(exact, "o_orderpriority").orderBy("o_orderpriority")


def _sk1_sql() -> str:
    from bioeco_portal_etl_spark.sketches.kmv import duck_kmv_distinct

    return f"""
WITH {duck_kmv_distinct("orders", "o_orderpriority", "o_custkey", 64)},
exact AS (
  SELECT o_orderpriority, count(DISTINCT o_custkey) AS true_distinct
  FROM orders GROUP BY o_orderpriority
)
SELECT k.grp AS o_orderpriority, k.est_distinct, e.true_distinct
FROM kmv k JOIN exact e ON e.o_orderpriority = k.grp
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# sk2 — Count-Min sketch heavy hitters
# ---------------------------------------------------------------------------


def sk2_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 suppliers by CMS-estimated lineitem frequency (d=4, w=256 —
    an 8 KB grid standing in for the full per-supplier count), with the
    true count as the one-sided-error witness: est_cnt >= true_cnt always
    (sketches/cms.py). Grid build is one bounded-state shuffle; estimates
    are a broadcast join."""
    from bioeco_portal_etl_spark.sketches.cms import cms_build, cms_estimate

    li = T(spark, sf, "lineitem")
    grid = cms_build(li, "l_suppkey", d=4, w=256)
    keys = T(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("suppkey")
    )
    est = cms_estimate(keys, grid, "suppkey", d=4, w=256)
    true = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return (
        est.join(true, "suppkey", "left")
        .select(
            "suppkey",
            "est_cnt",
            F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
        )
        .orderBy(F.desc("est_cnt"), "suppkey")
        .limit(20)
    )


def _sk2_sql() -> str:
    from bioeco_portal_etl_spark.sketches.cms import duck_cms

    return f"""
WITH {duck_cms("lineitem", "l_suppkey", "supplier", "s_suppkey", 4, 256)},
truec AS (
  SELECT l_suppkey AS suppkey, count(*) AS true_cnt FROM lineitem GROUP BY l_suppkey
)
SELECT c.key AS suppkey, c.est_cnt, coalesce(t.true_cnt, 0) AS true_cnt
FROM cms_est c LEFT JOIN truec t ON t.suppkey = c.key
ORDER BY est_cnt DESC, suppkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# sk3 — HyperLogLog distinct
# ---------------------------------------------------------------------------


def sk3_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Raw-HLL (m=64) distinct parts per returnflag vs the exact count
    (sketches/hll.py): per-group state is 64 max-rank registers that
    merge by pointwise max across any partitioning of the scan."""
    from bioeco_portal_etl_spark.sketches.hll import hll_estimate, hll_registers

    li = T(spark, sf, "lineitem")
    regs = hll_registers(li, ["l_returnflag"], "l_partkey")
    est = hll_estimate(regs, ["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("true_distinct")
    )
    return est.join(exact, "l_returnflag").orderBy("l_returnflag")


def _sk3_sql() -> str:
    from bioeco_portal_etl_spark.sketches.hll import duck_hll

    return f"""
WITH {duck_hll("lineitem", "l_returnflag", "l_partkey")},
exact AS (
  SELECT l_returnflag, count(DISTINCT l_partkey) AS true_distinct
  FROM lineitem GROUP BY l_returnflag
)
SELECT h.grp AS l_returnflag, h.est_distinct, e.true_distinct
FROM hll h JOIN exact e ON e.l_returnflag = h.grp
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# sk4 — Bloom membership gate (md5 family, oracle-checkable)
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 8192, 3


def sk4_bloom_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-gate every document against the 'history' slice (doc_id % 7
    == 0), keyed by content (sketches/bloom_md5.py). actually_seen is the
    exact semi-join truth: possibly_seen implies-nothing-missed (no false
    negatives) while the deterministic false positives stay visible —
    both engines rebuild the identical bitset, so even the FPs hash-match."""
    from bioeco_portal_etl_spark.sketches.bloom_md5 import (
        bloom_build_md5,
        bloom_contains_md5,
    )

    d = T(spark, sf, "documents")
    history = d.filter(F.col("doc_id") % 7 == 0).select(F.col("text"))
    bloom = bloom_build_md5(history, "text", _BLOOM_M, _BLOOM_K)
    gated = bloom_contains_md5(
        d.select("doc_id", "text"), bloom, "text", _BLOOM_M, _BLOOM_K
    )
    truth = history.distinct().withColumn("actually_seen", F.lit(True))
    return (
        gated.join(truth, "text", "left")
        .select(
            "doc_id",
            "possibly_seen",
            F.coalesce("actually_seen", F.lit(False)).alias("actually_seen"),
        )
        .orderBy("doc_id")
    )


def _sk4_sql() -> str:
    from bioeco_portal_etl_spark.sketches.bloom_md5 import duck_bloom

    return f"""
WITH {duck_bloom(
        "SELECT text AS key FROM documents WHERE doc_id % 7 = 0",
        "documents",
        "text",
        _BLOOM_M,
        _BLOOM_K,
    )}
SELECT d.doc_id, b.possibly_seen,
       d.text IN (SELECT key FROM hkeys) AS actually_seen
FROM documents d JOIN bloomed b ON b.key = d.text
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# sk5 — KMV sketch set operations (union / intersection estimates)
# ---------------------------------------------------------------------------


def sk5_kmv_setops(spark: SparkSession, sf: str) -> DataFrame:
    """Union/intersection cardinality estimates for the URGENT vs LOW
    customer sets from their MERGED KMV sketches (sketches/kmv.py
    kmv_set_ops) — the compose-without-rescanning property that lets
    per-partition sketches answer cross-slice overlap questions. Exact
    counts ride along as the yardstick."""
    from bioeco_portal_etl_spark.sketches.kmv import kmv_set_ops

    o = T(spark, sf, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    est = kmv_set_ops(a, b, "o_custkey", k=64)
    tu = (
        a.unionByName(b)
        .distinct()
        .agg(F.count(F.lit(1)).alias("true_union"))
    )
    ti = a.distinct().intersect(b.distinct()).agg(
        F.count(F.lit(1)).alias("true_intersection")
    )
    return est.crossJoin(F.broadcast(tu)).crossJoin(F.broadcast(ti))


def _sk5_sql() -> str:
    from bioeco_portal_etl_spark.sketches.kmv import duck_kmv_set_ops

    a = "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"
    b = "(SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')"
    return f"""
WITH {duck_kmv_set_ops(a, b, "o_custkey", 64)}
SELECT est_union, est_intersection,
       (SELECT count(DISTINCT o_custkey) FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')) AS true_union,
       (SELECT count(*) FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        )) AS true_intersection
FROM kmvset
"""


# ---------------------------------------------------------------------------
# sk6 — hash-sampled quantiles
# ---------------------------------------------------------------------------


def sk6_sampled_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """p50/p90/p99 order totals per priority from a deterministic 1/8
    md5 sample (sketches/sampleq.py): scan-stage predicate, rank-exact
    quantiles on the sampled fraction only."""
    from bioeco_portal_etl_spark.sketches.sampleq import sampled_quantiles

    o = T(spark, sf, "orders")
    return sampled_quantiles(
        o, "o_orderpriority", "o_orderkey", "o_totalprice"
    ).orderBy("g")


def _sk6_sql() -> str:
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60("CAST(o_orderkey AS VARCHAR)")
    return f"""
WITH sample AS (
  SELECT o_orderpriority AS g,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE ({h}) % 8 = 0
),
ranked AS (
  SELECT g, v,
         row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM sample
)
SELECT g, max(n)::BIGINT AS n_sample,
       max(CASE WHEN rn = floor((50 * n + 99)::DOUBLE / 100)::BIGINT
                THEN v END) AS p50_e,
       max(CASE WHEN rn = floor((90 * n + 99)::DOUBLE / 100)::BIGINT
                THEN v END) AS p90_e,
       max(CASE WHEN rn = floor((99 * n + 99)::DOUBLE / 100)::BIGINT
                THEN v END) AS p99_e
FROM ranked GROUP BY g ORDER BY g
"""


# ---------------------------------------------------------------------------
# sk7 — HLL mergeability under the hash gate
# ---------------------------------------------------------------------------


def sk7_hll_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct active users per WEEK and overall, computed by MERGING
    per-day HLL register sketches (pointwise max — sketches/hll.py
    merge_registers), never re-reading raw data at the coarser grains.
    The oracle sketches each grain DIRECTLY: hash equality IS the proof
    that register-max merge is lossless — the property that lets a
    100 TB deployment keep daily sketches and answer any coarser
    distinct-count question from them."""
    from bioeco_portal_etl_spark.sketches.hll import (
        hll_estimate,
        hll_registers,
        merge_registers,
    )

    ev = T(spark, sf, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("d"), "user_id"
    )
    day_regs = hll_registers(ev, ["d"], "user_id")
    wk_regs = merge_registers(
        day_regs.withColumn("wk", F.to_date(F.date_trunc("week", F.col("d")))),
        ["wk"],
    )
    weekly = hll_estimate(wk_regs, ["wk"]).select(
        F.lit("week").alias("level"),
        F.col("wk").cast("string").alias("key"),
        "est_distinct",
    )
    all_regs = merge_registers(day_regs, [])
    overall = hll_estimate(all_regs, []).select(
        F.lit("all").alias("level"), F.lit("all").alias("key"), "est_distinct"
    )
    return weekly.unionByName(overall).orderBy("level", "key")


def _sk7_sql() -> str:
    from bioeco_portal_etl_spark.sketches.hll import duck_hll

    wk = duck_hll(
        "(SELECT date_trunc('week', ts::DATE) AS wk, user_id FROM events)",
        "wk",
        "user_id",
    )
    al = duck_hll("events", "'all'", "user_id")
    return f"""
SELECT * FROM (
  WITH {wk}
  SELECT 'week' AS level, grp::VARCHAR AS key, est_distinct FROM hll
)
UNION ALL
SELECT * FROM (
  WITH {al}
  SELECT 'all' AS level, grp AS key, est_distinct FROM hll
)
ORDER BY level, key"""


# ---------------------------------------------------------------------------
# sk8 — mergeable histogram quantiles, certified against exact
# ---------------------------------------------------------------------------

_SK8_BINS, _SK8_LO, _SK8_STEP = 16, 0, 3200
_SK8_PCTS = [("p50", 2, 1), ("p90", 10, 9)]


def sk8_hist_merge_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Day-grain value histograms merged to a global sketch by bin
    addition, p50/p90 read from the merged bins, then CERTIFIED against
    the exact nearest-rank quantiles: contained flags must be 1 (the
    exact value's clamped bin equals the estimated bin) — sketches/
    histq.py. One output row."""
    from bioeco_portal_etl_spark.sketches.histq import (
        binned_histogram,
        exact_quantiles_cents,
        hist_quantiles,
        merge_histograms,
    )

    ev = T(spark, sf, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "value",
    )
    day_hist = binned_histogram(
        ev, ["day"], "value", _SK8_BINS, _SK8_LO, _SK8_STEP
    )
    merged = merge_histograms(day_hist, [])
    est = hist_quantiles(merged, [], _SK8_PCTS, _SK8_LO, _SK8_STEP)
    exact = exact_quantiles_cents(ev, [], "value", _SK8_PCTS)

    def clamp_bin(c: F.Column) -> F.Column:
        return F.least(
            F.greatest(
                F.floor((c - F.lit(_SK8_LO)) / F.lit(_SK8_STEP)).cast("long"),
                F.lit(0).cast("long"),
            ),
            F.lit(_SK8_BINS - 1).cast("long"),
        )

    out = est.crossJoin(F.broadcast(exact))
    cols = [F.col("n").cast("long").alias("n")]
    for name, _, _ in _SK8_PCTS:
        cols += [
            F.col(f"{name}_bin").cast("long").alias(f"{name}_bin"),
            F.col(f"{name}_est_cents").cast("long").alias(f"{name}_est_cents"),
            F.col(f"{name}_exact_cents")
            .cast("long")
            .alias(f"{name}_exact_cents"),
            (clamp_bin(F.col(f"{name}_exact_cents")) == F.col(f"{name}_bin"))
            .cast("long")
            .alias(f"{name}_contained"),
        ]
    return out.select(*cols).orderBy("n")


def _sk8_sql() -> str:
    bins, lo, step = _SK8_BINS, _SK8_LO, _SK8_STEP
    return f"""
WITH vals AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS day,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
day_hist AS (
  SELECT day,
         least(greatest(CAST(floor((v - {lo}) / {step}) AS BIGINT), 0),
               {bins - 1}) AS bin,
         count(*) AS cnt
  FROM vals GROUP BY day, bin
),
merged AS (SELECT bin, sum(cnt)::BIGINT AS cnt FROM day_hist GROUP BY bin),
cum AS (
  SELECT bin, cnt,
         sum(cnt) OVER (ORDER BY bin) AS cum,
         sum(cnt) OVER () AS n
  FROM merged
),
est AS (
  SELECT max(n)::BIGINT AS n,
         min(CASE WHEN 2 * cum - 1 * n >= 0 THEN bin END)::BIGINT AS p50_bin,
         min(CASE WHEN 10 * cum - 9 * n >= 0 THEN bin END)::BIGINT AS p90_bin
  FROM cum
),
freq AS (SELECT v, count(*) AS c FROM vals GROUP BY v),
fcum AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM freq
),
exact AS (
  SELECT min(CASE WHEN 2 * cum - 1 * n >= 0 THEN v END)::BIGINT
           AS p50_exact_cents,
         min(CASE WHEN 10 * cum - 9 * n >= 0 THEN v END)::BIGINT
           AS p90_exact_cents
  FROM fcum
)
SELECT n,
       p50_bin, ({lo} + p50_bin * {step})::BIGINT AS p50_est_cents,
       p50_exact_cents,
       CASE WHEN least(greatest(CAST(floor((p50_exact_cents - {lo}) / {step})
                                     AS BIGINT), 0), {bins - 1}) = p50_bin
            THEN 1 ELSE 0 END::BIGINT AS p50_contained,
       p90_bin, ({lo} + p90_bin * {step})::BIGINT AS p90_est_cents,
       p90_exact_cents,
       CASE WHEN least(greatest(CAST(floor((p90_exact_cents - {lo}) / {step})
                                     AS BIGINT), 0), {bins - 1}) = p90_bin
            THEN 1 ELSE 0 END::BIGINT AS p90_contained
FROM est CROSS JOIN exact
ORDER BY n"""


# ---------------------------------------------------------------------------
# sk10 — Bloom false-positive-rate certificate
# ---------------------------------------------------------------------------

_BF_M, _BF_K = 4096, 3


def sk10_bloom_fpr(spark: SparkSession, sf: str) -> DataFrame:
    """Build the md5 Bloom filter on even customer keys, probe with a
    DISJOINT population (odd keys shifted by 1e9 — no string collides
    with any inserted key), and report measured fpr_e6 next to the
    floor-e4 theoretical (1 - e^(-kn/m))^k bound. One row."""
    from bioeco_portal_etl_spark.sketches.bloom_md5 import (
        bloom_build_md5,
        bloom_contains_md5,
    )

    c = T(spark, sf, "customer")
    hist = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("key")
    ).distinct()
    probe = c.filter(F.col("c_custkey") % 2 == 1).select(
        (F.col("c_custkey") + 1_000_000_000).alias("key")
    ).distinct()
    bloom = bloom_build_md5(hist, "key", _BF_M, _BF_K)
    probed = bloom_contains_md5(probe, bloom, "key", _BF_M, _BF_K)
    n_ins = hist.agg(F.count(F.lit(1)).alias("n_inserted"))
    agg = probed.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.col("possibly_seen").cast("long")).alias("n_false_pos"),
    )
    out = agg.crossJoin(F.broadcast(n_ins))
    load = F.col("n_inserted") * _BF_K / F.lit(float(_BF_M))
    one_bit = 1 - F.exp(-load)
    theory = F.floor(one_bit * one_bit * one_bit * 10000).cast("long")
    return out.select(
        F.col("n_inserted").cast("long").alias("n_inserted"),
        F.col("n_probed").cast("long").alias("n_probed"),
        F.col("n_false_pos").cast("long").alias("n_false_pos"),
        F.expr("CAST((1000000 * n_false_pos) div n_probed AS BIGINT)").alias(
            "fpr_e6"
        ),
        theory.alias("theory_fpr_e4"),
    ).orderBy("n_inserted")


def _sk10_sql() -> str:
    from bioeco_portal_etl_spark.sketches.bloom_md5 import duck_bloom

    body = duck_bloom(
        "SELECT DISTINCT c_custkey AS key FROM customer WHERE c_custkey % 2 = 0",
        "(SELECT DISTINCT c_custkey + 1000000000 AS key FROM customer"
        " WHERE c_custkey % 2 = 1)",
        "key",
        _BF_M,
        _BF_K,
    )
    return f"""
WITH {body.lstrip()},
ins AS (
  SELECT count(DISTINCT c_custkey) AS n_inserted FROM customer
  WHERE c_custkey % 2 = 0
),
pr AS (
  SELECT count(*) AS n_probed,
         sum(CASE WHEN possibly_seen THEN 1 ELSE 0 END) AS n_false_pos
  FROM bloomed
)
SELECT CAST(n_inserted AS BIGINT) AS n_inserted,
       CAST(n_probed AS BIGINT) AS n_probed,
       CAST(n_false_pos AS BIGINT) AS n_false_pos,
       CAST((1000000 * n_false_pos) // n_probed AS BIGINT) AS fpr_e6,
       CAST(floor((1 - exp(-(n_inserted * {_BF_K} / {float(_BF_M)})))
                  * (1 - exp(-(n_inserted * {_BF_K} / {float(_BF_M)})))
                  * (1 - exp(-(n_inserted * {_BF_K} / {float(_BF_M)})))
                  * 10000) AS BIGINT) AS theory_fpr_e4
FROM pr CROSS JOIN ins
ORDER BY n_inserted"""


# ---------------------------------------------------------------------------
# sk11 — mergeable MinHash language similarity, certified
# ---------------------------------------------------------------------------


def sk11_minhash_lang_sim(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise language Jaccard: 8-permutation mergeable MinHash
    estimate next to the exact set Jaccard (sketches/minhash_merge.py)."""
    from bioeco_portal_etl_spark.sketches.minhash_merge import (
        group_minhash_similarity,
    )

    d = T(spark, sf, "documents").select(
        F.coalesce("lang", F.lit("und")).alias("lang"), "doc_id", "text"
    )
    return group_minhash_similarity(
        d, "lang", "doc_id", "text", k=3, num_perm=8
    ).orderBy("grp_a", "grp_b")


def _sk11_sql() -> str:
    from bioeco_portal_etl_spark.sketches.minhash_merge import (
        duck_group_minhash_similarity,
    )

    body = duck_group_minhash_similarity(
        "SELECT coalesce(lang, 'und') AS grp, doc_id, text FROM documents",
        k=3,
        num_perm=8,
    )
    return f"""
WITH {body}
SELECT grp_a, grp_b, est_matches, est_jaccard_e6, inter_size,
       union_size, true_jaccard_e6
FROM gmh ORDER BY grp_a, grp_b"""


# ---------------------------------------------------------------------------
# sk12 — CMS error sweep
# ---------------------------------------------------------------------------


def sk12_cms_error_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """(w, n_keys, total_true, total_over, max_over, over_rate_e6):
    Count-Min point estimates for every supplier key vs true lineitem
    counts at widths 64/256/1024 (d = 4). Overcount is one-sided by
    construction; over_rate halves-ish per width doubling — the ε ∝ 1/w
    law, certified."""
    from bioeco_portal_etl_spark.sketches.cms import cms_build, cms_estimate

    li = T(spark, sf, "lineitem")
    keys = T(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("suppkey")
    )
    true = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    out = None
    for w in (64, 256, 1024):
        grid = cms_build(li, "l_suppkey", d=4, w=w)
        est = cms_estimate(keys, grid, "suppkey", d=4, w=w)
        row = (
            est.join(true, "suppkey", "left")
            .select(
                "suppkey",
                "est_cnt",
                F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("true_cnt").alias("total_true"),
                F.sum(F.col("est_cnt") - F.col("true_cnt")).alias(
                    "total_over"
                ),
                F.max(F.col("est_cnt") - F.col("true_cnt")).alias("max_over"),
            )
            .select(
                F.lit(w).cast("long").alias("w"),
                F.col("n_keys").cast("long").alias("n_keys"),
                F.col("total_true").cast("long").alias("total_true"),
                F.col("total_over").cast("long").alias("total_over"),
                F.col("max_over").cast("long").alias("max_over"),
                F.expr(
                    "CAST((1000000 * total_over) div total_true AS BIGINT)"
                ).alias("over_rate_e6"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("w")


def _sk12_sql() -> str:
    from bioeco_portal_etl_spark.sketches.cms import duck_cms

    arms = []
    for w in (64, 256, 1024):
        body = duck_cms(
            "lineitem", "l_suppkey", "supplier", "s_suppkey", d=4, w=w
        )
        arms.append(f"""
SELECT {w} AS w, count(*)::BIGINT AS n_keys,
       sum(t.true_cnt)::BIGINT AS total_true,
       sum(e.est_cnt - t.true_cnt)::BIGINT AS total_over,
       max(e.est_cnt - t.true_cnt)::BIGINT AS max_over,
       CAST((1000000 * sum(e.est_cnt - t.true_cnt))
            // sum(t.true_cnt) AS BIGINT) AS over_rate_e6
FROM (WITH {body}
      SELECT key, est_cnt FROM cms_est) e
LEFT JOIN (SELECT l_suppkey AS key, count(*)::BIGINT AS true_cnt
           FROM lineitem GROUP BY 1) t USING (key)""")
    u = " UNION ALL ".join(f"({a})" for a in arms)
    return f"""
SELECT * FROM ({u}) ORDER BY w"""


# ---------------------------------------------------------------------------
# sk13 — histogram-quantile error sweep
# ---------------------------------------------------------------------------


def sk13_histq_error_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """(bins, n, p50_est_cents, p50_true_cents, err_cents): the
    mergeable fixed-bin histogram's p50 vs the exact nearest-rank p50
    of o_totalprice, at 8/16/64 bins over [0, 51200) dollars — wider
    bins, coarser answers, by a measured amount."""
    from bioeco_portal_etl_spark.sketches.histq import (
        binned_histogram,
        exact_quantiles_cents,
        hist_quantiles,
    )

    o = T(spark, sf, "orders")
    exact = exact_quantiles_cents(
        o, [], "o_totalprice", [("p50", 2, 1)]
    ).select(F.col("p50_exact_cents").alias("p50_true_cents"))
    out = None
    for bins in (8, 16, 64):
        step = 5_120_000 // bins  # cents over [0, 51200$)
        h = binned_histogram(
            o, [], "o_totalprice", bins=bins, lo_cents=0, step_cents=step
        )
        est = hist_quantiles(
            h, [], [("p50", 2, 1)], lo_cents=0, step_cents=step
        ).select(
            F.lit(bins).cast("long").alias("bins"),
            F.col("n").cast("long").alias("n"),
            F.col("p50_est_cents").cast("long").alias("p50_est_cents"),
        )
        row = est.crossJoin(F.broadcast(exact)).select(
            "bins",
            "n",
            "p50_est_cents",
            F.col("p50_true_cents").cast("long").alias("p50_true_cents"),
            (F.col("p50_est_cents") - F.col("p50_true_cents"))
            .cast("long")
            .alias("err_cents"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bins")


def _sk13_sql() -> str:
    arms = []
    for bins in (8, 16, 64):
        step = 5_120_000 // bins
        arms.append(f"""
SELECT {bins} AS bins, max(n)::BIGINT AS n,
       (min(CASE WHEN 2 * cum >= n THEN bin END) * {step})::BIGINT
         AS p50_est_cents
FROM (
  SELECT bin, cnt,
         sum(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(cnt) OVER () AS n
  FROM (
    SELECT least(greatest(CAST(floor((CAST(floor(o_totalprice * 100)
             AS BIGINT) - 0) / {step}) AS BIGINT), 0), {bins - 1}) AS bin,
           count(*)::BIGINT AS cnt
    FROM orders GROUP BY 1))""")
    u = " UNION ALL ".join(f"({a})" for a in arms)
    return f"""
WITH exact AS (
  SELECT min(CASE WHEN 2 * cumr >= n THEN v END)::BIGINT AS p50_true_cents
  FROM (
    SELECT v, sum(c) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cumr,
           sum(c) OVER () AS n
    FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
                 count(*)::BIGINT AS c
          FROM orders GROUP BY 1))
),
arms AS ({u})
SELECT a.bins, a.n, a.p50_est_cents, e.p50_true_cents,
       (a.p50_est_cents - e.p50_true_cents)::BIGINT AS err_cents
FROM arms a CROSS JOIN exact e ORDER BY a.bins"""


CATALOG = {
    "sk1_kmv_distinct": (sk1_kmv_distinct, _sk1_sql()),
    "sk2_cms_heavy_hitters": (sk2_cms_heavy_hitters, _sk2_sql()),
    "sk3_hll_distinct": (sk3_hll_distinct, _sk3_sql()),
    "sk4_bloom_gate": (sk4_bloom_gate, _sk4_sql()),
    "sk5_kmv_setops": (sk5_kmv_setops, _sk5_sql()),
    "sk6_sampled_quantiles": (sk6_sampled_quantiles, _sk6_sql()),
    "sk7_hll_merge": (sk7_hll_merge, _sk7_sql()),
    "sk8_hist_merge_quantiles": (sk8_hist_merge_quantiles, _sk8_sql()),
    "sk10_bloom_fpr": (sk10_bloom_fpr, _sk10_sql()),
    "sk11_minhash_lang_sim": (sk11_minhash_lang_sim, _sk11_sql()),
    "sk12_cms_error_sweep": (sk12_cms_error_sweep, _sk12_sql()),
    "sk13_histq_error_sweep": (sk13_histq_error_sweep, _sk13_sql()),
}

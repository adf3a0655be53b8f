"""Dedup catalog entries (td*): exact, MinHash+LSH, SimHash, n-gram Jaccard,
containment, embedding and semantic near-duplicates, decontamination and
cluster keep-best (text/dedupe.py, similarity/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.catalog_ann import _DUCK_BUCKET, _DUCK_COS, _DUCK_VEC
from bioeco_portal_etl_spark.catalog_text import TX3_SQL
from bioeco_portal_etl_spark.similarity.knn import embedding_neardup_pairs
from bioeco_portal_etl_spark.sources.files import read_parquet_table as T
from bioeco_portal_etl_spark.text.analysis import quality_table
from bioeco_portal_etl_spark.text.dedupe import (
    MERSENNE31,
    PERM_A,
    PERM_B,
    exact_dedupe,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from bioeco_portal_etl_spark.text.tokenize import duck_shingles, duck_tokens


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def td1_exact_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return exact_dedupe(d, "doc_id", "text").orderBy("doc_id")


TD1_SQL = """
SELECT doc_id,
       md5(coalesce(text, '')) AS content_hash,
       min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))) AS is_duplicate
FROM documents ORDER BY doc_id
"""


_DUCK_SIG_MINS = ", ".join(
    f"min(({PERM_A[p]} * h + {PERM_B[p]}) % {MERSENNE31}) AS m{p}" for p in range(8)
)
_DUCK_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS b, m{2 * b} || '|' || m{2 * b + 1} AS bkey FROM sig"
    for b in range(4)
)
_DUCK_SH = f"""
sh AS (
  SELECT doc_id, {duck_shingles(duck_tokens('text'), 3)} AS sg
  FROM (SELECT doc_id, text FROM documents)
),
ex AS (SELECT doc_id, unnest(sg) AS s FROM sh),
hx AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 16),
             i -> strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1),
           (a, b) -> a * 16 + b) % {MERSENNE31} AS h
  FROM ex
),
sig AS (SELECT doc_id, {_DUCK_SIG_MINS} FROM hx GROUP BY doc_id),
bands AS (
  {_DUCK_BANDS}
),
sized AS (
  SELECT b, bkey FROM bands GROUP BY b, bkey HAVING count(*) BETWEEN 2 AND 64
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bands a
  JOIN sized s ON s.b = a.b AND s.bkey = a.bkey
  JOIN bands c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id
)
"""


def td2_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text").orderBy("id_a", "id_b")


TD2_SQL = f"WITH {_DUCK_SH} SELECT id_a, id_b FROM cand ORDER BY id_a, id_b"


def td3_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return simhash(d, "doc_id", "text").orderBy("doc_id")


_SIMHASH_BITSUMS = ", ".join(
    f"sum(CASE WHEN substr(hx, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{b}"
    for b in range(16)
)
_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16)
)
TD3_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
bits AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM h GROUP BY doc_id)
SELECT doc_id, ({_SIMHASH_VALUE})::BIGINT AS simhash FROM bits ORDER BY doc_id
"""


def td4_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


TD4_SQL = f"""
WITH {_DUCK_SH},
scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.sg, b.sg)) AS n_common,
         len(list_distinct(a.sg || b.sg)) AS n_union
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b
)
SELECT id_a, id_b, n_common, n_union, round(n_common / n_union, 4) AS jaccard
FROM scored WHERE n_common / n_union >= 0.5 ORDER BY id_a, id_b
"""


TD5_THRESHOLD_E4 = 2000


def td5_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "embeddings")
    return embedding_neardup_pairs(
        e, "embedding", "vec_id", threshold_e4=TD5_THRESHOLD_E4, bits=4
    ).orderBy("id_a", "id_b")


TD5_SQL = f"""
WITH {_DUCK_VEC},
nb AS (SELECT vec_id, e, nrm, {_DUCK_BUCKET} AS bucket FROM n)
SELECT q.vec_id AS id_a, c.vec_id AS id_b,
       floor(({_DUCK_COS}) * 10000)::BIGINT AS score_e4
FROM nb q JOIN nb c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
WHERE floor(({_DUCK_COS}) * 10000) >= {TD5_THRESHOLD_E4}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Decontamination / repetition / splitting (training-pipeline extensions)
# ---------------------------------------------------------------------------


def td6_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark n-gram overlap (GPT-3/PaLM-style decontamination check):
    docs 0-19 act as the held-out benchmark; every corpus doc sharing >= 2
    distinct 3-shingles with a benchmark doc is reported with its overlap
    count (text/decontam.py — broadcast benchmark shingles, map-side join)."""
    from bioeco_portal_etl_spark.text.decontam import ngram_overlap_pairs

    d = T(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") < 20)
    corpus = d.filter(F.col("doc_id") >= 20)
    return ngram_overlap_pairs(
        corpus, bench, "doc_id", "text", k=3, min_common=2
    ).orderBy("doc_id", "bench_id")


TD6_SQL = f"""
WITH sh AS (
  SELECT doc_id, {duck_shingles(duck_tokens('text'), 3)} AS sg FROM documents
),
b AS (SELECT doc_id AS bench_id, unnest(sg) AS s FROM sh WHERE doc_id < 20),
c AS (SELECT doc_id, unnest(sg) AS s FROM sh WHERE doc_id >= 20),
j AS (
  SELECT c.doc_id, b.bench_id, count(*) AS n_common
  FROM c JOIN b USING (s) GROUP BY c.doc_id, b.bench_id
)
SELECT doc_id, bench_id, n_common FROM j
WHERE n_common >= 2 ORDER BY doc_id, bench_id
"""


def td7_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup PAIRS -> connected components with cluster_id = min member
    (text/dedupe.connected_components — iterative min-label propagation;
    Spark SQL has no recursive CTE, the driver loop converges in
    O(cluster diameter) joins). Oracle: DuckDB RECURSIVE CTE closure over
    the identical LSH pair set."""
    from bioeco_portal_etl_spark.text.dedupe import connected_components

    d = T(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    return connected_components(pairs).orderBy("node")


TD7_SQL = f"""
WITH RECURSIVE {_DUCK_SH},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b, id_a FROM cand
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
)
SELECT node, min(label) AS cluster_id FROM walk GROUP BY node ORDER BY node
"""



def td9_cluster_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup resolution, end to end: LSH pairs (td2) -> connected
    components (td7) -> KEEP the highest-quality member of each cluster
    (tx3's quality score), drop the rest — the decision step that turns
    pair mining into an actual smaller corpus. Per-doc verdict rows
    (doc_id, cluster_id, quality, keep) so downstream is a semi-join.
    Tie on quality -> smallest doc_id (deterministic both engines: the
    score is round(.,4)-quantized, so equality is exact)."""
    from bioeco_portal_etl_spark.text.dedupe import connected_components

    d = T(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    comps = connected_components(pairs)
    q = quality_table(d, "doc_id", "text").select("doc_id", "quality")
    member = comps.join(q, comps.node == q.doc_id).select(
        "cluster_id", F.col("node").alias("doc_id"), "quality"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        member.withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality", "keep")
        .orderBy("doc_id")
    )


def _td9_sql() -> str:
    # reuse tx3's full quality query as a nested subquery, minus its ORDER BY
    q = TX3_SQL.strip()
    quality_body = q[: q.rindex("FROM f")] + "FROM f"
    return f"""
WITH RECURSIVE {_DUCK_SH},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b, id_a FROM cand
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
),
comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
q AS ({quality_body}),
member AS (
  SELECT c.cluster_id, c.node AS doc_id, q.quality
  FROM comp c JOIN q ON q.doc_id = c.node
)
SELECT doc_id, cluster_id, quality,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality DESC, doc_id ASC) = 1 AS keep
FROM member ORDER BY doc_id
"""


TD9_SQL = _td9_sql()


def td8_segment_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document segment dedupe (text/dedupe.segment_dedupe): split every
    document into segments, keep only the corpus-wide first occurrence of each
    exact segment, reassemble. The synthetic corpus is single-line, so the
    catalog face splits on the literal token ``' the '`` (documented stand-in
    for the newline of real multi-paragraph text; tests/test_training_ops.py
    exercises the real ``'\\n'`` path)."""
    from bioeco_portal_etl_spark.text.dedupe import segment_dedupe

    d = T(spark, sf, "documents")
    return segment_dedupe(d, "doc_id", "text", sep=" the ", joiner="\n").orderBy(
        "doc_id"
    )


TD8_SQL = """
WITH sp AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' the ') AS segs FROM documents
),
p AS (
  SELECT doc_id, unnest(range(0, len(segs)))::BIGINT AS pos, unnest(segs) AS seg
  FROM sp
),
m AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
  FROM p
)
SELECT doc_id,
       count(*)::BIGINT AS n_segs,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, chr(10) ORDER BY pos),
                '') AS text_dedup
FROM m GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# td10 — containment (near-superset) dedupe
# ---------------------------------------------------------------------------


def td10_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment pairs via rare-shingle blocking
    (text/dedupe.py containment_pairs): catches quote-inclusion pairs
    whose low Jaccard hides them from td2's minhash bands."""
    from bioeco_portal_etl_spark.text.dedupe import containment_pairs

    d = T(spark, sf, "documents")
    return containment_pairs(d, "doc_id", "text", threshold=0.8).orderBy(
        "id_a", "id_b"
    )


def _td10_sql() -> str:
    from bioeco_portal_etl_spark.text.tokenize import duck_shingles, duck_tokens

    return f"""
WITH sh AS (
  SELECT doc_id, {duck_shingles(duck_tokens("text"), 3)} AS sg
  FROM (SELECT doc_id, text FROM documents)
),
ex AS (SELECT doc_id, unnest(sg) AS s FROM sh),
dfreq AS (SELECT s, count(*)::BIGINT AS df FROM ex GROUP BY s),
ranked AS (
  SELECT e.doc_id, e.s, d.df,
         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.s) AS rk,
         count(*) OVER (PARTITION BY e.doc_id) AS n
  FROM ex e JOIN dfreq d ON d.s = e.s
),
prefix AS (
  SELECT doc_id, s FROM ranked
  -- exact integer miss budget (n * 2000) // 10000 = floor(0.2 n): the
  -- float 0.19999...996 * n form lost a whole miss at exact boundaries
  -- (round-6 hypothesis-completeness fix, mirrored from dedupe.py)
  WHERE rk <= (n * 2000) // 10000 + 1
    AND df BETWEEN 2 AND 1000
),
probe AS (
  SELECT e.doc_id, e.s FROM ex e JOIN dfreq d ON d.s = e.s
  WHERE d.df <= 1000
),
cand AS (
  SELECT DISTINCT least(p.doc_id, q.doc_id) AS id_a,
                  greatest(p.doc_id, q.doc_id) AS id_b
  FROM prefix p JOIN probe q ON q.s = p.s AND q.doc_id <> p.doc_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.sg, y.sg))::BIGINT AS n_common,
         len(x.sg)::BIGINT AS n_a, len(y.sg)::BIGINT AS n_b
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, n_common, n_a, n_b,
       ((n_common * 10000) // n_a)::BIGINT AS cont_a_e4,
       ((n_common * 10000) // n_b)::BIGINT AS cont_b_e4
FROM scored
WHERE ((n_common * 10000) // n_a) >= 8000
   OR ((n_common * 10000) // n_b) >= 8000
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# td11 — semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------

TD11_THRESHOLD_E4 = 3500


def td11_semantic_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup verdict per vector: cluster (injected centroids vec_id<8,
    the ts3 convention — keeps query-time semantics fully oracle-checked),
    centroid similarity, count of better-ranked near-duplicate neighbors
    at cosine >= 0.35, and the keep flag. Pairwise work is blocked by
    cluster; comparisons happen on floor-e4 ints on both engines."""
    from bioeco_portal_etl_spark.similarity.semantic_dedupe import (
        semantic_dedupe,
    )

    e = T(spark, sf, "embeddings")
    cents = e.filter(F.col("vec_id") < 8)
    return semantic_dedupe(
        e, cents, "embedding", "vec_id", TD11_THRESHOLD_E4
    ).orderBy("vec_id")


TD11_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_transform(range(1, 65), i -> e[i] * e[i]),
                          (a, b) -> a + b)) AS nrm
  FROM v
),
cent AS (SELECT vec_id AS cluster, e AS ce, nrm AS cn FROM n WHERE vec_id < 8),
scored AS (
  SELECT m.vec_id, c.cluster,
         floor(list_reduce(list_transform(range(1, 65),
                 i -> m.e[i] * c.ce[i]), (a, b) -> a + b)
               / (m.nrm * c.cn) * 10000)::BIGINT AS cent_sim_e4
  FROM n m CROSS JOIN cent c
),
asg AS (
  SELECT vec_id, cluster, cent_sim_e4 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cent_sim_e4 DESC, cluster) AS rk
    FROM scored) WHERE rk = 1
),
mem AS (
  SELECT a.cluster, a.cent_sim_e4, n.vec_id, n.e, n.nrm
  FROM asg a JOIN n USING (vec_id)
),
better AS (
  SELECT v2.vec_id, count(*)::BIGINT AS n_better
  FROM mem u JOIN mem v2 ON u.cluster = v2.cluster
         AND u.vec_id <> v2.vec_id
         AND (u.cent_sim_e4 < v2.cent_sim_e4 OR
              (u.cent_sim_e4 = v2.cent_sim_e4 AND u.vec_id < v2.vec_id))
  WHERE floor(list_reduce(list_transform(range(1, 65),
          i -> u.e[i] * v2.e[i]), (a, b) -> a + b)
        / (u.nrm * v2.nrm) * 10000)::BIGINT >= {TD11_THRESHOLD_E4}
  GROUP BY v2.vec_id
)
SELECT a.vec_id, a.cluster, a.cent_sim_e4,
       coalesce(b.n_better, 0)::BIGINT AS n_better,
       (CASE WHEN coalesce(b.n_better, 0) = 0 THEN 1 ELSE 0 END)::BIGINT
         AS keep
FROM asg a LEFT JOIN better b ON a.vec_id = b.vec_id
ORDER BY a.vec_id
"""


# ---------------------------------------------------------------------------
# td12 — LSH candidate quality vs exact-Jaccard ground truth
# ---------------------------------------------------------------------------

_TD12_THRESH = "0.5"


def td12_lsh_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Recall/precision of the td2 MinHash-LSH candidate generator
    against the complete exact ground truth: all pairs with 3-shingle
    Jaccard >= 0.5 (blocked by shared shingle — complete for any
    jaccard > 0, so no true pair can hide). One row:
    (n_candidates, n_true, tp, recall_e4, precision_e4). The hash gate
    makes the approximate operator's QUALITY a regression-tested number,
    not a hope."""
    from bioeco_portal_etl_spark.text.dedupe import (
        minhash_lsh_pairs,
        shingled,
    )

    d = T(spark, sf, "documents")
    sh = shingled(d, "doc_id", "text", 3).persist()
    try:
        cand = minhash_lsh_pairs(d, "doc_id", "text", shingles=sh)
        # Round-12 (guide §2.3): the shingle arrays are SETS
        # (text/tokenize.shingles is array_distinct), so |A∩B| is exactly
        # the count of shared shingles in the blocked self-join and
        # |A∪B| = |A| + |B| - |A∩B| — one combinable pair count replaces
        # the previous distinct-pairs exchange plus two array-attaching
        # joins plus per-pair array_intersect/array_union scans. The
        # threshold test is the identical int/int double division.
        exg = sh.select(
            "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
        )
        a, b = exg.alias("a"), exg.alias("b")
        gt = (
            a.join(b, "s")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("id_a"),
                F.col("a.n").alias("n_a"),
                F.col("b.doc_id").alias("id_b"),
                F.col("b.n").alias("n_b"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(
                F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
                >= float(_TD12_THRESH)
            )
            .select("id_a", "id_b")
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        n_true = gt.agg(F.count(F.lit(1)).alias("n_true"))
        tp = cand.join(gt, ["id_a", "id_b"]).agg(
            F.count(F.lit(1)).alias("tp")
        )
        out = (
            n_cand.crossJoin(n_true)
            .crossJoin(tp)
            .select(
                "n_candidates",
                "n_true",
                "tp",
                F.expr("(10000 * tp) div n_true").alias("recall_e4"),
                F.expr("(10000 * tp) div n_candidates").alias(
                    "precision_e4"
                ),
            )
        )
        # single-row result: materialize before unpersisting the stage
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        sh.unpersist()


def _td12_sql() -> str:
    return f"""
WITH {_DUCK_SH},
gt_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
),
gt AS (
  SELECT g.id_a, g.id_b
  FROM gt_cand g
  JOIN sh a ON a.doc_id = g.id_a
  JOIN sh b ON b.doc_id = g.id_b
  WHERE len(list_intersect(a.sg, b.sg))
        / len(list_distinct(a.sg || b.sg)) >= {_TD12_THRESH}
),
m AS (
  SELECT (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
         (SELECT count(*) FROM gt)::BIGINT AS n_true,
         (SELECT count(*) FROM cand c
            JOIN gt g ON c.id_a = g.id_a AND c.id_b = g.id_b)::BIGINT AS tp
)
SELECT n_candidates, n_true, tp,
       ((10000 * tp) // n_true)::BIGINT AS recall_e4,
       ((10000 * tp) // n_candidates)::BIGINT AS precision_e4
FROM m"""


# ---------------------------------------------------------------------------
# td13 — shard dup locality
# ---------------------------------------------------------------------------


def td13_shard_dup_locality(spark: SparkSession, sf: str) -> DataFrame:
    """Intra- vs inter-shard duplicate pairs (shard = doc_id mod 8) per
    cluster size, from the prefix-fingerprint clusters — text/dedupe.py
    shard_dup_locality. Pair counts come from group sizes; no pair is
    ever enumerated."""
    from bioeco_portal_etl_spark.text.dedupe import shard_dup_locality

    d = T(spark, sf, "documents").select(
        "doc_id",
        F.md5(F.substring(F.coalesce("text", F.lit("")), 1, 100)).alias("fp"),
    )
    return shard_dup_locality(d, "doc_id", "fp", n_shards=8).orderBy(
        "cluster_size"
    )


def _td13_sql() -> str:
    from bioeco_portal_etl_spark.text.dedupe import duck_shard_dup_locality

    body = duck_shard_dup_locality(
        "SELECT doc_id AS id,"
        " md5(substr(coalesce(text, ''), 1, 100)) AS fp FROM documents",
        n_shards=8,
    )
    return f"""
WITH {body}
SELECT cluster_size, n_clusters, intra_pairs, inter_pairs, inter_share_e6
FROM sdl ORDER BY cluster_size"""


# ---------------------------------------------------------------------------
# td14 — exact-vs-LSH dedupe agreement
# ---------------------------------------------------------------------------


def td14_dedupe_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """One-row Venn: exact prefix-cluster pairs vs LSH candidates.
    Exact pairs enumerate INSIDE clusters only (cluster sizes are
    single digits — the td12 sampled-slice argument); the LSH side is
    td2's banded candidate set. exact_covered_e6 is LSH's recall of
    known dups; lsh_extra is its additional (to-be-verified) volume."""
    from bioeco_portal_etl_spark.text.dedupe import minhash_lsh_pairs

    d = T(spark, sf, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.substring(F.coalesce("text", F.lit("")), 1, 100)).alias("fp"),
    )
    a = fp.alias("a")
    b = fp.alias("b")
    exact = (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    lsh = minhash_lsh_pairs(d, "doc_id", "text").select(
        "id_a", "id_b", F.lit(1).alias("__l")
    )
    ex = exact.join(lsh, ["id_a", "id_b"], "left").agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.sum(F.coalesce("__l", F.lit(0))).alias("n_both"),
    )
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    return ex.crossJoin(F.broadcast(nl)).select(
        F.col("n_exact_pairs").cast("long").alias("n_exact_pairs"),
        F.col("n_lsh_pairs").cast("long").alias("n_lsh_pairs"),
        F.col("n_both").cast("long").alias("n_both"),
        F.expr(
            "CASE WHEN n_exact_pairs > 0 THEN"
            " CAST((1000000 * n_both) div n_exact_pairs AS BIGINT) END"
        ).alias("exact_covered_e6"),
        (F.col("n_lsh_pairs") - F.col("n_both"))
        .cast("long")
        .alias("lsh_extra_pairs"),
    )


def _td14_sql() -> str:
    # reuse td2's full driver-green oracle as the LSH arm
    td2 = TD2_SQL.strip().rstrip(";")
    return f"""
WITH lsh AS ({td2}),
fp AS (
  SELECT doc_id, md5(substr(coalesce(text, ''), 1, 100)) AS fp
  FROM documents
),
exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
ex AS (
  SELECT count(*)::BIGINT AS n_exact_pairs,
         sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_both
  FROM exact e LEFT JOIN lsh l USING (id_a, id_b)
),
nl AS (SELECT count(*)::BIGINT AS n_lsh_pairs FROM lsh)
SELECT ex.n_exact_pairs, nl.n_lsh_pairs, ex.n_both,
       CASE WHEN ex.n_exact_pairs > 0 THEN
         CAST((1000000 * ex.n_both) // ex.n_exact_pairs AS BIGINT) END
         AS exact_covered_e6,
       (nl.n_lsh_pairs - ex.n_both)::BIGINT AS lsh_extra_pairs
FROM ex CROSS JOIN nl"""


# ---------------------------------------------------------------------------
# td15 — soft-dedupe loss weights
# ---------------------------------------------------------------------------


def td15_soft_dedupe_weights(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, cluster_size, weight_e6): every document kept, weighted
    1e6 div cluster_size under the prefix-fingerprint clusters — the
    soft-dedup alternative to keep-first (total cluster weight stays ~1
    so duplicated content isn't over-trained). One hash groupBy + one
    broadcast-size join back."""
    d = T(spark, sf, "documents").select(
        "doc_id",
        F.md5(F.substring(F.coalesce("text", F.lit("")), 1, 100)).alias("fp"),
    )
    sizes = d.groupBy("fp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        d.join(sizes, "fp")
        .select(
            "doc_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.expr("CAST(1000000 div cluster_size AS BIGINT)").alias(
                "weight_e6"
            ),
        )
        .orderBy("doc_id")
    )


def _td15_sql() -> str:
    return """
WITH d AS (
  SELECT doc_id, md5(substr(coalesce(text, ''), 1, 100)) AS fp
  FROM documents
),
sizes AS (SELECT fp, count(*)::BIGINT AS cluster_size FROM d GROUP BY fp)
SELECT doc_id, cluster_size,
       CAST(1000000 // cluster_size AS BIGINT) AS weight_e6
FROM d JOIN sizes USING (fp) ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# td16 — MinHash estimator error sweep
# ---------------------------------------------------------------------------

_TD16_KS = (2, 4, 8)


def td16_minhash_error_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Error law of the MinHash Jaccard estimator, measured: one
    8-permutation signature pass over the first 40 docs, prefix
    signatures of length 2/4/8 estimate every pair's Jaccard, and the
    exact distinct-shingle Jaccard certifies the error per sweep point.
    Mean |err| should fall roughly as 1/sqrt(k) — the measured-error-law
    convention of sk12 (CMS) and sk13 (histogram quantiles) applied to
    the dedupe family's core sketch. ONE shuffle builds the signatures
    (min() aggregates) and the exact arm reuses the persisted gram
    stream (the recompute-once rule). Like td12_lsh_quality, this is an
    AUDIT operator: the exact arm is all-pairs by definition, so at
    production scale it runs on a bounded document slice (here: the
    first 40 ids)."""
    docs = (
        T(spark, sf, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    return minhash_error_sweep_frame(docs)


def minhash_error_sweep_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of td16 over a (doc_id, text) slice."""
    from bioeco_portal_etl_spark.text.dedupe import (
        minhash_signature_cols,
        shingle_hash,
        shingled,
    )

    sh = shingled(docs, "doc_id", "text", 3)
    grams = sh.select("doc_id", F.explode("sh").alias("s")).persist()
    hashed = grams.select("doc_id", shingle_hash("s").alias("h"))
    sig = hashed.groupBy("doc_id").agg(
        *minhash_signature_cols(F.col("h"), 8)
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"_m{p}").alias(f"a{p}") for p in range(8)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"_m{p}").alias(f"b{p}") for p in range(8)],
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    for k in _TD16_KS:
        matches = sum(
            (F.col(f"a{p}") == F.col(f"b{p}")).cast("long") for p in range(k)
        )
        # k is a power of two, so the double division is exact and the
        # long cast equals the oracle's integer // floor (non-negative)
        pairs = pairs.withColumn(
            f"est{k}", (matches * 1000000 / F.lit(k)).cast("long")
        )
    # exact arm: distinct shingle sets (grams already distinct per doc —
    # shingled() emits the de-duplicated shingle SET)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        grams.alias("x")
        .join(grams.alias("y"), "s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    exact = (
        pairs.select("id_a", "id_b", *[f"est{k}" for k in _TD16_KS])
        .join(F.broadcast(inter), ["id_a", "id_b"], "left")
        .join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "true_e6",
            F.when(
                F.coalesce(F.col("inter_sz"), F.lit(0)) > 0,
                (
                    F.lit(1000000)
                    * F.col("inter_sz")
                    / (F.col("sza") + F.col("szb") - F.col("inter_sz"))
                ).cast("long"),
            ).otherwise(F.lit(0)),
        )
    )
    sweep = exact.select(
        "id_a",
        "id_b",
        "true_e6",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("num_perm"),
                        F.col(f"est{k}").alias("est_e6"),
                    )
                    for k in _TD16_KS
                ]
            )
        ).alias("kv"),
    ).select(
        F.col("kv.num_perm").alias("num_perm"),
        F.abs(F.col("kv.est_e6") - F.col("true_e6")).alias("err"),
    )
    return (
        sweep.groupBy("num_perm")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.sum("err") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_abs_err_e6"),
            F.max("err").alias("max_abs_err_e6"),
        )
        .orderBy("num_perm")
    )


def _td16_sql() -> str:
    from bioeco_portal_etl_spark.text.dedupe import MERSENNE31, PERM_A, PERM_B
    from bioeco_portal_etl_spark.text.tokenize import duck_shingles, duck_tokens

    arr = duck_shingles(duck_tokens("text"), 3, distinct=True)
    sig_cols = ", ".join(
        f"min(({PERM_A[p]} * h + {PERM_B[p]}) % {MERSENNE31}) AS m{p}"
        for p in range(8)
    )
    est_cols = ", ".join(
        "CAST((1000000 * ("
        + " + ".join(
            f"CASE WHEN a.m{p} = b.m{p} THEN 1 ELSE 0 END" for p in range(k)
        )
        + f")) // {k} AS BIGINT) AS est{k}"
        for k in _TD16_KS
    )
    sweep_union = " UNION ALL ".join(
        f"SELECT {k}::BIGINT AS num_perm, abs(est{k} - true_e6) AS err FROM j"
        for k in _TD16_KS
    )
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
grams AS (
  SELECT doc_id, unnest({arr}) AS s FROM docs
),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(range(1, 16),
             i -> strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1),
           (a, b) -> a * 16 + b) % {MERSENNE31} AS h
  FROM grams
),
sig AS (SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {est_cols}
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*)::BIGINT AS inter_sz
  FROM grams x JOIN grams y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
j AS (
  SELECT p.*,
         CASE WHEN coalesce(i.inter_sz, 0) > 0
              THEN CAST((1000000 * i.inter_sz)
                        // (sa.sz + sb.sz - i.inter_sz) AS BIGINT)
              ELSE 0 END AS true_e6
  FROM pairs p
  LEFT JOIN inter i USING (id_a, id_b)
  JOIN sz sa ON sa.doc_id = p.id_a
  JOIN sz sb ON sb.doc_id = p.id_b
),
sweep AS ({sweep_union})
SELECT num_perm, count(*)::BIGINT AS n_pairs,
       CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_e6,
       max(err)::BIGINT AS max_abs_err_e6
FROM sweep GROUP BY num_perm ORDER BY num_perm"""


# ---------------------------------------------------------------------------
# td17 — truncation (proper-prefix) duplicates
# ---------------------------------------------------------------------------


def td17_truncation_dupes(spark: SparkSession, sf: str) -> DataFrame:
    """Documents that are proper PREFIXES of longer documents — the
    crawl-truncation duplicate class: same page fetched twice, once cut
    off, so content hashes differ and exact dedupe misses it. Candidates
    are blocked on the first 32 characters (every proper-prefix pair
    with len >= 32 shares that block; the corpus min length is 44), then
    verified with one substring equality — a bounded equi-join, never
    all-pairs, the td2 banding idea applied to containment-by-prefix."""
    return truncation_dupes_frame(
        T(spark, sf, "documents").select("doc_id", "text")
    )


def truncation_dupes_frame(docs: DataFrame) -> DataFrame:
    d = docs.select(
        "doc_id",
        "text",
        F.length("text").alias("len"),
        F.substring("text", 1, 32).alias("blk"),
    )
    short = d.select(
        F.col("doc_id").alias("short_id"),
        F.col("text").alias("short_text"),
        F.col("len").alias("len_short"),
        "blk",
    )
    long_ = d.select(
        F.col("doc_id").alias("long_id"),
        F.col("text").alias("long_text"),
        F.col("len").alias("len_long"),
        "blk",
    )
    return (
        short.join(long_, "blk")
        .filter(
            (F.col("len_short") < F.col("len_long"))
            & (
                F.expr("substring(long_text, 1, len_short)")
                == F.col("short_text")
            )
        )
        .select("short_id", "long_id", "len_short", "len_long")
        .orderBy("short_id", "long_id")
    )


_TD17_SQL = """
WITH d AS (
  SELECT doc_id, text, length(text)::BIGINT AS len,
         substr(text, 1, 32) AS blk
  FROM documents
)
SELECT s.doc_id AS short_id, l.doc_id AS long_id,
       s.len AS len_short, l.len AS len_long
FROM d s JOIN d l ON s.blk = l.blk
WHERE s.len < l.len AND substr(l.text, 1, CAST(s.len AS INT)) = s.text
ORDER BY short_id, long_id"""


CATALOG = {
    "td1_exact_dedupe": (td1_exact_dedupe, TD1_SQL),
    "td2_minhash_lsh": (td2_minhash_lsh, TD2_SQL),
    "td3_simhash": (td3_simhash, TD3_SQL),
    "td4_jaccard_pairs": (td4_jaccard_pairs, TD4_SQL),
    "td5_embedding_neardup": (td5_embedding_neardup, TD5_SQL),
    "td6_decontamination": (td6_decontamination, TD6_SQL),
    "td7_dup_clusters": (td7_dup_clusters, TD7_SQL),
    "td8_segment_dedupe": (td8_segment_dedupe, TD8_SQL),
    "td9_cluster_keep_best": (td9_cluster_keep_best, TD9_SQL),
    "td10_containment": (td10_containment, _td10_sql()),
    "td11_semantic_dedupe": (td11_semantic_dedupe, TD11_SQL),
    "td12_lsh_quality": (td12_lsh_quality, _td12_sql()),
    "td13_shard_dup_locality": (td13_shard_dup_locality, _td13_sql()),
    "td14_dedupe_agreement": (td14_dedupe_agreement, _td14_sql()),
    "td15_soft_dedupe_weights": (td15_soft_dedupe_weights, _td15_sql()),
    "td16_minhash_error_sweep": (td16_minhash_error_sweep, _td16_sql()),
    "td17_truncation_dupes": (td17_truncation_dupes, _TD17_SQL),
}

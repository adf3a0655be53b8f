"""Mergeable MinHash set-similarity between GROUPS: per-group MinHash
signatures built as plain min() aggregates, compared pairwise to
estimate the Jaccard similarity of the groups' shingle SETS — with the
exact Jaccard computed alongside as the certification column (the
sketch-family convention: sk10 certifies Bloom FPR, this certifies the
MinHash estimator).

Mergeability is the point: a group's signature is the element-wise min
of its members' signatures (min is associative/commutative), so
per-shard signatures roll up to corpus signatures without revisiting
the text — the property that lets 100 TB of per-partition sketches
reduce on the driver-side of a tree aggregation. Here the merge IS the
groupBy: one combinable agg per group, never a shuffle of shingles per
pair.

Estimator resolution is 1/num_perm (8 permutations -> 125000 e6 steps);
the exact arm exists precisely to expose that error, not to hide it.

Reuses text/dedupe.py's hash/permutation constants so the signature
bytes match the LSH dedupe path bit-for-bit on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.text.dedupe import (
    MERSENNE31,
    PERM_A,
    PERM_B,
    minhash_signature_cols,
    shingle_hash,
    shingled,
)


def group_minhash_similarity(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 8,
) -> DataFrame:
    """(grp_a, grp_b, est_matches, est_jaccard_e6, inter_size,
    union_size, true_jaccard_e6) for group pairs grp_a < grp_b."""
    sh = shingled(
        docs.select(F.col(group_col).alias("grp"), F.col(id_col), F.col(text_col)),
        id_col,
        text_col,
        k,
    )
    # re-attach the group (shingled projects id + shingles only)
    sh = sh.join(
        docs.select(F.col(id_col), F.col(group_col).alias("grp")), id_col
    )
    # BOTH arms (signature mins, exact set sizes/intersections) consume
    # the gram stream — persist it once or the shingle+explode pipeline
    # replays per consumer (the recompute-once lesson; measured 8.9s ->
    # ~5s at sf0.1)
    grams = sh.select("grp", F.explode("sh").alias("s")).persist()
    hashed = grams.select("grp", shingle_hash("s").alias("h"))
    sig = hashed.groupBy("grp").agg(*minhash_signature_cols(F.col("h"), num_perm))
    a = sig.select(
        F.col("grp").alias("grp_a"),
        *[F.col(f"_m{p}").alias(f"a{p}") for p in range(num_perm)],
    )
    b = sig.select(
        F.col("grp").alias("grp_b"),
        *[F.col(f"_m{p}").alias(f"b{p}") for p in range(num_perm)],
    )
    est_matches = sum(
        (F.col(f"a{p}") == F.col(f"b{p}")).cast("long") for p in range(num_perm)
    )
    pairs = (
        # without the hint sk11 plans a CartesianProduct here
        a.crossJoin(F.broadcast(b))
        .filter(F.col("grp_a") < F.col("grp_b"))
        .select(
            "grp_a",
            "grp_b",
            est_matches.alias("est_matches"),
        )
        .withColumn(
            "est_jaccard_e6",
            F.expr(f"CAST((1000000 * est_matches) div {num_perm} AS BIGINT)"),
        )
    )
    # exact arm: distinct (grp, shingle) sets
    sets = grams.distinct()
    sizes = sets.groupBy("grp").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sets.alias("x")
        .join(sets.alias("y"), "s")
        .filter(F.col("x.grp") < F.col("y.grp"))
        .groupBy(
            F.col("x.grp").alias("grp_a"), F.col("y.grp").alias("grp_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sa = sizes.select(F.col("grp").alias("grp_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("grp").alias("grp_b"), F.col("sz").alias("szb"))
    exact = (
        # without either hint sk11 plans a SortMergeJoin here
        inter.join(F.broadcast(sa), "grp_a")
        .join(F.broadcast(sb), "grp_b")  # without it: SortMergeJoin
        .select(
            "grp_a",
            "grp_b",
            F.col("inter_size").cast("long").alias("inter_size"),
            (F.col("sza") + F.col("szb") - F.col("inter_size"))
            .cast("long")
            .alias("union_size"),
        )
        .withColumn(
            "true_jaccard_e6",
            F.expr("CAST((1000000 * inter_size) div union_size AS BIGINT)"),
        )
    )
    return pairs.join(exact, ["grp_a", "grp_b"], "left").select(
        "grp_a",
        "grp_b",
        F.col("est_matches").cast("long").alias("est_matches"),
        "est_jaccard_e6",
        F.coalesce("inter_size", F.lit(0)).cast("long").alias("inter_size"),
        F.coalesce("union_size", F.lit(0)).cast("long").alias("union_size"),
        F.coalesce("true_jaccard_e6", F.lit(0)).cast("long").alias(
            "true_jaccard_e6"
        ),
    )


def duck_group_minhash_similarity(
    docs_select: str, k: int = 3, num_perm: int = 8
) -> str:
    """DuckDB CTE body mirroring :func:`group_minhash_similarity`;
    exposes ``gmh(grp_a, grp_b, est_matches, est_jaccard_e6, inter_size,
    union_size, true_jaccard_e6)``. ``docs_select`` must project
    (grp, doc_id, text)."""
    from bioeco_portal_etl_spark.text.tokenize import duck_shingles, duck_tokens

    arr = duck_shingles(duck_tokens("text"), k, distinct=True)
    sig_cols = ", ".join(
        f"min(({PERM_A[p]} * h + {PERM_B[p]}) % {MERSENNE31}) AS m{p}"
        for p in range(num_perm)
    )
    est = " + ".join(
        f"CASE WHEN a.m{p} = b.m{p} THEN 1 ELSE 0 END" for p in range(num_perm)
    )
    return f"""__gm_docs AS ({docs_select}),
__gm_grams AS (
  SELECT grp, unnest({arr}) AS s FROM __gm_docs
),
__gm_h AS (
  SELECT grp,
         list_reduce(list_transform(range(1, 16),
             i -> strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1),
           (a, b) -> a * 16 + b) % {MERSENNE31} AS h
  FROM __gm_grams
),
__gm_sig AS (SELECT grp, {sig_cols} FROM __gm_h GROUP BY grp),
__gm_pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, ({est})::BIGINT AS est_matches
  FROM __gm_sig a JOIN __gm_sig b ON a.grp < b.grp
),
__gm_sets AS (SELECT DISTINCT grp, s FROM __gm_grams),
__gm_sz AS (SELECT grp, count(*)::BIGINT AS sz FROM __gm_sets GROUP BY grp),
__gm_inter AS (
  SELECT x.grp AS grp_a, y.grp AS grp_b, count(*)::BIGINT AS inter_size
  FROM __gm_sets x JOIN __gm_sets y ON x.s = y.s AND x.grp < y.grp
  GROUP BY x.grp, y.grp
),
gmh AS (
  SELECT p.grp_a, p.grp_b, p.est_matches,
         CAST((1000000 * p.est_matches) // {num_perm} AS BIGINT)
           AS est_jaccard_e6,
         coalesce(i.inter_size, 0)::BIGINT AS inter_size,
         coalesce(sa.sz + sb.sz - i.inter_size, 0)::BIGINT AS union_size,
         coalesce(CAST((1000000 * i.inter_size)
                       // (sa.sz + sb.sz - i.inter_size) AS BIGINT), 0)
           AS true_jaccard_e6
  FROM __gm_pairs p
  LEFT JOIN __gm_inter i USING (grp_a, grp_b)
  LEFT JOIN __gm_sz sa ON sa.grp = p.grp_a
  LEFT JOIN __gm_sz sb ON sb.grp = p.grp_b
)"""

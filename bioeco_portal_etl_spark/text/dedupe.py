"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Standard near-dup stack for training-data curation (Broder 1997 resemblance /
MinHash; Charikar 2002 SimHash; Leskovec-Rajaraman-Ullman MMDS ch.3 for the
LSH banding scheme). The reference has only relational dedupe
(/root/reference/notebooks/index.Rmd:670 distinct, :382 duplicated-audit,
:392 make.unique — covered in operators/dedupe.py); these are the scale
extensions the repo's north star requires.

Design for 100 TB:
  - Hash family is md5 of ``"{perm}:{shingle}"`` and the MinHash is the
    lexicographic min of the hex digests — one md5 per (shingle, perm), no
    Python, no UDFs, and byte-reproducible in any engine (the DuckDB oracles
    run the identical construction).
  - LSH banding turns the O(n²) all-pairs problem into groupBy(band, key) —
    a single shuffle whose reducer sees only colliding docs. Bucket pair
    expansion happens inside the reducer via array transforms (no re-shuffle,
    no self-join); a `max_bucket` guard caps quadratic blowup from degenerate
    buckets (boilerplate-heavy corpora).
  - Exact dedupe is one window over the content hash: shuffle on a 128-bit
    uniformly-distributed key -> no skew by construction.
  - SimHash is explode -> 16 conditional sums in ONE hash aggregate (partial
    aggregation pre-combines map-side, so the shuffle carries 16 ints per doc,
    not the token stream).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from bioeco_portal_etl_spark.text.tokenize import shingles, tokens

SIMHASH_BITS = 16


def content_hash(col: Column | str) -> Column:
    """128-bit exact-dup key; null text hashes as the empty string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.coalesce(c, F.lit("")))


def exact_dedupe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: every row annotated with its content
    hash, the canonical (minimum-id) member of its duplicate group, and an
    ``is_duplicate`` flag. Keep-policy = min id (deterministic, order-free)."""
    w = Window.partitionBy("content_hash")
    return (
        df.select(id_col, content_hash(text_col).alias("content_hash"))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


# Universal-hash family for MinHash permutations: perm_p(h) = (A_p*h + B_p)
# mod MERSENNE31. The base hash h is 60 bits of md5 (one digest per shingle —
# the only "real" hash; permutations are two integer ops each). A_p are 31-bit
# LCG-grade multipliers, so A_p * (h mod P) < 2^62 never overflows int64 —
# and the identical arithmetic runs in any engine (the DuckDB oracle).
MERSENNE31 = 2_147_483_647
PERM_A = [
    1103515245, 1588635695, 1203248318, 1739049251,
    1914804709, 1000000007, 1517746103, 2038074743,
]
PERM_B = [12345, 671093, 253101, 905671, 163841, 99991, 777769, 424243]


def shingle_hash(col: Column | str) -> Column:
    """60-bit base hash of a shingle: first 15 hex chars of md5, as a long,
    reduced mod MERSENNE31. ONE digest per shingle; permutations derive from
    this with integer arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % MERSENNE31


def minhash_signature_cols(h: Column, num_perm: int) -> list[Column]:
    """Aggregate expressions: per-permutation min over the exploded shingle
    hashes — plain min() aggregates, so the whole signature computes inside
    ONE whole-stage-codegen hash aggregate with map-side partials."""
    return [
        F.min((F.lit(PERM_A[p]) * h + F.lit(PERM_B[p])) % MERSENNE31).alias(f"_m{p}")
        for p in range(num_perm)
    ]


def shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle-set) projection; docs with < k tokens are dropped (they
    have no k-shingle and can never collide).

    Two select layers on purpose: the token array is materialized as a column
    and the shingle expression references it BY NAME. Inlining tokens() into
    shingles() would re-split the text once per reference (size guard + every
    slice) — Catalyst's CollapseProject keeps multiply-referenced non-cheap
    aliases materialized, which is exactly what we want (measured ~25× faster
    at sf0.1).

    The emptiness guard filters on TOKEN count, not size(sh) > 0: an
    equivalent predicate, but PushDownPredicate inlines whatever the filter
    references below the projections — filtering on the (expensive) shingle
    expression would re-evaluate the whole pipeline per row inside the
    Filter node."""
    tok = df.select(F.col(id_col), tokens(text_col).alias("__tok")).filter(
        F.size("__tok") >= k
    )
    return tok.select(F.col(id_col), shingles(F.col("__tok"), k).alias("sh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    max_bucket: int = 64,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via MinHash + LSH banding.

    ``shingles`` lets a caller inject an already-built (and typically
    persisted) ``shingled()`` frame so a two-phase pipeline computes the
    shingle projection once (see ngram_jaccard_pairs).

    Plan: scan -> shingle/signature (codegen) -> explode ``bands`` band keys
    -> ONE groupBy(band, key) shuffle -> in-reducer pair expansion over the
    sorted bucket membership -> distinct. Buckets larger than ``max_bucket``
    are dropped (degenerate collisions; at 100 TB one boilerplate bucket can
    otherwise emit billions of pairs)."""
    if num_perm > len(PERM_A):
        raise ValueError(
            f"num_perm={num_perm} exceeds the {len(PERM_A)}-entry hash family; "
            "extend PERM_A/PERM_B with more 31-bit multipliers"
        )
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm={num_perm} must be divisible by bands={bands} "
            "(permutations would be silently dropped)"
        )
    rows = num_perm // bands
    # explode_OUTER on purpose: plain explode triggers InferFiltersFromGenerate,
    # whose size(sh)>0 filter gets pushed below the projections and re-inlines
    # the whole shingle expression into the Filter (measured ~6x slower).
    # Outer is equivalent here — shingled() guarantees non-empty arrays.
    sh_df = shingles if shingles is not None else shingled(df, id_col, text_col, k)
    ex = sh_df.select(
        F.col(id_col).alias("_id"), F.explode_outer("sh").alias("_s")
    )
    hashed = ex.select("_id", shingle_hash("_s").alias("_h"))
    sig = hashed.groupBy("_id").agg(*minhash_signature_cols(F.col("_h"), num_perm))
    band_keys = [
        F.concat_ws(
            "|", *[F.col(f"_m{b * rows + j}").cast("string") for j in range(rows)]
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "_id", F.posexplode(F.array(*band_keys)).alias("band", "bkey")
    )
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.id_a"), F.col("p.id_b")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    staging_path: str | None = None,
    stage_handles: list[DataFrame] | None = None,
    **lsh_kw,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates re-scored with EXACT n-gram
    Jaccard over the shingle sets; pairs below ``threshold`` are dropped.

    The candidate set is linear-ish in n (LSH), so the exact set intersection
    runs on candidates only — the standard two-phase near-dedup. Sizes are
    emitted as ints (engine-exact); jaccard is their ratio.

    One shingle projection feeds all three consumers (minhash + both rescore
    sides); Spark re-executes shared subtrees per consumer, so it must be
    materialized once. Two materialization modes:

    - ``staging_path`` set (the 100 TB path): the shingle stage is WRITTEN
      to parquet there and re-read — durable, memory-free, resumable, and
      each consumer gets plain columnar scans with pushdown.
    - otherwise: ``.persist()`` (MEMORY_AND_DISK, LRU-evictable) — right
      for interactive/medium scale. The persisted handle is appended to
      ``stage_handles`` (if passed) so the caller can ``unpersist()`` after
      materializing the result; with no list given, the cache entry lives
      until session clearCache (acceptable for one-shot jobs, a leak for
      per-batch loops — pass the list there)."""
    if staging_path is not None:
        shingled(df, id_col, text_col, k).write.mode("overwrite").parquet(
            staging_path
        )
        sh = df.sparkSession.read.parquet(staging_path)
    else:
        sh = shingled(df, id_col, text_col, k).persist()
        if stage_handles is not None:
            stage_handles.append(sh)
    cand = minhash_lsh_pairs(df, id_col, text_col, k=k, shingles=sh, **lsh_kw)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size(F.array_union("sh_a", "sh_b")).alias("n_union"),
        )
        .withColumn("jaccard", F.round(F.col("n_common") / F.col("n_union"), 4))
    )
    return scored.filter(F.col("n_common") / F.col("n_union") >= threshold)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over term-frequency-weighted tokens.

    Bit b of a token = top bit of nibble b of md5(token) (hex char >= '8').
    Doc bit b = sign of sum over tokens of (+1 / -1). One explode + one hash
    aggregate; docs with zero tokens get no row (no signal)."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hx = F.md5("tok")
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring(hx, b + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    value = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        value = term if value is None else value + term
    return sums.select(F.col(id_col), value.cast("long").alias("simhash"))


def segment_dedupe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    joiner: str = "\n",
) -> DataFrame:
    """Segment-level exact dedupe (CCNet / RefinedWeb line-dedup style): split
    each document on ``sep`` (a regex), drop every segment whose exact text
    already appeared earlier in the corpus (keep-first by ``(id, position)``),
    and reassemble the survivors in original order joined by ``joiner``.

    The reference has only whole-row relational dedupe
    (/root/reference/notebooks/index.Rmd:670); this is the sub-document
    boilerplate-removal pass a training-data pipeline runs before near-dedup.

    Plan (3 shuffles, no UDFs, no windows over hot keys):
      1. ``posexplode(split(...))`` — map-side only.
      2. ``groupBy(md5(seg)).agg(min(struct(id, pos)))`` — the canonical-owner
         table. Partial aggregation pre-combines map-side, so a boilerplate
         segment duplicated across millions of docs contributes ONE row per
         map partition to the shuffle (a window over ``md5(seg)`` would
         instead sort every copy on one reducer).
      3. Equi-join segments back on the hash to flag keepers (AQE skew-join
         splits any residual hot hash; the canonical side is 1 row/key), then
         ``groupBy(id)`` reassembles: ``collect_list`` of kept ``(pos, seg)``
         structs, ``array_sort`` (pos is unique per doc -> total order),
         ``array_join``. Per-group sort, never a global one.

    Output: ``id, n_segs, n_kept, text_dedup`` — one row per input document
    (documents whose every segment was seen before get ``text_dedup = ''``).
    """
    segs = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), sep)).alias(
            "__pos", "__seg"
        ),
    ).withColumn("__h", F.md5(F.col("__seg")))
    canon = segs.groupBy("__h").agg(
        F.min(F.struct(F.col("__id").alias("i"), F.col("__pos").alias("p"))).alias(
            "__first"
        )
    )
    marked = segs.join(canon, "__h").withColumn(
        "__keep",
        (F.col("__id") == F.col("__first.i")) & (F.col("__pos") == F.col("__first.p")),
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("__pos").alias("p"), F.col("__seg").alias("s"))
    )
    return (
        marked.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.sum(F.col("__keep").cast("int")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["s"]
                ),
                joiner,
            ).alias("text_dedup"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
    stage_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: |A∩B| / |A| (Broder's
    *containment*, the quote-inclusion / near-superset case that symmetric
    MinHash-LSH misses by design — a small doc embedded in a big one has
    high containment but LOW Jaccard, so td2's band buckets never collide).

    Candidate generation is PREFIX FILTERING (the PPJoin/AllPairs family,
    Bayardo et al. WWW'07, adapted to containment): order each doc's
    shingles by global rarity (df asc, shingle asc — one canonical order
    everywhere) and index only the first ``floor((1-t)·|A|) + 1`` of them.
    If a pair shares NO shingle in either side's prefix, one side must
    miss more than ``(1-t)`` of the other's set — it cannot reach the
    threshold, so prefix∩ = ∅ proves non-candidacy. Measured at sf0.1:
    naive rare-shingle blocking generated 1.12 M candidates for 256 true
    pairs; the prefix index generates the candidates actually worth
    scoring. df=1 shingles can never match (still counted in |A| — they
    are guaranteed misses, correctly consuming the miss budget);
    ``max_df`` guards the degenerate stop-shingle tail.

    The exact |A∩B| then runs on candidates only (array_intersect over
    the persisted shingle arrays).

    Output: (id_a, id_b, n_common, n_a, n_b, cont_a_e4, cont_b_e4) for
    pairs where EITHER direction's containment >= threshold; fixed-point
    via integer div on non-negative longs (PORTABILITY)."""
    from pyspark.sql import Window

    # same persisted-stage + caller-unpersist convention as
    # ngram_jaccard_pairs (stage_handles docstring there)
    sh = shingled(df, id_col, text_col, k).persist()
    if stage_handles is not None:
        stage_handles.append(sh)
    # NOTE (round-12): a variant that carried |A| as size(sh) through the
    # explode instead of the count() window below was built, oracle-
    # verified, and then REVERTED on measurement: paired same-session
    # A/Bs put it at 10.7-12.6s vs 6.6-7.1s for this form at sf0.1 (the
    # extra projected column perturbed the planner's size estimates and
    # runtime behavior around the cached shingle frame; the second
    # window rides the row_number window's exchange+sort for free).
    ex = sh.select(F.col(id_col).alias("__id"), F.explode("sh").alias("__s"))
    dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    exf = ex.join(dfreq, "__s")
    # canonical rarity order per doc; |A| counts ALL shingles
    w = Window.partitionBy("__id").orderBy("__df", "__s")
    nw = Window.partitionBy("__id")
    ranked = exf.select(
        "__id",
        "__s",
        "__df",
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(nw).alias("__n"),
    )
    # EXACT integer budget: floor(n·(1-t)) computed as
    # (n · (10000 - t_e4)) div 10000 — the float form
    # floor((1.0 - 0.8) · n) evaluates floor(0.19999…996 · n) and LOSES a
    # whole miss at exact boundaries (n = 10 → 1, not 2), silently
    # emptying the prefix and dropping pairs sitting exactly AT the
    # threshold (found by the hypothesis completeness property, round 6)
    t_e4_budget = int(round(threshold * 10000))
    miss_budget = F.expr(
        f"(__n * {10000 - t_e4_budget}) div 10000"
    ).cast("long")
    prefix = ranked.filter(
        (F.col("__rk") <= miss_budget + 1)
        & (F.col("__df") >= 2)
        & (F.col("__df") <= max_df)
    ).select("__id", "__s")
    probe = exf.filter(F.col("__df") <= max_df).select(
        F.col("__id").alias("__id2"), "__s"
    )
    cand = (
        prefix.join(probe, "__s")
        .filter(F.col("__id") != F.col("__id2"))
        .select(
            F.least("__id", "__id2").alias("id_a"),
            F.greatest("__id", "__id2").alias("id_b"),
        )
        .distinct()
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias(
                "n_common"
            ),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("(n_common * 10000) div n_a").alias("cont_a_e4"),
            F.expr("(n_common * 10000) div n_b").alias("cont_b_e4"),
        )
    )
    # round, don't truncate: int(0.7 * 10000) is 6999 for some floats
    t_e4 = int(round(threshold * 10000))
    return scored.filter(
        (F.col("cont_a_e4") >= t_e4) | (F.col("cont_b_e4") >= t_e4)
    )


def shard_dup_locality(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    n_shards: int = 8,
) -> DataFrame:
    """Would shard-local dedupe suffice? Duplicate PAIRS classified by
    whether both members land on the same shard (shard = id mod
    ``n_shards``, the ingest partitioning): per cluster size m,
    intra-shard pairs Σ_s C(m_s, 2) vs the cluster's total C(m, 2) —
    the inter-shard share is exactly the dup mass a per-shard dedupe
    pass would MISS, the number that justifies (or kills) the global
    shuffle dedupe stage at 100 TB.

    Plan: one (fp, shard) count agg, one per-fp rollup (both
    combinable), one size-keyed rollup. Pair counts are computed from
    group sizes — no pair enumeration anywhere.

    Output: (cluster_size, n_clusters, intra_pairs, inter_pairs,
    inter_share_e6), clusters of size 1 excluded (no pairs)."""
    base = df.select(
        F.col(fp_col).alias("__fp"),
        (F.col(id_col) % n_shards).cast("long").alias("__shard"),
    )
    per_shard = base.groupBy("__fp", "__shard").agg(
        F.count(F.lit(1)).alias("ms")
    )
    per_fp = per_shard.groupBy("__fp").agg(
        F.sum("ms").alias("m"),
        F.sum(F.expr("ms * (ms - 1) div 2")).alias("intra"),
    )
    clusters = per_fp.filter(F.col("m") >= 2).select(
        F.col("m").alias("cluster_size"),
        "intra",
        (F.expr("m * (m - 1) div 2") - F.col("intra")).alias("inter"),
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("intra").cast("long").alias("intra_pairs"),
        F.sum("inter").cast("long").alias("inter_pairs"),
        F.expr(
            "CAST((1000000 * sum(inter))"
            " div (sum(intra) + sum(inter)) AS BIGINT)"
        ).alias("inter_share_e6"),
    )


def duck_shard_dup_locality(source_sql: str, n_shards: int = 8) -> str:
    """DuckDB CTE body mirroring :func:`shard_dup_locality`; exposes
    ``sdl(cluster_size, n_clusters, intra_pairs, inter_pairs,
    inter_share_e6)``. ``source_sql`` must project (id, fp)."""
    return f"""__sd_base AS (
  SELECT fp, CAST(id % {n_shards} AS BIGINT) AS shard
  FROM ({source_sql})
),
__sd_shard AS (
  SELECT fp, shard, count(*)::BIGINT AS ms
  FROM __sd_base GROUP BY fp, shard
),
__sd_fp AS (
  SELECT fp, sum(ms)::BIGINT AS m,
         sum(ms * (ms - 1) // 2)::BIGINT AS intra
  FROM __sd_shard GROUP BY fp
),
__sd_cl AS (
  SELECT m AS cluster_size, intra,
         m * (m - 1) // 2 - intra AS inter
  FROM __sd_fp WHERE m >= 2
),
sdl AS (
  SELECT cluster_size, count(*)::BIGINT AS n_clusters,
         sum(intra)::BIGINT AS intra_pairs,
         sum(inter)::BIGINT AS inter_pairs,
         CAST((1000000 * sum(inter))
              // (sum(intra) + sum(inter)) AS BIGINT) AS inter_share_e6
  FROM __sd_cl GROUP BY cluster_size
)"""

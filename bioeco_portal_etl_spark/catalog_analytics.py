"""Analytics catalog entries (x*): statistics, sampling, resampling, skew and
join audits, zone maps, z-order, range partitioning, sharding, A/B tests,
baskets, CDC / SCD, compaction and incremental plans (operators/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T
from bioeco_portal_etl_spark.text.tokenize import duck_tokens, tokens


def x1_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew machinery in the verified surface: two-phase salted aggregation
    over lineitem's 3-value returnflag (a genuinely hot-keyed groupBy) —
    results must equal the direct aggregate (the oracle runs the direct
    form). DECIMAL sums keep the two-phase reassociation exact INTERNALLY;
    the exposed column is cast to double (the repo-wide oracle convention —
    Spark Decimal vs DuckDB DECIMAL canonicalize differently in the
    driver's hasher)."""
    from bioeco_portal_etl_spark.operators.skew import salted_agg

    l = T(spark, sf, "lineitem")
    out = salted_agg(
        l.select("l_returnflag", "l_quantity", "l_extendedprice"),
        ["l_returnflag"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sum_qty": (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")),
                F.sum("sum_qty"),
            ),
            "max_price": (F.max("l_extendedprice"), F.max("max_price")),
        },
        buckets=16,
    )
    return out.withColumn("sum_qty", F.col("sum_qty").cast("double")).orderBy(
        "l_returnflag"
    )


X1_SQL = """
SELECT l_returnflag, count(*) AS n,
       sum(l_quantity::DECIMAL(18,6))::DOUBLE AS sum_qty,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# Per-language train fractions for the x2 fixture: hold out more of the
# rarer strata. Config data, caller-overridable (operators/sampling.py).
X2_FRACS = {"en": 0.95, "es": 0.8, "de": 0.7}
X2_DEFAULT = 0.9


def x2_stratified_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified train/val split: bucket = first 32 bits of
    md5(doc_id) mod 1e4, per-language threshold (operators/sampling.py).
    Rerun-/append-/partitioning-stable by construction — and engine-exact,
    so the assignment itself is oracle-checked (seeded sample() cannot be)."""
    from bioeco_portal_etl_spark.operators.sampling import stratified_hash_split

    d = T(spark, sf, "documents").select("doc_id", "lang")
    out = stratified_hash_split(
        d, "doc_id", "lang", X2_FRACS, default_frac=X2_DEFAULT
    )
    return out.orderBy("doc_id")


_X2_CASES = " ".join(
    f"WHEN lang = '{s}' THEN {int(f * 10000)}" for s, f in sorted(X2_FRACS.items())
)
X2_SQL = f"""
WITH b AS (
  SELECT doc_id, lang,
         list_reduce(list_transform(range(1, 9),
             i -> (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i, 1)) - 1)::BIGINT),
           (a, x) -> a * 16 + x) % 10000 AS bucket,
         CASE {_X2_CASES} ELSE {int(X2_DEFAULT * 10000)} END AS thr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bucket < thr THEN 'train' ELSE 'val' END AS split
FROM b ORDER BY doc_id
"""



def x3_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-split sequence packing into 256-token bins over 8
    independent shard streams (operators/sampling.pack_sequences) — the
    pretraining batch-layout op; sharding keeps the cumulative window
    parallel (never a global single-partition sort)."""
    from bioeco_portal_etl_spark.operators.sampling import pack_sequences
    from bioeco_portal_etl_spark.text.tokenize import tokens

    d = T(spark, sf, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n_tok")
    )
    return pack_sequences(d, "doc_id", "n_tok", budget=256, shards=8).orderBy(
        "doc_id"
    )


X3_SQL = f"""
WITH t AS (
  SELECT doc_id, len({duck_tokens('text')})::BIGINT AS n_tokens,
         (list_reduce(list_transform(range(1, 9),
             i -> (strpos('0123456789abcdef',
                          substr(md5(doc_id::VARCHAR || 'pack'), i, 1)) - 1)::BIGINT),
           (a, x) -> a * 16 + x) % 10000) % 8 AS shard
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, shard,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS token_start
  FROM t
)
SELECT doc_id, n_tokens, shard, token_start::BIGINT AS token_start,
       (shard * 4294967296 + token_start // 256)::BIGINT AS bin_id
FROM c ORDER BY doc_id
"""


def x4_source_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document quota (the per-domain cap of crawl curation):
    keep the 100 lowest-id docs per source (operators/sampling.
    cap_per_group — one window on the group key)."""
    from bioeco_portal_etl_spark.operators.sampling import cap_per_group

    d = T(spark, sf, "documents").select("doc_id", "source")
    return cap_per_group(d, "source", [F.col("doc_id").asc()], 100).orderBy(
        "doc_id"
    )


X4_SQL = """
SELECT doc_id, source FROM documents
QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 100
ORDER BY doc_id
"""


def x5_chunk_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding context-window chunking (text/chunking.py): 32-token windows,
    stride 24 (8 tokens of overlap) — zero-shuffle, codegen-only plan."""
    from bioeco_portal_etl_spark.text.chunking import chunk_windows

    d = T(spark, sf, "documents")
    return chunk_windows(d, "doc_id", "text", chunk_size=32, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


X5_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                     x -> x <> '') AS tok
  FROM documents
),
s AS (
  SELECT doc_id, tok, unnest(range(0, len(tok), 24))::BIGINT AS start_tok
  FROM t
),
c AS (
  SELECT doc_id, start_tok,
         list_slice(tok, start_tok + 1, start_tok + 32) AS ct
  FROM s
)
SELECT doc_id, (start_tok // 24)::BIGINT AS chunk_id, start_tok,
       len(ct)::BIGINT AS n_tok, array_to_string(ct, ' ') AS chunk
FROM c ORDER BY doc_id, chunk_id
"""


def x6_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus data card in ONE pass: doc/char/token totals at every reporting
    grain — (source, lang), per-source, per-lang, and corpus-wide — via
    GROUPING SETS (a single Expand + one hash aggregate; four separate
    groupBys would scan and tokenize the corpus four times). The per-doc
    token count runs inside the scan stage (ws split, codegen), so the 100 TB
    cost is exactly one pass over text."""
    from bioeco_portal_etl_spark.text.tokenize import ws_tokens

    d = T(spark, sf, "documents")
    toks = F.size(ws_tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long")
    return (
        d.groupingSets([["source", "lang"], ["source"], ["lang"], []], "source", "lang")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(toks).cast("long").alias("total_tokens"),
        )
        .orderBy("gid", "source", "lang")
    )


X6_SQL = r"""
SELECT source, lang, GROUPING(source, lang)::BIGINT AS gid,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
               x -> x <> '')))::BIGINT AS total_tokens
FROM documents
GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
ORDER BY gid, source, lang
"""


def x7_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted corpus mixing (operators/mixing.py): resample the
    corpus so per-lang mass follows p_s ∝ n_s^0.5 at a 50% token budget.
    Plan: one |strata|-row aggregate + broadcast join + md5-bucket filter —
    the corpus itself is never shuffled. The pow-sum normalizer is a
    fixed-order left fold (engine-exact double)."""
    from bioeco_portal_etl_spark.operators.mixing import temperature_mix

    d = T(spark, sf, "documents").select("doc_id", "lang")
    return (
        temperature_mix(d, "doc_id", "lang", alpha=0.5, budget_frac=0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


X7_SQL = """
WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
tot AS (
  SELECT list_reduce(list_prepend(0.0, list(pow(n::DOUBLE, 0.5) ORDER BY lang)),
                     (a, x) -> a + x) AS pow_sum,
         sum(n) AS n_total
  FROM c
),
thr AS (
  SELECT lang,
         floor(least(1.0,
             ((0.5 * n_total::DOUBLE) * (pow(n::DOUBLE, 0.5) / pow_sum))
             / n::DOUBLE) * 10000)::BIGINT AS thr
  FROM c, tot
),
b AS (
  SELECT doc_id, lang,
         list_reduce(list_transform(range(1, 9),
             i -> (strpos('0123456789abcdef',
                          substr(md5(doc_id::VARCHAR || 'mix'), i, 1)) - 1)::BIGINT),
           (a, x) -> a * 16 + x) % 10000 AS bucket
  FROM documents
)
SELECT doc_id, lang FROM b JOIN thr USING (lang)
WHERE bucket < thr ORDER BY doc_id
"""


def x8_fuzzy_match(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked fuzzy record linkage (operators/fuzzy.py): build an entity
    name per part (base name + '#key' so names are unique — the synthetic
    p_name vocabulary is ~64 strings, which would make every block
    degenerate), inject a typo'd copy of every third one (last char
    dropped, id negated — negative ids can never collide with genuine
    partkeys at any scale factor), then find each name's best
    edit-distance match among same-block candidates — the Fellegi-Sunter
    block→verify shape, never all-pairs. The block key (first two tokens
    + 3-char prefix of the THIRD name token) is chosen to survive the
    end-of-string edit: prefixes are stable under suffix typos, the
    standard prefix-blocking trade. The two-token key matters for cost:
    one token + prefix left ~100-row blocks → 2.7M candidate pairs at
    sf0.1; adding the second token cuts Σ|block|² ~25× with identical
    recall on the suffix-typo class (measured 2.5s → 1.8s at sf0.1; the
    residual is the 4-scan union + broadcast build, not the verify)."""
    from bioeco_portal_etl_spark.operators.fuzzy import blocked_fuzzy_best_match

    p = T(spark, sf, "part").select(
        "p_partkey",
        F.concat(
            F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string")
        ).alias("p_name"),
    )
    typos = p.filter(F.col("p_partkey") % 3 == 0).select(
        (-F.col("p_partkey")).alias("p_partkey"),
        F.expr("substring(p_name, 1, length(p_name) - 1)").alias("p_name"),
    )
    names = p.unionByName(typos)
    toks = F.split(F.col("p_name"), r"\s+")
    # F.concat (not concat_ws): NULL-propagating like the oracle's `||`,
    # so a hypothetical <3-token name drops out of blocking on BOTH sides.
    block = F.concat(
        toks.getItem(0),
        F.lit(" "),
        toks.getItem(1),
        F.lit(" "),
        F.substring(toks.getItem(2), 1, 3),
    )
    return blocked_fuzzy_best_match(
        names, "p_partkey", "p_name", block_key=block, max_distance=2, length_band=2
    ).orderBy("p_partkey")


X8_SQL = r"""
WITH base AS (
  SELECT p_partkey AS id, p_name || ' #' || p_partkey AS name FROM part
  UNION ALL
  SELECT -p_partkey,
         substr(p_name || ' #' || p_partkey, 1,
                length(p_name || ' #' || p_partkey) - 1)
  FROM part WHERE p_partkey % 3 = 0
),
b AS (
  SELECT id, name,
         string_split_regex(name, '\s+')[1] || ' ' ||
           string_split_regex(name, '\s+')[2] || ' ' ||
           substr(string_split_regex(name, '\s+')[3], 1, 3) AS blk,
         length(name) AS l
  FROM base
),
pairs AS (
  SELECT a.id AS id, c.id AS gid, levenshtein(a.name, c.name) AS d
  FROM b a JOIN b c ON a.blk = c.blk
  WHERE a.id <> c.id AND abs(a.l - c.l) <= 2
)
SELECT id AS p_partkey, gid AS best_match_id, d AS best_distance FROM (
  SELECT id, gid, d,
         row_number() OVER (PARTITION BY id ORDER BY d, gid) AS rn
  FROM pairs WHERE d <= 2)
WHERE rn = 1 ORDER BY p_partkey
"""


def x9_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """CDC changeset between two snapshots (operators/cdc.py): the "new"
    snapshot is derived deterministically from customer — every 97th key
    deleted, every 13th balance bumped, every 29th segment churned (some
    keys hit both: multi-column changed_cols), one insert per 101st key
    under a negative key (collision-free at any sf). One full-outer join
    on the key; unchanged rows never leave the join stage."""
    from bioeco_portal_etl_spark.operators.cdc import snapshot_diff

    c = T(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    changed = c.filter(k % 97 != 0).select(
        k.alias("c_custkey"),
        F.col("c_name"),
        F.when(k % 13 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ).alias("c_acctbal"),
        F.when(k % 29 == 0, F.lit("CHURNED")).otherwise(
            F.col("c_mktsegment")
        ).alias("c_mktsegment"),
    )
    inserted = c.filter(k % 101 == 0).select(
        (-(k + 1)).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), k.cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    new = changed.unionByName(inserted)
    return snapshot_diff(
        c, new, ["c_custkey"], ["c_name", "c_acctbal", "c_mktsegment"]
    ).orderBy("c_custkey")


X9_SQL = """
WITH oldsnap AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
),
newsnap AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
           AS c_acctbal,
         CASE WHEN c_custkey % 29 = 0 THEN 'CHURNED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT -(c_custkey + 1), 'Customer#new' || c_custkey, 0.0, 'NEW'
  FROM customer WHERE c_custkey % 101 = 0
),
j AS (
  SELECT o.c_custkey AS ok, n.c_custkey AS nk,
         o.c_name AS o_name, n.c_name AS n_name,
         o.c_acctbal AS o_bal, n.c_acctbal AS n_bal,
         o.c_mktsegment AS o_seg, n.c_mktsegment AS n_seg,
         o.c_custkey IS NOT NULL AS op, n.c_custkey IS NOT NULL AS np
  FROM oldsnap o FULL JOIN newsnap n ON o.c_custkey = n.c_custkey
)
SELECT coalesce(nk, ok) AS c_custkey,
       CASE WHEN NOT op THEN 'insert'
            WHEN NOT np THEN 'delete'
            ELSE 'update' END AS change_type,
       CASE WHEN op AND np THEN concat_ws(',',
            CASE WHEN o_name IS DISTINCT FROM n_name THEN 'c_name' END,
            CASE WHEN o_bal IS DISTINCT FROM n_bal THEN 'c_acctbal' END,
            CASE WHEN o_seg IS DISTINCT FROM n_seg THEN 'c_mktsegment' END)
            ELSE '' END AS changed_cols,
       n_name AS c_name, n_bal AS c_acctbal, n_seg AS c_mktsegment
FROM j
WHERE NOT op OR NOT np
   OR o_name IS DISTINCT FROM n_name
   OR o_bal IS DISTINCT FROM n_bal
   OR o_seg IS DISTINCT FROM n_seg
ORDER BY c_custkey
"""


def x10_url_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + exact dedupe (functions/urls.py) — the first
    dedupe tier of a web-crawl pipeline, before any content hashing.
    Deterministic messy URLs are synthesized per doc (case-mixed host,
    www. prefix, default ports, duplicate/trailing slashes, tracking
    params, unsorted query, fragments); canonicalization collapses them
    and the groupBy reports cluster size + kept doc. Zero UDFs: the
    canonicalizer is instr/substr/regexp/array built-ins in the scan
    stage; the groupBy on the canonical string is the only shuffle."""
    from bioeco_portal_etl_spark.functions.urls import canonicalize_urls

    d = T(spark, sf, "documents").select("doc_id", "source")
    k = F.col("doc_id")
    abs_url = F.concat(
        F.when(k % 2 == 1, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(k % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(
            k % 5 == 0,
            F.when(k % 2 == 1, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.lit("/articles//"),
        (k % 40).cast("string"),
        F.when(k % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(k % 4 == 1, F.lit("?a=1&b=2"))
        .when(k % 4 == 2, F.lit("?b=2&a=1&fbclid=XYZ"))
        .otherwise(F.lit("")),
        F.when(k % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    # Every 11th doc gets a RELATIVE (schemeless) URL — the canonicalizer's
    # contract is to pass these through byte-identical, so the driver oracle
    # exercises the non-absolute guard, not just the happy path.
    url = F.when(
        k % 11 == 0,
        F.concat(F.lit("Relative/Path//"), (k % 40).cast("string"), F.lit("#frag")),
    ).otherwise(abs_url)
    with_url = d.select(k.alias("doc_id"), url.alias("__url"))
    return (
        canonicalize_urls(with_url, F.col("__url"), keep=["doc_id"])
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keep_doc"),
        )
        .orderBy("canonical_url")
    )


def _x10_sql() -> str:
    from bioeco_portal_etl_spark.functions.urls import duck_canonical_url

    return f"""
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0
         THEN 'Relative/Path//' || (doc_id % 40) || '#frag'
         ELSE
    (CASE WHEN doc_id % 2 = 1 THEN 'HTTPS' ELSE 'http' END) || '://' ||
    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
    source || '.Example.COM' ||
    (CASE WHEN doc_id % 5 = 0
          THEN (CASE WHEN doc_id % 2 = 1 THEN ':443' ELSE ':80' END)
          ELSE '' END) ||
    '/articles//' || (doc_id % 40) ||
    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
    (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
          WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
          WHEN doc_id % 4 = 2 THEN '?b=2&a=1&fbclid=XYZ'
          ELSE '' END) ||
    (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
    END AS url
  FROM documents
),
c AS (SELECT doc_id, {duck_canonical_url('url')} AS canonical_url FROM u)
SELECT canonical_url, count(*) AS n_variants, min(doc_id) AS keep_doc
FROM c GROUP BY canonical_url ORDER BY canonical_url
"""


X10_SQL = _x10_sql()


def x11_resample_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user hourly resampling with linear interpolation between
    bracketing click events (operators/resample.py) — the grouped-map
    applyInPandas tier: one hash(user) shuffle, grid generated inside the
    group, literal-expression interpolation so the oracle replays the
    exact IEEE arithmetic. Input pre-deduped per (user, ts) by min_by on
    event_id — same rule both engines."""
    from bioeco_portal_etl_spark.operators.resample import resample_interpolate

    e = T(spark, sf, "events").filter(F.col("event_type") == "click")
    dedup = e.groupBy("user_id", "ts").agg(
        F.min_by("value", "event_id").alias("value")
    )
    return resample_interpolate(dedup, "user_id", "ts", "value").orderBy(
        "user_id", "grid_ts"
    )


X11_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, arg_min(value, event_id) AS value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_us(ts)
),
b AS (SELECT user_id, min(t) AS tmin, max(t) AS tmax FROM e GROUP BY user_id),
grid AS (
  SELECT user_id,
         unnest(range(((tmin + 3599999999) // 3600000000)::BIGINT,
                      (tmax // 3600000000)::BIGINT + 1)) * 3600000000 AS g
  FROM b
),
lo AS (
  SELECT g.user_id, g.g, max(e.t) AS t0
  FROM grid g JOIN e ON e.user_id = g.user_id AND e.t <= g.g
  GROUP BY g.user_id, g.g
),
hi AS (
  SELECT g.user_id, g.g, min(e.t) AS t1
  FROM grid g JOIN e ON e.user_id = g.user_id AND e.t >= g.g
  GROUP BY g.user_id, g.g
),
j AS (
  SELECT l.user_id, l.g, l.t0, h.t1, e0.value AS v0, e1.value AS v1
  FROM lo l JOIN hi h ON h.user_id = l.user_id AND h.g = l.g
  JOIN e e0 ON e0.user_id = l.user_id AND e0.t = l.t0
  JOIN e e1 ON e1.user_id = l.user_id AND e1.t = h.t1
)
SELECT user_id, g AS grid_ts,
       floor(CASE WHEN t1 = t0 THEN v0
             ELSE v0 + (v1 - v0)
                  * ((g::DOUBLE - t0::DOUBLE) / (t1::DOUBLE - t0::DOUBLE))
             END * 10000)::BIGINT AS value_e4
FROM j ORDER BY user_id, grid_ts
"""


# ---------------------------------------------------------------------------
# x12 — weighted (priority) sampling
# ---------------------------------------------------------------------------


def x12_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Length-weighted 10-per-source document sample
    (operators/sampling.py priority_sample): the reproducible
    quality-weighted subsampling step of a data-mix recipe — hash-derived
    priorities, no RNG, stable under reruns and engines."""
    from bioeco_portal_etl_spark.operators.sampling import priority_sample

    d = T(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return (
        priority_sample(d, "source", "doc_id", "n_chars", k=10)
        .select("source", "rank", "doc_id", "n_chars")
        .orderBy("source", "rank")
    )


def _x12_sql() -> str:
    from bioeco_portal_etl_spark.sketches import H60_DOMAIN, duck_h60

    h = duck_h60("'ps:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH pri AS (
  SELECT source, doc_id, n_chars,
         CAST(n_chars AS DOUBLE) * {float(H60_DOMAIN)!r} / {h} AS q
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rank
  FROM pri
)
SELECT source, rank, doc_id, n_chars
FROM ranked WHERE rank <= 10
ORDER BY source, rank
"""


# ---------------------------------------------------------------------------
# x13 — rolling z-score anomaly gate
# ---------------------------------------------------------------------------


def x13_rolling_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window z-score outliers per user
    (operators/timeseries.py): events whose value sits > 2.5 sigma from
    the 10 prior events' mean. Fixed-point frame sums keep the score
    bit-identical across engines."""
    from bioeco_portal_etl_spark.operators.timeseries import rolling_zscore

    e = T(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    scored = rolling_zscore(
        e, ["user_id"], ["ts", "event_id"], "value", window_rows=10, min_rows=5
    )
    return (
        scored.filter(F.col("is_anomaly"))
        .select("event_id", "user_id", F.round("value", 2).alias("value"), "z")
        .orderBy("event_id")
    )


X13_SQL = """
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
         round((v_e2 - s1 / n) / sqrt((n * s2 - s1 * s1) / (n * n)), 4) AS z
  FROM q
  WHERE n >= 5 AND n * s2 - s1 * s1 > 0
)
SELECT event_id, user_id, round(value, 2) AS value, z
FROM z WHERE abs(z) > 2.5
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# x14 — per-key integer EWMA (grouped-map recurrence)
# ---------------------------------------------------------------------------


def x14_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user EWMA smoothing with alpha = 1/4
    (operators/timeseries.py ewma): the sequential-recurrence tier of the
    custom-operator policy — applyInPandas per user, integer state, DuckDB
    recursive-CTE oracle replaying the identical trajectory."""
    from bioeco_portal_etl_spark.operators.timeseries import ewma

    e = T(spark, sf, "events")
    return ewma(e, "user_id", "ts", "event_id", "value", alpha_shift=2).orderBy(
        "user_id", "event_id"
    )


X14_SQL = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         CAST(floor(value * 10000) AS BIGINT) AS v_e4,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
state AS (
  SELECT user_id, event_id, rn, v_e4 AS s FROM seq WHERE rn = 1
  UNION ALL
  -- floor division, explicitly: DuckDB's integer // TRUNCATES toward zero
  -- on negatives while the operator's Python // floors; /4.0 is exact in
  -- double for e4-scale deltas, so floor() reproduces Python exactly
  SELECT q.user_id, q.event_id, q.rn,
         st.s + CAST(floor((q.v_e4 - st.s) / 4.0) AS BIGINT)
  FROM state st JOIN seq q ON q.user_id = st.user_id AND q.rn = st.rn + 1
)
SELECT user_id, event_id, s AS ewma_e4
FROM state
ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# x15 — leakage-safe temporal split
# ---------------------------------------------------------------------------


def x15_temporal_split(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user last-20% temporal test split
    (operators/sampling.py temporal_split) — the forecasting/session-model
    eval split where random assignment would leak future context."""
    from bioeco_portal_etl_spark.operators.sampling import temporal_split

    e = T(spark, sf, "events").select("event_id", "user_id", "ts")
    return (
        temporal_split(e, "user_id", "ts", "event_id", test_pct=20)
        .select("event_id", "user_id", "split")
        .orderBy("event_id")
    )


X15_SQL = """
WITH ranked AS (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn_end,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT event_id, user_id,
       CASE WHEN rn_end <= (n * 20) // 100 THEN 'test' ELSE 'train' END AS split
FROM ranked
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# x16 — equi-width histogram
# ---------------------------------------------------------------------------


def x16_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """20-bin equi-width histogram of order totals (operators/stats.py):
    one scan + broadcast 1-row bounds, integer bin arithmetic."""
    from bioeco_portal_etl_spark.operators.stats import equi_width_histogram

    o = T(spark, sf, "orders")
    return equi_width_histogram(o, "o_totalprice", nbins=20).orderBy("bin")


X16_SQL = """
WITH vals AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
binned AS (
  SELECT least(floor(((v - lo) * 20)::DOUBLE / (hi - lo + 1)), 19)::BIGINT
           AS bin,
         lo, hi
  FROM vals CROSS JOIN bounds
),
edged AS (
  SELECT bin,
         lo + floor((bin * (hi - lo + 1))::DOUBLE / 20)::BIGINT AS lo_e,
         lo + floor(((bin + 1) * (hi - lo + 1))::DOUBLE / 20)::BIGINT - 1
           AS hi_e
  FROM binned
)
SELECT bin, lo_e, hi_e, count(*)::BIGINT AS n_rows
FROM edged GROUP BY bin, lo_e, hi_e ORDER BY bin
"""


# ---------------------------------------------------------------------------
# x17 — percentile winsorization
# ---------------------------------------------------------------------------


def x17_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """p5/p95 nearest-rank winsorized price summary per return flag
    (operators/stats.py): rank selection, not percentile interpolation."""
    from bioeco_portal_etl_spark.operators.stats import winsorize_stats

    li = T(spark, sf, "lineitem")
    return winsorize_stats(li, "l_returnflag", "l_extendedprice").orderBy("g")


X17_SQL = """
WITH vals AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
),
ranked AS (
  SELECT g, v,
         row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM vals
),
thresholds AS (
  SELECT g,
         max(CASE WHEN rn = floor((5 * n + 99)::DOUBLE / 100)::BIGINT
                  THEN v END) AS lo_e,
         max(CASE WHEN rn = floor((95 * n + 99)::DOUBLE / 100)::BIGINT
                  THEN v END) AS hi_e
  FROM ranked GROUP BY g
),
clamped AS (
  SELECT vals.g, lo_e, hi_e, greatest(least(v, hi_e), lo_e) AS c
  FROM vals JOIN thresholds ON thresholds.g = vals.g
)
SELECT g, count(*)::BIGINT AS n_rows, any_value(lo_e) AS lo_e,
       any_value(hi_e) AS hi_e, sum(c)::BIGINT AS win_sum_e,
       floor(sum(c)::DOUBLE / count(*)::DOUBLE)::BIGINT AS win_mean_e
FROM clamped GROUP BY g ORDER BY g
"""


# ---------------------------------------------------------------------------
# x18 — CUSUM drift detection
# ---------------------------------------------------------------------------

_CUSUM_THRESHOLD_E2 = 20000  # 200.00 value-units of accumulated deviation


def x18_cusum_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user CUSUM drift vs the global value mean (operators/drift.py):
    broadcast scalar mean + one key-hash cumulative window, all integer."""
    from bioeco_portal_etl_spark.operators.drift import cusum_drift

    e = T(spark, sf, "events")
    return cusum_drift(
        e, "user_id", "ts", "event_id", "value", _CUSUM_THRESHOLD_E2
    ).orderBy("key")


X18_SQL = f"""
WITH vals AS (
  SELECT user_id AS key, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
m AS (SELECT (sum(v) // count(*))::BIGINT AS mean_e FROM vals),
walked AS (
  SELECT key, event_id,
         (sum(v - mean_e) OVER (PARTITION BY key ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS s
  FROM vals CROSS JOIN m
)
SELECT key, count(*)::BIGINT AS n_events,
       max(abs(s))::BIGINT AS max_abs_cusum_e,
       min(CASE WHEN abs(s) > {_CUSUM_THRESHOLD_E2} THEN event_id END)
         AS first_cross_id
FROM walked GROUP BY key ORDER BY key
"""


# ---------------------------------------------------------------------------
# x19 — per-group z-score normalization
# ---------------------------------------------------------------------------


def x19_group_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event z-score vs the event-type's global moments
    (operators/stats.py group_zscore): broadcast moments, div/sqrt/div
    IEEE chain, output bounded to the first users for the gate."""
    from bioeco_portal_etl_spark.operators.stats import group_zscore

    full = T(spark, sf, "events")
    # moments come from the FULL stream; normalize the bounded slice
    z = group_zscore(full, "event_type", "value")
    return (
        z.filter(F.col("user_id") < 10)
        .select("event_id", "event_type", "v_e", "z_e4")
        .orderBy("event_id")
    )


X19_SQL = """
WITH data AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS v_e
  FROM events
),
m AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(v_e)::BIGINT AS s1,
         sum(v_e * v_e)::BIGINT AS s2
  FROM data GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.v_e,
       CASE WHEN m.n * m.s2 - m.s1 * m.s1 > 0 THEN
         floor((d.v_e::DOUBLE - m.s1::DOUBLE / m.n::DOUBLE)
               / sqrt((m.n * m.s2 - m.s1 * m.s1)::DOUBLE
                      / (m.n * m.n)::DOUBLE) * 10000)::BIGINT
       END AS z_e4
FROM data d JOIN m ON m.event_type = d.event_type
WHERE d.user_id < 10
ORDER BY d.event_id
"""


# ---------------------------------------------------------------------------
# x20 — equi-depth (quantile) binning
# ---------------------------------------------------------------------------


def x20_equidepth_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Decile binning of order totals (operators/stats.py equi_depth_bins):
    frequency-table boundaries, broadcast assignment."""
    from bioeco_portal_etl_spark.operators.stats import equi_depth_bins

    o = T(spark, sf, "orders")
    return equi_depth_bins(o, "o_totalprice", nbins=10).orderBy("bin")


X20_SQL = """
WITH vals AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
freq AS (SELECT v, count(*)::BIGINT AS c FROM vals GROUP BY v),
cum AS (
  SELECT v,
         (sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW))::BIGINT AS cm,
         (sum(c) OVER ())::BIGINT AS n
  FROM freq
),
bounds AS (
  SELECT b.bin,
         (SELECT min(v) FROM cum
          WHERE cm >= CAST(floor((b.bin * cum2.n + 9)::DOUBLE / 10) AS BIGINT))
           AS hi_e
  FROM (SELECT unnest(range(1, 11)) AS bin) b
  CROSS JOIN (SELECT max(n) AS n FROM cum) cum2
),
edged AS (
  SELECT bin, hi_e, lag(hi_e) OVER (ORDER BY bin) AS lo_excl FROM bounds
)
SELECT e.bin, e.hi_e, count(*)::BIGINT AS n_rows
FROM vals x JOIN edged e
  ON x.v <= e.hi_e AND (e.lo_excl IS NULL OR x.v > e.lo_excl)
GROUP BY e.bin, e.hi_e ORDER BY e.bin
"""


# ---------------------------------------------------------------------------
# x21 — cross-source duplication matrix
# ---------------------------------------------------------------------------


def x21_dup_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Where near-duplication comes FROM: td2's LSH pairs rolled up into a
    (source_a, source_b) matrix — the curation diagnostic that tells you
    whether dup mass is intra-crawl (same source both sides) or
    cross-source mirroring, i.e. which ingest to fix. The pair table is
    candidate-sized; the source lookup joins broadcast at any corpus
    scale (sources are a dimension)."""
    from bioeco_portal_etl_spark.text.dedupe import minhash_lsh_pairs

    d = T(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    src = d.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
    )
    b = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
    )
    return (
        # without the hint x21 broadcasts the pair side instead
        pairs.join(F.broadcast(a), "id_a")
        .join(b, "id_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


def _x21_sql() -> str:
    from bioeco_portal_etl_spark.catalog_dedup import _DUCK_SH

    return f"""
WITH {_DUCK_SH},
labeled AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM cand c
  JOIN documents da ON da.doc_id = c.id_a
  JOIN documents db ON db.doc_id = c.id_b
)
SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
FROM labeled GROUP BY source_a, source_b ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# x22 — incremental aggregate maintenance (merge == full recompute)
# ---------------------------------------------------------------------------

_X22_CUTOFF = "1997-01-01"


def x22_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Monthly (priority, month) order rollup maintained INCREMENTALLY:
    partial_agg over the pre-cutoff base, partial_agg over the post-cutoff
    delta, merged with operators/incremental.py merge_aggs — no base
    rescan. The oracle computes the rollup from the full table in one
    pass; hash equality IS the merged==recomputed proof. Money runs as
    DECIMAL through the merge, DOUBLE at the surface (PORTABILITY.md)."""
    from bioeco_portal_etl_spark.operators.incremental import (
        merge_aggs,
        partial_agg,
    )

    o = T(spark, sf, "orders").select(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        "o_orderdate",
        "o_totalprice",
    )
    keys = ["o_orderpriority", "order_month"]
    base = partial_agg(
        o.filter(F.col("o_orderdate") < _X22_CUTOFF), keys, "o_totalprice"
    )
    delta = partial_agg(
        o.filter(F.col("o_orderdate") >= _X22_CUTOFF), keys, "o_totalprice"
    )
    return (
        merge_aggs(base, delta, keys)
        .select(
            "o_orderpriority",
            "order_month",
            "n_rows",
            F.col("sum_val").cast("double").alias("sum_price"),
            F.col("min_val").cast("double").alias("min_price"),
            F.col("max_val").cast("double").alias("max_price"),
        )
        .orderBy("o_orderpriority", "order_month")
    )


X22_SQL = """
SELECT o_orderpriority,
       strftime(o_orderdate, '%Y-%m') AS order_month,
       count(*)::BIGINT AS n_rows,
       sum(CAST(o_totalprice AS DECIMAL(28,6)))::DOUBLE AS sum_price,
       min(CAST(o_totalprice AS DECIMAL(28,6)))::DOUBLE AS min_price,
       max(CAST(o_totalprice AS DECIMAL(28,6)))::DOUBLE AS max_price
FROM orders
GROUP BY o_orderpriority, order_month
ORDER BY o_orderpriority, order_month"""


# ---------------------------------------------------------------------------
# x23 — SCD2 dimension history from the event log
# ---------------------------------------------------------------------------


def x23_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """Each user's event_type treated as a time-variant attribute:
    operators/scd.py collapses consecutive duplicates into versions and
    stitches [valid_from, valid_to) intervals with an open current row —
    the SCD2 build a warehouse runs on every dimension change feed. One
    shuffle on user_id serves both window passes."""
    from bioeco_portal_etl_spark.operators.scd import scd2_history

    e = T(spark, sf, "events").select("user_id", "event_type", "ts", "event_id")
    return (
        scd2_history(
            e,
            ["user_id"],
            "event_type",
            ["ts", "event_id"],
            ts_col="ts",
        )
        .filter(F.col("user_id") < 40)
        .orderBy("user_id", "version")
    )


X23_SQL = """
WITH c AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
  WHERE user_id < 40
),
chg AS (
  SELECT user_id, event_type, ts, event_id, ts AS valid_from
  FROM c
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       row_number() OVER
         (PARTITION BY user_id ORDER BY ts, event_id) AS version,
       CAST(CASE WHEN lead(valid_from) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                      IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM chg
ORDER BY user_id, version"""


# ---------------------------------------------------------------------------
# x24 — Z-order clustering audit
# ---------------------------------------------------------------------------

_Z_A_STEP, _Z_B_STEP, _Z_CAP = 64, 16, 255


def x24_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order locality audit over orders: custkey and order-day are
    quantized (range-preserving floor-division), bit-interleaved into a
    16-bit Morton key, and each 256-key z-bucket (≈ one file of the
    clustered layout) reports its row count and (min, max) footprint in
    BOTH dims — tight spans in both columns are what parquet min/max
    pruning exploits after a zorder_layout rewrite."""
    from bioeco_portal_etl_spark.operators.zorder import (
        quantize,
        z_bucket_profile,
    )

    o = T(spark, sf, "orders").withColumn(
        "order_day", F.expr("datediff(o_orderdate, DATE '1992-01-01')")
    )
    return z_bucket_profile(
        o,
        quantize("o_custkey", _Z_A_STEP, _Z_CAP),
        quantize("order_day", _Z_B_STEP, _Z_CAP),
        bits=8,
        bucket_shift=8,
    ).orderBy("zbucket")


def _x24_sql() -> str:
    from bioeco_portal_etl_spark.operators.zorder import z_expr_sql

    z = z_expr_sql("za", "zb", bits=8, dialect="duck")
    return f"""
WITH q AS (
  SELECT least(CAST(floor(o_custkey / {_Z_A_STEP}) AS BIGINT), {_Z_CAP}) AS za,
         least(CAST(floor(datediff('day', DATE '1992-01-01',
                                   CAST(o_orderdate AS DATE)) / {_Z_B_STEP})
                    AS BIGINT), {_Z_CAP}) AS zb
  FROM orders
),
z AS (SELECT za, zb, {z} AS zv FROM q)
SELECT (zv >> 8)::BIGINT AS zbucket, count(*)::BIGINT AS n_rows,
       min(za)::BIGINT AS a_min, max(za)::BIGINT AS a_max,
       min(zb)::BIGINT AS b_min, max(zb)::BIGINT AS b_max,
       (max(za) - min(za))::BIGINT AS a_span,
       (max(zb) - min(zb))::BIGINT AS b_span
FROM z GROUP BY zv >> 8
ORDER BY zbucket"""


# ---------------------------------------------------------------------------
# x25 — skew-salted join, result-identical to the plain join
# ---------------------------------------------------------------------------


def x25_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-salted fact⋈dim join (operators/skew.py salted_join): 30% of
    lineitem rows are remapped onto ONE hot supplier key (the synthetic
    celebrity-key skew), the fact side is salted 8 ways and the supplier
    dim replicated per salt, and the per-nation rollup must equal the
    plain join's — which is exactly what the oracle computes. The dim
    carries a merge-join hint: at fixture scale Catalyst would broadcast
    the 100-row dim (making salt irrelevant); the hint pins the shuffle
    path the operator exists for, mirroring a dim just over the broadcast
    threshold."""
    from bioeco_portal_etl_spark.operators.skew import salted_join

    li = T(spark, sf, "lineitem").select(
        F.expr(
            "CASE WHEN l_suppkey % 10 < 3 THEN 1 ELSE l_suppkey END"
        ).alias("skew_key"),
        "l_extendedprice",
        "l_discount",
    )
    dim = (
        T(spark, sf, "supplier")
        .select(F.col("s_suppkey").alias("skew_key"), "s_nationkey")
        .hint("merge")
    )
    joined = salted_join(li, dim, "skew_key", buckets=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


X25_SQL = """
WITH li AS (
  SELECT CASE WHEN l_suppkey % 10 < 3 THEN 1 ELSE l_suppkey END AS skew_key,
         l_extendedprice, l_discount
  FROM lineitem
)
SELECT s_nationkey, count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM li JOIN supplier ON skew_key = s_suppkey
GROUP BY s_nationkey
ORDER BY s_nationkey"""


# ---------------------------------------------------------------------------
# x26 — Bloom-pruned join
# ---------------------------------------------------------------------------


def x26_bloom_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefiltered lineitem⋈supplier join against the nation<5
    supplier slice: non-joining fact rows die in the scan stage (literal
    bitset probe, no exchange), false positives die in the join — the
    per-nation rollup must equal the plain join's, which the oracle
    computes."""
    from bioeco_portal_etl_spark.operators.bloomjoin import (
        bloom_filtered_join,
    )

    li = T(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    dim = (
        T(spark, sf, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select("s_suppkey", "s_nationkey")
    )
    joined = bloom_filtered_join(li, dim, "l_suppkey", "s_suppkey")
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("s_nationkey")
    )


X26_SQL = """
SELECT s_nationkey, count(*)::BIGINT AS n_items,
       sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey < 5
GROUP BY s_nationkey
ORDER BY s_nationkey"""


# ---------------------------------------------------------------------------
# x27 — deterministic epoch shuffle + audit
# ---------------------------------------------------------------------------

_X27_SEED = "epoch-0"
_X27_SHARDS = 16


def x27_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Audit of the seed-{s} epoch shuffle of the documents corpus into
    {n} shards (operators/sampling.py epoch_shuffle): per shard, row
    count, the first/last doc ids in shuffle order and the id checksum —
    the reproducibility proof a training run logs per epoch."""
    from bioeco_portal_etl_spark.operators.sampling import (
        epoch_shuffle,
        epoch_shuffle_audit,
    )

    d = T(spark, sf, "documents").select("doc_id")
    return epoch_shuffle_audit(
        epoch_shuffle(d, "doc_id", _X27_SEED, n_shards=_X27_SHARDS), "doc_id"
    ).orderBy("shard")


x27_epoch_shuffle.__doc__ = x27_epoch_shuffle.__doc__.format(
    s=_X27_SEED, n=_X27_SHARDS
)


def _x27_sql() -> str:
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60(f"'{_X27_SEED}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH keyed AS (
  SELECT doc_id, {h} AS k FROM documents
),
sharded AS (SELECT doc_id, k, k % {_X27_SHARDS} AS shard FROM keyed)
SELECT shard, count(*)::BIGINT AS n_rows,
       min_by(doc_id, k) AS first_id,
       max_by(doc_id, k) AS last_id,
       sum(doc_id)::BIGINT AS id_sum
FROM sharded GROUP BY shard ORDER BY shard"""


# ---------------------------------------------------------------------------
# x28 — compaction planning over a synthetic file listing
# ---------------------------------------------------------------------------

_X28_TARGET = 128


def x28_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Next-fit-decreasing compaction plan per brand over a synthetic
    per-part file listing (file size = (p_partkey * 7) % 100 + 1 MB):
    how many {t}-MB output files a rewrite produces and how full the
    last one is (operators/compaction.py — pure left-fold bin packing,
    engine-exact)."""
    from bioeco_portal_etl_spark.operators.compaction import compaction_plan

    files = T(spark, sf, "part").select(
        F.col("p_brand"),
        F.col("p_partkey").alias("file_id"),
        ((F.col("p_partkey") * 7) % 100 + 1).cast("long").alias("size_mb"),
    )
    return compaction_plan(
        files, "p_brand", "file_id", "size_mb", target_size=_X28_TARGET
    ).orderBy("p_brand")


x28_compaction_plan.__doc__ = x28_compaction_plan.__doc__.format(
    t=_X28_TARGET
)


def _x28_sql() -> str:
    from bioeco_portal_etl_spark.operators.compaction import (
        duck_compaction_cte,
    )

    files = (
        "SELECT p_brand, p_partkey AS file_id,"
        " ((p_partkey * 7) % 100 + 1)::BIGINT AS size_mb FROM part"
    )
    return f"""
WITH {duck_compaction_cte(files, "p_brand", "file_id", "size_mb", _X28_TARGET)}
SELECT p_brand, n_files, total_size, n_bins, last_bin_load
FROM comp ORDER BY p_brand"""


# ---------------------------------------------------------------------------
# x29 — changelog net-effect compaction
# ---------------------------------------------------------------------------


def x29_cdc_net_effect(spark: SparkSession, sf: str) -> DataFrame:
    """Net I/U/D effect per entity for a synthetic changelog derived from
    the event stream (entity = event_id % 400, sequence = event_id, op
    mapped from the event type, value e4-floored): the compaction a
    MERGE sink applies before touching the target table (operators/
    cdc.py net_effect)."""
    from bioeco_portal_etl_spark.operators.cdc import net_effect

    ev = T(spark, sf, "events").select(
        (F.col("event_id") % 400).alias("entity"),
        F.col("event_id").alias("seq"),
        F.expr(
            "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'"
            " ELSE 'U' END"
        ).alias("op"),
        F.expr("CAST(floor(value * 1e4) AS BIGINT)").alias("v_e4"),
    )
    return net_effect(ev, "entity", "seq", "op", "v_e4").orderBy("key")


X29_SQL = """
WITH ops AS (
  SELECT event_id % 400 AS entity, event_id AS seq,
         CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
              ELSE 'U' END AS op,
         CAST(floor(value * 1e4) AS BIGINT) AS v_e4
  FROM events
)
SELECT entity AS key, count(*)::BIGINT AS n_ops,
       min_by(op, seq) AS first_op, max_by(op, seq) AS last_op,
       CASE WHEN min_by(op, seq) = 'I' AND max_by(op, seq) = 'D' THEN 'NONE'
            WHEN min_by(op, seq) = 'I' THEN 'I'
            WHEN max_by(op, seq) = 'D' THEN 'D' ELSE 'U' END AS net_op,
       CASE WHEN max_by(op, seq) <> 'D' THEN max_by(v_e4, seq) END
         AS net_value
FROM ops GROUP BY entity
ORDER BY key"""


# ---------------------------------------------------------------------------
# x30 — SCD2 as-of (time travel)
# ---------------------------------------------------------------------------

_X30_T = "2024-02-15"


def x30_scd2_asof(spark: SparkSession, sf: str) -> DataFrame:
    """The user-state dimension AS OF {t}: filter the x23 SCD2 history to
    the version whose [valid_from, valid_to) interval covers T — the
    time-travel query the history build exists for. Exactly one row per
    key that existed by T."""
    from bioeco_portal_etl_spark.operators.scd import scd2_history

    e = T(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist = scd2_history(
        e, ["user_id"], "event_type", ["ts", "event_id"], ts_col="ts"
    )
    t = F.lit(_X30_T).cast("timestamp")
    return (
        hist.filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state_at_t"),
            F.col("version").cast("long").alias("version"),
        )
        .orderBy("user_id")
    )


x30_scd2_asof.__doc__ = x30_scd2_asof.__doc__.format(t=_X30_T)

X30_SQL = f"""
WITH c AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
chg AS (
  SELECT user_id, event_type, ts AS valid_from,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS version,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM c
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type AS state_at_t, version::BIGINT AS version
FROM chg
WHERE valid_from <= TIMESTAMP '{_X30_T} 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_X30_T} 00:00:00')
ORDER BY user_id"""


# ---------------------------------------------------------------------------
# x31 — DSIR importance weights
# ---------------------------------------------------------------------------


def x31_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weight per document (target domain = lang 'en'):
    sum over the document's tokens of the add-one-smoothed target/raw
    hashed-bucket likelihood ratio, as exact e6 integers — the weight a
    domain-matching resample draws by."""
    from bioeco_portal_etl_spark.text.dsir import dsir_weights

    d = T(spark, sf, "documents").select("doc_id", "text", "lang")
    return dsir_weights(
        d, "doc_id", "text", F.col("lang") == "en"
    ).orderBy("doc_id")


def _x31_sql() -> str:
    from bioeco_portal_etl_spark.text.dsir import duck_dsir_sql

    ctes = duck_dsir_sql(
        "SELECT doc_id, text, lang FROM documents",
        "doc_id",
        "text",
        "lang = 'en'",
    )
    return f"""
WITH {ctes.lstrip()}
SELECT doc_id, n_tokens, w_e6 FROM dsirr ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# x32 — pre-join skew diagnosis
# ---------------------------------------------------------------------------


def x32_join_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Skew hotspots of the lineitem-lineitem co-purchase self-join on
    l_suppkey: per-key row counts and estimated join output, top 5 —
    the diagnosis that justifies the x1/x25 salting remedies and gr5's
    hub guard (operators/skew.py join_skew_report)."""
    from bioeco_portal_etl_spark.operators.skew import join_skew_report

    li = T(spark, sf, "lineitem").select("l_suppkey")
    return join_skew_report(li, li, "l_suppkey", top=5).orderBy("rank")


X32_SQL = """
WITH c AS (
  SELECT l_suppkey AS key, count(*)::BIGINT AS n FROM lineitem GROUP BY 1
)
SELECT key, n AS n_left, n AS n_right, (n * n)::BIGINT AS est_out,
       row_number() OVER (ORDER BY n * n DESC, key)::BIGINT AS rank
FROM c ORDER BY rank LIMIT 5"""


# ---------------------------------------------------------------------------
# x33 — zone-map pruning audit (date-linear vs z-order layout)
# ---------------------------------------------------------------------------

_X33_PREDICATES = [
    ("cust_range", [("o_custkey", 100, 199)]),
    ("day_range", [("order_day", 2000, 2179)]),
    ("cust_and_day", [("o_custkey", 100, 199), ("order_day", 2000, 2179)]),
]


def x33_zone_skip(spark: SparkSession, sf: str) -> DataFrame:
    """File-skipping audit: per-file (min, max) zone maps of orders
    under (a) monthly date-range files and (b) the x24 z-order layout
    (z top-8 bits = file), each evaluated against three range
    predicates — files_skipped / rows_scanned per (layout, predicate)
    is the number an OPTIMIZE decision reads (operators/zonemap.py)."""
    from bioeco_portal_etl_spark.operators.zonemap import (
        skip_report,
        zone_maps,
    )
    from bioeco_portal_etl_spark.operators.zorder import quantize, z_expr

    o = T(spark, sf, "orders").select(
        "o_custkey",
        F.expr("datediff(o_orderdate, DATE '1992-01-01')")
        .cast("long")
        .alias("order_day"),
    )
    coded = o.withColumn(
        "_za", quantize("o_custkey", _Z_A_STEP, _Z_CAP)
    ).withColumn("_zb", quantize("order_day", _Z_B_STEP, _Z_CAP))
    stat_cols = ["o_custkey", "order_day"]
    lin = skip_report(
        zone_maps(coded, F.expr("order_day div 30"), stat_cols),
        "date_linear",
        _X33_PREDICATES,
    )
    zor = skip_report(
        zone_maps(
            coded,
            F.shiftright(z_expr("_za", "_zb", 8), 8),
            stat_cols,
        ),
        "zorder",
        _X33_PREDICATES,
    )
    return lin.unionByName(zor).orderBy("layout", "predicate")


def _x33_sql() -> str:
    from bioeco_portal_etl_spark.operators.zonemap import duck_zone_skip
    from bioeco_portal_etl_spark.operators.zorder import z_expr_sql

    src = f"""
  SELECT o_custkey,
         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS order_day,
         least(CAST(floor(o_custkey / {_Z_A_STEP}) AS BIGINT), {_Z_CAP}) AS za,
         least(CAST(floor(datediff('day', DATE '1992-01-01',
                                   CAST(o_orderdate AS DATE)) / {_Z_B_STEP})
                    AS BIGINT), {_Z_CAP}) AS zb
  FROM orders"""
    body = duck_zone_skip(
        src,
        [
            ("date_linear", "order_day // 30"),
            ("zorder", f"({z_expr_sql('za', 'zb', 8, 'duckdb')}) >> 8"),
        ],
        ["o_custkey", "order_day"],
        _X33_PREDICATES,
    )
    return f"""
WITH {body}
SELECT layout, predicate, files_total, files_skipped, rows_scanned
FROM zskip ORDER BY layout, predicate"""


# ---------------------------------------------------------------------------
# x34 — 2-D histogram cardinality estimation audit
# ---------------------------------------------------------------------------

_X34_A_STEP, _X34_B_STEP = 64, 16
_X34_PREDICATES = [
    # cell-aligned rectangle: the grid proves it exactly (lo = hi = actual)
    ("aligned", 128, 191, 2000, 2159),
    # unaligned: boundary cells open the lo/hi bracket
    ("unaligned", 100, 199, 2000, 2179),
    # everything: both bounds collapse to the full row count
    ("all_rows", 0, 10_000_000, 0, 10_000_000),
]


def x34_selectivity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Cardinality-estimation audit over the (o_custkey, order_day) 2-D
    grid histogram: est_lo/est_hi brackets per predicate rectangle next
    to the ACTUAL row count, plus bracket_ok (the containment the
    operator guarantees) — operators/selectivity.py."""
    from bioeco_portal_etl_spark.operators.selectivity import (
        grid_histogram_2d,
        selectivity_bounds,
    )

    o = T(spark, sf, "orders").select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.expr("datediff(o_orderdate, DATE '1992-01-01')")
        .cast("long")
        .alias("order_day"),
    )
    grid = grid_histogram_2d(o, "o_custkey", "order_day", _X34_A_STEP, _X34_B_STEP)
    bounds = selectivity_bounds(grid, _X34_A_STEP, _X34_B_STEP, _X34_PREDICATES)
    actual = o.agg(
        *[
            F.sum(
                (
                    F.col("o_custkey").between(a_lo, a_hi)
                    & F.col("order_day").between(b_lo, b_hi)
                ).cast("long")
            ).alias(name)
            for name, a_lo, a_hi, b_lo, b_hi in _X34_PREDICATES
        ]
    )
    melted = actual.selectExpr(
        "stack({n}, {args}) AS (predicate, actual_rows)".format(
            n=len(_X34_PREDICATES),
            args=", ".join(
                f"'{name}', {name}" for name, *_ in _X34_PREDICATES
            ),
        )
    )
    return (
        bounds.join(melted, "predicate")
        .select(
            "predicate",
            F.col("est_lo").cast("long").alias("est_lo"),
            F.col("est_hi").cast("long").alias("est_hi"),
            F.col("cells_full").cast("long").alias("cells_full"),
            F.col("cells_partial").cast("long").alias("cells_partial"),
            F.col("actual_rows").cast("long").alias("actual_rows"),
            (
                (F.col("est_lo") <= F.col("actual_rows"))
                & (F.col("actual_rows") <= F.col("est_hi"))
            )
            .cast("long")
            .alias("bracket_ok"),
        )
        .orderBy("predicate")
    )


def _x34_sql() -> str:
    from bioeco_portal_etl_spark.operators.selectivity import duck_selectivity

    body = duck_selectivity(
        """
  SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS order_day
  FROM orders""",
        "o_custkey",
        "order_day",
        _X34_A_STEP,
        _X34_B_STEP,
        _X34_PREDICATES,
    )
    return f"""
WITH {body}
SELECT predicate, est_lo, est_hi, cells_full, cells_partial, actual_rows,
       CASE WHEN est_lo <= actual_rows AND actual_rows <= est_hi
            THEN 1 ELSE 0 END::BIGINT AS bracket_ok
FROM selest ORDER BY predicate"""


# ---------------------------------------------------------------------------
# x35 — market-basket association rules
# ---------------------------------------------------------------------------


def x35_market_basket(spark: SparkSession, sf: str) -> DataFrame:
    """Association rules over order baskets with items = part class
    (l_partkey % 40): support / confidence / lift in e6 integers,
    RELATIVE min support 1/200 of baskets with an absolute floor of 2
    (operators/basket.py). The round-8 sf0.001 sweep caught the
    original absolute min_support=50 returning zero pairs at 1.5k
    baskets (max pair support 28) while cutting NOTHING at >= 14k
    baskets — an absolute support cut is scale-dependent in both
    directions; the basket-fraction form is the textbook one."""
    from bioeco_portal_etl_spark.operators.basket import association_rules

    li = T(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 40).cast("long").alias("item"),
    )
    return association_rules(
        li, "basket", "item", min_support=2, min_support_per=200
    ).orderBy("item_a", "item_b")


def _x35_sql() -> str:
    from bioeco_portal_etl_spark.operators.basket import duck_association_rules

    body = duck_association_rules(
        "SELECT l_orderkey AS basket,"
        " CAST(l_partkey % 40 AS BIGINT) AS item FROM lineitem",
        min_support=2,
        min_support_per=200,
    )
    return f"""
WITH {body}
SELECT item_a, item_b, support_ab, support_a, support_b,
       conf_ab_e6, conf_ba_e6, lift_e6
FROM rules ORDER BY item_a, item_b"""


# ---------------------------------------------------------------------------
# x36 — time-weighted average
# ---------------------------------------------------------------------------


def x36_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(user, day) duration-weighted mean event value (step
    interpolation, integer cent-seconds), rolled up per day: n_series,
    total holding seconds, and the day's mean TWA — operators/
    timeseries.py time_weighted_avg."""
    from bioeco_portal_etl_spark.operators.timeseries import time_weighted_avg

    ev = T(spark, sf, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    twa = time_weighted_avg(ev, ["user_id", "day"], "ts", "value").filter(
        F.col("span_secs") > 0
    )
    return (
        twa.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_series"),
            F.sum("span_secs").cast("long").alias("sum_span_secs"),
            F.expr("CAST(sum(twa_e4) div count(1) AS BIGINT)").alias(
                "mean_twa_e4"
            ),
        )
        .orderBy("day")
    )


X36_SQL = """
WITH ev AS (
  SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS day, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
stepped AS (
  SELECT user_id, day, cents,
         (epoch_us(lead(ts) OVER (PARTITION BY user_id, day ORDER BY ts))
          - epoch_us(ts)) // 1000000 AS hold
  FROM ev
),
twa AS (
  SELECT user_id, day,
         sum(hold) AS span_secs,
         CAST(CASE WHEN sum(hold) > 0 THEN
              (10000 * sum(cents * hold)) // sum(hold) END AS BIGINT)
           AS twa_e4
  FROM stepped WHERE hold IS NOT NULL
  GROUP BY user_id, day
)
SELECT day, count(*)::BIGINT AS n_series,
       sum(span_secs)::BIGINT AS sum_span_secs,
       CAST(sum(twa_e4) // count(*) AS BIGINT) AS mean_twa_e4
FROM twa WHERE span_secs > 0
GROUP BY day ORDER BY day"""


# ---------------------------------------------------------------------------
# x37 — range-partitioner boundaries + balance audit
# ---------------------------------------------------------------------------

_RP_BUCKETS, _RP_PERMILLE = 8, 50


def x37_range_partition_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Estimate 7 split points of o_custkey from the deterministic 5%
    md5 sample of orders, then audit the full table's per-bucket row
    counts and value spans (operators/rangepart.py) — the
    repartitionByRange sampling pass, checkable end to end."""
    from bioeco_portal_etl_spark.operators.rangepart import (
        range_assignment_audit,
        range_boundaries,
    )

    o = T(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").cast("long").alias("o_custkey")
    )
    b = range_boundaries(
        o, "o_custkey", "o_orderkey", _RP_BUCKETS, _RP_PERMILLE
    )
    return (
        range_assignment_audit(o, "o_custkey", b)
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("min_v").cast("long").alias("min_v"),
            F.col("max_v").cast("long").alias("max_v"),
        )
        .orderBy("bucket")
    )


def _x37_sql() -> str:
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60("CAST(o_orderkey AS VARCHAR)")
    b, p = _RP_BUCKETS, _RP_PERMILLE
    picks = ",\n         ".join(
        f"min(CASE WHEN {b} * cum - {j} * n >= 0 THEN v END) AS b{j}"
        for j in range(1, b)
    )
    bounds = " UNION ALL ".join(
        f"SELECT b{j} AS boundary FROM wide" for j in range(1, b)
    )
    return f"""
WITH src AS (
  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS v FROM orders
),
sampled AS (SELECT v FROM src WHERE ({h}) % 1000 < {p}),
freq AS (SELECT v, count(*) AS c FROM sampled GROUP BY v),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM freq
),
wide AS (SELECT {picks} FROM cum),
bounds AS ({bounds}),
counts AS (SELECT v, count(*) AS n_rows_v FROM src GROUP BY v),
per_value AS (
  SELECT c.v, max(c.n_rows_v) AS n_rows_v,
         sum(CASE WHEN c.v >= b.boundary THEN 1 ELSE 0 END) AS bucket
  FROM counts c CROSS JOIN bounds b GROUP BY c.v
)
SELECT bucket::BIGINT AS bucket, sum(n_rows_v)::BIGINT AS n_rows,
       min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v
FROM per_value GROUP BY bucket ORDER BY bucket"""


# ---------------------------------------------------------------------------
# x38 — A/B test report
# ---------------------------------------------------------------------------


def x38_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user conversion experiment: variant = user parity, converted
    = user ever fired a purchase event; one-row two-proportion report
    (operators/abtest.py)."""
    from bioeco_portal_etl_spark.operators.abtest import ab_test_report

    users = (
        T(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("long")).alias(
                "converted"
            )
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("variant"),
            "converted",
        )
    )
    return ab_test_report(users, "variant", "converted").orderBy("n_a")


def _x38_sql() -> str:
    from bioeco_portal_etl_spark.operators.abtest import duck_ab_test

    body = duck_ab_test(
        """
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id"""
    )
    return f"""
WITH {body}
SELECT n_a, conv_a, rate_a_e6, n_b, conv_b, rate_b_e6, lift_e6, z_e4,
       significant
FROM ab ORDER BY n_a"""


# ---------------------------------------------------------------------------
# x39 — consistent-hash ring sharding
# ---------------------------------------------------------------------------

_RING_N, _RING_V = 4, 16


def x39_consistent_hashing(spark: SparkSession, sf: str) -> DataFrame:
    """Ring(4) balance + the ring(4)->ring(5) movement certificate over
    customer keys: per-shard rows under both rings plus the moved
    fraction, stacked into one audit table (operators/sharding.py)."""
    from bioeco_portal_etl_spark.operators.sharding import (
        hash_ring,
        resharding_report,
        ring_assign,
    )

    keys = T(spark, sf, "customer").select("c_custkey")
    ring_a = hash_ring(spark, _RING_N, _RING_V)
    ring_b = hash_ring(spark, _RING_N + 1, _RING_V)
    bal_a = (
        ring_assign(keys, "c_custkey", ring_a)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("ring4").alias("ring"),
            F.col("shard").cast("long").alias("shard"),
            F.col("n").cast("long").alias("n_keys"),
        )
    )
    bal_b = (
        ring_assign(keys, "c_custkey", ring_b)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("ring5").alias("ring"),
            F.col("shard").cast("long").alias("shard"),
            F.col("n").cast("long").alias("n_keys"),
        )
    )
    moved = resharding_report(keys, "c_custkey", ring_a, ring_b).select(
        F.lit("moved").alias("ring"),
        F.lit(-1).cast("long").alias("shard"),
        F.col("moved_e6").alias("n_keys"),
    )
    return bal_a.unionByName(bal_b).unionByName(moved).orderBy("ring", "shard")


def _x39_sql() -> str:
    from bioeco_portal_etl_spark.operators.sharding import (
        duck_ring,
        duck_ring_assign,
    )

    keys = "SELECT c_custkey AS k FROM customer"
    return f"""
WITH {duck_ring(_RING_N, _RING_V)},
{duck_ring(_RING_N + 1, _RING_V)},
{duck_ring_assign(keys, f"ring_{_RING_N}", "asg_a")},
{duck_ring_assign(keys, f"ring_{_RING_N + 1}", "asg_b")},
bal AS (
  SELECT 'ring4' AS ring, shard, count(*)::BIGINT AS n_keys
  FROM asg_a GROUP BY shard
  UNION ALL
  SELECT 'ring5', shard, count(*)::BIGINT FROM asg_b GROUP BY shard
),
mv AS (
  SELECT 'moved' AS ring, CAST(-1 AS BIGINT) AS shard,
         CAST((1000000 * sum(CASE WHEN a.shard != b.shard THEN 1 ELSE 0 END))
              // count(*) AS BIGINT) AS n_keys
  FROM asg_a a JOIN asg_b b USING (k)
)
SELECT ring, shard, n_keys FROM bal
UNION ALL SELECT ring, shard, n_keys FROM mv
ORDER BY ring, shard"""


# ---------------------------------------------------------------------------
# x40 — 2-D skyline (Pareto front)
# ---------------------------------------------------------------------------


def x40_skyline_2d(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto-optimal parts: no other part is both cheaper (retail
    cents) and at-least-as-large — operators/skyline.py sort-scan
    windows, integer cents quantization on both engines."""
    from bioeco_portal_etl_spark.operators.skyline import skyline_2d

    p = T(spark, sf, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice").cast("double") * 100)
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return skyline_2d(p, "price_c", "p_size").orderBy("p_partkey")


def _x40_sql() -> str:
    from bioeco_portal_etl_spark.operators.skyline import duck_skyline_2d

    body = duck_skyline_2d(
        "SELECT p_partkey,"
        " CAST(floor(p_retailprice::DOUBLE * 100) AS BIGINT) AS price_c,"
        " CAST(p_size AS BIGINT) AS p_size FROM part",
        "price_c",
        "p_size",
    )
    return f"""
WITH {body}
SELECT p_partkey, price_c, p_size FROM sky ORDER BY p_partkey"""


# ---------------------------------------------------------------------------
# x41 — top-p nucleus coverage per language
# ---------------------------------------------------------------------------


def x41_nucleus_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Nucleus (top-p = 0.8) vocabulary size and exact covered mass per
    language — text/nucleus.py."""
    from bioeco_portal_etl_spark.text.nucleus import nucleus_coverage

    d = T(spark, sf, "documents").select(
        F.coalesce("lang", F.lit("und")).alias("lang"), "text"
    )
    return nucleus_coverage(d, "lang", "text", p_e6=800_000).orderBy("grp")


def _x41_sql() -> str:
    from bioeco_portal_etl_spark.text.nucleus import duck_nucleus_coverage

    body = duck_nucleus_coverage(
        "SELECT coalesce(lang, 'und') AS lang, text FROM documents",
        "lang",
        p_e6=800_000,
    )
    return f"""
WITH {body}
SELECT grp, n_vocab, total_tokens, n_nucleus, nucleus_mass_e6
FROM nuc ORDER BY grp"""


# ---------------------------------------------------------------------------
# x43 — weighted median
# ---------------------------------------------------------------------------


def x43_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted median extended price (integer cents) per
    return flag — operators/stats.py weighted_median."""
    from bioeco_portal_etl_spark.operators.stats import weighted_median

    li = T(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice").cast("double") * 100)
        .cast("long")
        .alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_median(li, "grp", "price_c", "qty").orderBy("grp")


def _x43_sql() -> str:
    from bioeco_portal_etl_spark.operators.stats import duck_weighted_median

    body = duck_weighted_median(
        "SELECT l_returnflag AS grp,"
        " CAST(floor(l_extendedprice::DOUBLE * 100) AS BIGINT) AS v,"
        " CAST(l_quantity AS BIGINT) AS w FROM lineitem"
    )
    return f"""
WITH {body}
SELECT grp, total_weight, wmedian FROM wmed ORDER BY grp"""


# ---------------------------------------------------------------------------
# x44 — join-cardinality estimation audit
# ---------------------------------------------------------------------------


def x44_join_card_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Selinger estimate vs exact join size for two fact joins
    (orders⋈lineitem on orderkey, customer⋈orders on custkey) —
    operators/joinstats.py join_card_audit."""
    from bioeco_portal_etl_spark.operators.joinstats import join_card_audit

    o = T(spark, sf, "orders")
    li = T(spark, sf, "lineitem")
    c = T(spark, sf, "customer")
    a = join_card_audit(
        o.select(F.col("o_orderkey").alias("k")),
        li.select(F.col("l_orderkey").alias("k")),
        "k",
        "orders_lineitem",
    )
    b = join_card_audit(
        c.select(F.col("c_custkey").alias("k")),
        o.select(F.col("o_custkey").alias("k")),
        "k",
        "customer_orders",
    )
    return a.unionByName(b).orderBy("join_name")


def _x44_sql() -> str:
    from bioeco_portal_etl_spark.operators.joinstats import (
        duck_join_card_audit,
    )

    q1 = duck_join_card_audit(
        "SELECT o_orderkey AS k FROM orders",
        "SELECT l_orderkey AS k FROM lineitem",
        "k",
        "orders_lineitem",
    )
    q2 = duck_join_card_audit(
        "SELECT c_custkey AS k FROM customer",
        "SELECT o_custkey AS k FROM orders",
        "k",
        "customer_orders",
    )
    return f"""
SELECT * FROM ({q1}) UNION ALL SELECT * FROM ({q2}) ORDER BY join_name"""


# ---------------------------------------------------------------------------
# x45 — bitmap/RLE suitability audit
# ---------------------------------------------------------------------------


def x45_bitmap_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """RLE/bitmap suitability of the low-cardinality orders columns
    under o_orderkey physical order — operators/bitmapidx.py."""
    from bioeco_portal_etl_spark.operators.bitmapidx import bitmap_suitability

    o = T(spark, sf, "orders")
    return bitmap_suitability(
        o, "o_orderkey", ["o_orderstatus", "o_orderpriority"]
    ).orderBy("column_name")


def _x45_sql() -> str:
    from bioeco_portal_etl_spark.operators.bitmapidx import (
        duck_bitmap_suitability,
    )

    body = duck_bitmap_suitability(
        "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders",
        "o_orderkey",
        ["o_orderstatus", "o_orderpriority"],
    )
    return f"""
SELECT * FROM ({body}) ORDER BY column_name"""


# ---------------------------------------------------------------------------
# x46 — sample-based NDV estimation audit
# ---------------------------------------------------------------------------


def x46_ndv_estimate_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Chao84 NDV estimates from a deterministic 10% row sample vs true
    distinct counts for l_partkey / l_suppkey — operators/ndv.py."""
    from bioeco_portal_etl_spark.operators.ndv import ndv_estimate_audit

    li = T(spark, sf, "lineitem")
    row_key = F.concat_ws(":", "l_orderkey", "l_linenumber")
    return ndv_estimate_audit(
        li, row_key, ["l_partkey", "l_suppkey"], sample_buckets=1000
    ).orderBy("column_name")


def _x46_sql() -> str:
    from bioeco_portal_etl_spark.operators.ndv import duck_ndv_estimate_audit

    body = duck_ndv_estimate_audit(
        "SELECT * FROM lineitem",
        "l_orderkey || ':' || l_linenumber",
        ["l_partkey", "l_suppkey"],
        sample_buckets=1000,
    )
    return f"""
SELECT * FROM ({body}) ORDER BY column_name"""


# ---------------------------------------------------------------------------
# x47 — decile lift table
# ---------------------------------------------------------------------------


def x47_decile_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Lift/gains over price deciles: rank orders by (o_totalprice
    DESC, o_orderkey) into 10 equal buckets, outcome = status 'F';
    (decile, n, positives, pos_rate_e6, lift_e6, cum_gain_e6) — the
    ranked-targeting evaluation every scoring model gets.

    Scale posture: exact ntile is a GLOBAL sort (single window
    partition — probe shows the expected linear 6.6× at 10×). That is
    the right tool for its actual input — a SCORED CANDIDATE set, which
    is bounded by the scoring budget, not the corpus; for corpus-scale
    decile assignment use x20's equi-depth boundaries (frequency-table
    rank selection, no global window) and accept boundary-tie skew."""
    o = T(spark, sf, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderstatus") == "F").cast("long").alias("pos"),
    )
    w = Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
    d = o.withColumn("decile", F.ntile(10).over(w))
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("positives")
    )
    wt = Window.partitionBy()
    wc = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per.withColumn("total_n", F.sum("n").over(wt))
        .withColumn("total_pos", F.sum("positives").over(wt))
        .withColumn("cum_pos", F.sum("positives").over(wc))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n").cast("long").alias("n"),
            F.col("positives").cast("long").alias("positives"),
            F.expr("CAST((1000000 * positives) div n AS BIGINT)").alias(
                "pos_rate_e6"
            ),
            F.expr(
                "CASE WHEN total_pos > 0 THEN CAST((1000000 * positives"
                " * total_n) div (n * total_pos) AS BIGINT) END"
            ).alias("lift_e6"),
            F.expr(
                "CASE WHEN total_pos > 0 THEN"
                " CAST((1000000 * cum_pos) div total_pos AS BIGINT) END"
            ).alias("cum_gain_e6"),
        )
        .orderBy("decile")
    )


def _x47_sql() -> str:
    return """
WITH ranked AS (
  SELECT (o_orderstatus = 'F')::BIGINT AS pos,
         ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
  FROM orders
),
per AS (
  SELECT decile, count(*)::BIGINT AS n, sum(pos)::BIGINT AS positives
  FROM ranked GROUP BY decile
)
SELECT decile::BIGINT AS decile, n, positives,
       CAST((1000000 * positives) // n AS BIGINT) AS pos_rate_e6,
       CASE WHEN sum(positives) OVER () > 0 THEN
         CAST((1000000 * positives * sum(n) OVER ())
              // (n * sum(positives) OVER ()) AS BIGINT) END AS lift_e6,
       CASE WHEN sum(positives) OVER () > 0 THEN
         CAST((1000000 * sum(positives)
                         OVER (ORDER BY decile
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW))
              // sum(positives) OVER () AS BIGINT) END AS cum_gain_e6
FROM per ORDER BY decile"""


# ---------------------------------------------------------------------------
# x48 — top month-over-month movers
# ---------------------------------------------------------------------------


def x48_top_movers(spark: SparkSession, sf: str) -> DataFrame:
    """Top-15 (class, month) revenue swings by |MoM delta| (cents) over
    part classes l_partkey % 40 — per-class lag windows on the
    (class, month) rollup, then a bounded TakeOrdered head.
    Deterministic order: (|delta| DESC, class, month)."""
    li = T(spark, sf, "lineitem").select(
        (F.col("l_partkey") % 40).cast("long").alias("cls"),
        F.date_trunc("month", F.col("l_shipdate").cast("timestamp")).alias(
            "month"
        ),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("p_e2"),
    )
    m = li.groupBy("cls", "month").agg(F.sum("p_e2").alias("rev_e2"))
    w = Window.partitionBy("cls").orderBy("month")
    d = (
        m.withColumn("prev_rev_e2", F.lag("rev_e2").over(w))
        .filter(F.col("prev_rev_e2").isNotNull())
        .withColumn("delta_e2", F.col("rev_e2") - F.col("prev_rev_e2"))
    )
    return (
        d.select(
            "cls",
            "month",
            F.col("rev_e2").cast("long").alias("rev_e2"),
            F.col("prev_rev_e2").cast("long").alias("prev_rev_e2"),
            F.col("delta_e2").cast("long").alias("delta_e2"),
        )
        .orderBy(F.desc(F.abs(F.col("delta_e2"))), "cls", "month")
        .limit(15)
    )


def _x48_sql() -> str:
    return """
WITH m AS (
  SELECT CAST(l_partkey % 40 AS BIGINT) AS cls,
         time_bucket(INTERVAL '1 month', CAST(l_shipdate AS TIMESTAMP))
           AS month,
         sum(CAST(floor(l_extendedprice * 100) AS BIGINT))::BIGINT AS rev_e2
  FROM lineitem GROUP BY 1, 2
),
d AS (
  SELECT cls, month, rev_e2,
         lag(rev_e2) OVER (PARTITION BY cls ORDER BY month) AS prev_rev_e2
  FROM m
)
SELECT cls, month, rev_e2, prev_rev_e2,
       (rev_e2 - prev_rev_e2)::BIGINT AS delta_e2
FROM d WHERE prev_rev_e2 IS NOT NULL
ORDER BY abs(rev_e2 - prev_rev_e2) DESC, cls, month LIMIT 15"""


# ---------------------------------------------------------------------------
# x49 — Poisson bootstrap CI
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!), Python reprs so
# both engines floor at identical boundaries.
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
)
_B = 32


def _pois_case(u_expr: str) -> str:
    whens = " ".join(
        f"WHEN {u_expr} < {p} THEN {k}" for k, p in enumerate(_POIS_CDF)
    )
    return f"CASE {whens} ELSE 7 END"


def x49_poisson_bootstrap(spark: SparkSession, sf: str) -> DataFrame:
    """Bootstrap CI for mean(o_totalprice) via the Poisson(1)
    approximation: resample b draws each row with weight ~ Poisson(1)
    (deterministic inverse-CDF on a per-(row, b) integer hash), so all
    B=32 resamples compute in ONE explode + ONE aggregation — no
    per-resample data pass, no multinomial coordination across
    partitions. This is the standard way to bootstrap a 100 TB table:
    weights are independent per row, the aggregate is map-side
    combinable, and B scales the explode factor, not the shuffle count.
    Output: full-sample mean, ~5th/95th percentile resample means (rank
    2 and 31 of 32)."""
    return poisson_bootstrap_frame(T(spark, sf, "orders"))


def poisson_bootstrap_frame(orders_raw: DataFrame) -> DataFrame:
    """Frame-level body of x49 over an orders frame."""
    orders = orders_raw.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice").cast("double") * 100.0)
        .cast("long")
        .alias("cents"),
    )
    rep = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    ).withColumn(
        # Reduce o_orderkey mod 1000003 BEFORE the Knuth multiply:
        # ((a mod m) * k + c) mod m == (a*k + c) mod m, and the reduced
        # product tops out at ~2.65e15 — raw o_orderkey * 2654435761
        # would overflow int64 once orderkeys exceed ~3.5e9 (TPC-H
        # SF >~ 580): Spark wraps to a negative u (weight 0 rows) while
        # the DuckDB oracle errors. Spelled identically in _x49_sql().
        "u",
        (
            (
                (F.col("o_orderkey") % F.lit(1000003)) * F.lit(2654435761)
                + F.col("b") * F.lit(40503)
            )
            % F.lit(1000003)
        ).cast("double")
        / F.lit(1000003.0),
    )
    w = F.expr(_pois_case("u"))
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum("w").alias("wsum"),
            F.sum(F.col("w") * F.col("cents")).alias("wcents"),
        )
        .select(
            "b",
            F.when(
                F.col("wsum") > 0,
                F.floor(
                    F.col("wcents").cast("double") * 100.0 / F.col("wsum")
                ).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("mean_e4"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.asc("mean_e4"), F.asc("b"))),
        )
    )
    point = orders.agg(
        F.floor(
            F.sum("cents").cast("double") * 100.0 / F.count(F.lit(1))
        )
        .cast("long")
        .alias("point_mean_e4")
    )
    lo = means.filter(F.col("rn") == 2).select(
        F.col("mean_e4").alias("boot_lo_e4")
    )
    hi = means.filter(F.col("rn") == _B - 1).select(
        F.col("mean_e4").alias("boot_hi_e4")
    )
    return (
        # without the hint x49 broadcasts the point-estimate side (the orders aggregate) instead
        point.crossJoin(F.broadcast(lo))
        .crossJoin(hi)
        .select(
            F.lit(_B).cast("long").alias("n_resamples"),
            "point_mean_e4",
            "boot_lo_e4",
            "boot_hi_e4",
        )
    )


def _x49_sql() -> str:
    return f"""
WITH o AS (
  SELECT o_orderkey,
         floor(CAST(o_totalprice AS DOUBLE) * 100.0)::BIGINT AS cents
  FROM orders
),
rep AS (
  SELECT o_orderkey, cents, unnest(range(0, {_B})) AS b FROM o
),
u AS (
  SELECT b, cents,
         CAST(((o_orderkey % 1000003) * 2654435761 + b * 40503) % 1000003
              AS DOUBLE) / 1000003.0 AS u
  FROM rep
),
wtd AS (SELECT b, cents, {_pois_case("u")} AS w FROM u),
means AS (
  SELECT b,
         CASE WHEN sum(w) > 0
              THEN floor(CAST(sum(w * cents)::BIGINT AS DOUBLE) * 100.0
                         / sum(w)::BIGINT)::BIGINT
              ELSE 0 END AS mean_e4
  FROM wtd GROUP BY b
),
ranked AS (
  SELECT mean_e4,
         row_number() OVER (ORDER BY mean_e4 ASC, b ASC) AS rn
  FROM means
),
point AS (
  SELECT floor(CAST(sum(cents)::BIGINT AS DOUBLE) * 100.0
               / count(*))::BIGINT AS point_mean_e4
  FROM o
)
SELECT {_B}::BIGINT AS n_resamples,
       point.point_mean_e4,
       (SELECT mean_e4 FROM ranked WHERE rn = 2) AS boot_lo_e4,
       (SELECT mean_e4 FROM ranked WHERE rn = {_B - 1}) AS boot_hi_e4
FROM point"""


# ---------------------------------------------------------------------------
# x50 — exact two-sample KS
# ---------------------------------------------------------------------------


def x50_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    """KS = max_v |ECDF_a(v) - ECDF_b(v)| over o_totalprice, 1995 vs 1996
    orders. Integer-exact core: at each distinct value,
    |cum_a * n_b - cum_b * n_a| is a BIGINT; the max of those is exact,
    and the single division by n_a*n_b happens once, after the max.
    The cumulative window runs over the DISTINCT-value table (bounded by
    the value domain, not the row count); at 100 TB the same statistic
    runs on a range-partitioned two-pass prefix sum — the documented
    global-sort posture shared with x47_decile_lift (SCALING.md)."""
    return ks_test_frame(T(spark, sf, "orders"))


def ks_test_frame(orders: DataFrame) -> DataFrame:
    o = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice").cast("double") * 100.0)
        .cast("long")
        .alias("cents"),
    ).filter(F.col("yr").isin(1995, 1996))
    per_value = o.groupBy("cents").agg(
        F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("cb"),
    )
    w = (
        Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_value.select(
        "cents",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    totals = per_value.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    scored = cum.crossJoin(totals).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("cuma") * F.col("n_b") - F.col("cumb") * F.col("n_a")
        ).alias("d_scaled"),
    )
    return scored.groupBy("n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_distinct_values"),
        F.max("d_scaled").alias("ks_scaled"),
    ).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "n_distinct_values",
        F.floor(
            F.col("ks_scaled").cast("double")
            * 1000000.0
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
        .cast("long")
        .alias("ks_e6"),
    )


_X50_SQL = """
WITH o AS (
  SELECT year(o_orderdate) AS yr,
         floor(CAST(o_totalprice AS DOUBLE) * 100.0)::BIGINT AS cents
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
),
per_value AS (
  SELECT cents,
         sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM o GROUP BY cents
),
cum AS (
  SELECT cents,
         sum(ca) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cuma,
         sum(cb) OVER (ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumb
  FROM per_value
),
totals AS (
  SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM per_value
)
SELECT t.n_a, t.n_b,
       count(*)::BIGINT AS n_distinct_values,
       floor(CAST(max(abs(c.cuma * t.n_b - c.cumb * t.n_a)) AS DOUBLE)
             * 1000000.0
             / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)))::BIGINT
         AS ks_e6
FROM cum c CROSS JOIN totals t
GROUP BY t.n_a, t.n_b"""


# ---------------------------------------------------------------------------
# x51 — exact quantiles, two-phase (no global sort)
# ---------------------------------------------------------------------------

_X51_PS = (50, 95, 99)
_X51_BUCKET = 100_000  # cents -> $1000 buckets


def x51_exact_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT order statistics at p50/p95/p99 of the order value without
    ever sorting the full table: phase 1 aggregates a bounded bucket
    histogram (value domain / bucket width rows — the only thing the
    driver sees); the driver locates each quantile's bucket and in-bucket
    offset; phase 2 scans ONLY the target buckets and resolves the exact
    value with a per-bucket cumulative count. Rank convention:
    k_p = (n-1)*p//100, zero-based — mirrored literally in the oracle's
    correlated subquery. This is the runnable form of the 'two-pass
    range-partitioned prefix sum' posture the global-sort entries
    (x47 decile lift, x50 KS) document for 100 TB."""
    return exact_quantiles_frame(
        T(spark, sf, "orders").select(
            F.floor(F.col("o_totalprice").cast("double") * 100.0)
            .cast("long")
            .alias("v")
        )
    )


def exact_quantiles_frame(values: DataFrame) -> DataFrame:
    spark = values.sparkSession
    b = values.select(
        "v", F.floor(F.col("v") / _X51_BUCKET).cast("long").alias("bkt")
    )
    # bounded driver fetch: one row per occupied $1000 bucket
    hist = sorted(
        (r.bkt, r.c)
        for r in b.groupBy("bkt").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    n = sum(c for _, c in hist)
    targets = []
    for p in _X51_PS:
        k = (n - 1) * p // 100
        cum = 0
        for bkt, c in hist:
            if cum + c > k:
                targets.append((p, bkt, k - cum))
                break
            cum += c
    tgt = spark.createDataFrame(targets, "p long, bkt long, off long")
    per_value = (
        # without the hint x51 broadcasts the value side instead
        b.join(F.broadcast(tgt), "bkt")
        .groupBy("p", "off", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("p").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    picked = (
        per_value.withColumn("cum", F.sum("c").over(w))
        .filter(F.col("cum") > F.col("off"))
        .groupBy("p")
        .agg(F.min("v").alias("value_cents"))
    )
    return picked.select(
        "p", F.lit(n).cast("long").alias("n"), "value_cents"
    ).orderBy("p")


_X51_SQL = f"""
WITH v AS (
  SELECT floor(CAST(o_totalprice AS DOUBLE) * 100.0)::BIGINT AS v
  FROM orders
),
n AS (SELECT count(*)::BIGINT AS n FROM v),
pv AS (SELECT v, count(*)::BIGINT AS c FROM v GROUP BY v),
cum AS (
  SELECT v,
         sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
  FROM pv
),
ps AS (SELECT unnest([{", ".join(str(p) for p in _X51_PS)}]) AS p)
SELECT p::BIGINT AS p, n.n,
       (SELECT min(v) FROM cum WHERE cum > (n.n - 1) * p // 100)
         AS value_cents
FROM ps CROSS JOIN n
ORDER BY p"""


CATALOG = {
    "x1_salted_agg": (x1_salted_agg, X1_SQL),
    "x2_stratified_split": (x2_stratified_split, X2_SQL),
    "x3_sequence_packing": (x3_sequence_packing, X3_SQL),
    "x4_source_cap": (x4_source_cap, X4_SQL),
    "x5_chunk_windows": (x5_chunk_windows, X5_SQL),
    "x6_corpus_stats": (x6_corpus_stats, X6_SQL),
    "x7_temperature_mix": (x7_temperature_mix, X7_SQL),
    "x8_fuzzy_match": (x8_fuzzy_match, X8_SQL),
    "x9_snapshot_diff": (x9_snapshot_diff, X9_SQL),
    "x10_url_dedupe": (x10_url_dedupe, X10_SQL),
    "x11_resample_interpolate": (x11_resample_interpolate, X11_SQL),
    "x12_weighted_sample": (x12_weighted_sample, _x12_sql()),
    "x13_rolling_zscore": (x13_rolling_zscore, X13_SQL),
    "x14_ewma": (x14_ewma, X14_SQL),
    "x15_temporal_split": (x15_temporal_split, X15_SQL),
    "x16_histogram": (x16_histogram, X16_SQL),
    "x17_winsorize": (x17_winsorize, X17_SQL),
    "x18_cusum_drift": (x18_cusum_drift, X18_SQL),
    "x19_group_normalize": (x19_group_normalize, X19_SQL),
    "x20_equidepth_bins": (x20_equidepth_bins, X20_SQL),
    "x21_dup_matrix": (x21_dup_matrix, _x21_sql()),
    "x22_incremental_agg": (x22_incremental_agg, X22_SQL),
    "x23_scd2_history": (x23_scd2_history, X23_SQL),
    "x24_zorder_layout": (x24_zorder_layout, _x24_sql()),
    "x25_salted_join": (x25_salted_join, X25_SQL),
    "x26_bloom_join": (x26_bloom_join, X26_SQL),
    "x27_epoch_shuffle": (x27_epoch_shuffle, _x27_sql()),
    "x28_compaction_plan": (x28_compaction_plan, _x28_sql()),
    "x29_cdc_net_effect": (x29_cdc_net_effect, X29_SQL),
    "x30_scd2_asof": (x30_scd2_asof, X30_SQL),
    "x31_dsir_weights": (x31_dsir_weights, _x31_sql()),
    "x32_join_skew_report": (x32_join_skew_report, X32_SQL),
    "x33_zone_skip": (x33_zone_skip, _x33_sql()),
    "x34_selectivity_audit": (x34_selectivity_audit, _x34_sql()),
    "x35_market_basket": (x35_market_basket, _x35_sql()),
    "x36_time_weighted_avg": (x36_time_weighted_avg, X36_SQL),
    "x37_range_partition_audit": (x37_range_partition_audit, _x37_sql()),
    "x38_ab_test": (x38_ab_test, _x38_sql()),
    "x39_consistent_hashing": (x39_consistent_hashing, _x39_sql()),
    "x40_skyline_2d": (x40_skyline_2d, _x40_sql()),
    "x41_nucleus_coverage": (x41_nucleus_coverage, _x41_sql()),
    "x43_weighted_median": (x43_weighted_median, _x43_sql()),
    "x44_join_card_estimate": (x44_join_card_estimate, _x44_sql()),
    "x45_bitmap_estimate": (x45_bitmap_estimate, _x45_sql()),
    "x46_ndv_estimate_audit": (x46_ndv_estimate_audit, _x46_sql()),
    "x47_decile_lift": (x47_decile_lift, _x47_sql()),
    "x48_top_movers": (x48_top_movers, _x48_sql()),
    "x49_poisson_bootstrap": (x49_poisson_bootstrap, _x49_sql()),
    "x50_ks_test": (x50_ks_test, _X50_SQL),
    "x51_exact_quantiles": (x51_exact_quantiles, _X51_SQL),
}

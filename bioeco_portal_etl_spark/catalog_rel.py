"""Relational catalog entries (p*, f*, j*, a*, u*, r*, rel*): the reference's
projection / filter / join / aggregate / union / reshape surface (SURVEY.md
§2.3-2.8) and the operators a user reaches for next — rollup/cube, window
functions, semi/anti and as-of joins, funnels, cohorts, attribution,
hierarchies, SCD and interval sweeps (functions/, operators/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.functions.dates import end_of_year, year_to_date
from bioeco_portal_etl_spark.functions.recode import recode
from bioeco_portal_etl_spark.functions.strings import (
    make_identifier,
    null_quote,
    str_trunc,
)
from bioeco_portal_etl_spark.operators.aggregate import (
    bool_any,
    distinct_concat,
    ordinal_min,
)
from bioeco_portal_etl_spark.operators.dedupe import (
    dedupe_keep_first,
    duplicate_audit,
    make_unique,
)
from bioeco_portal_etl_spark.operators.projection import select_rename
from bioeco_portal_etl_spark.operators.union import union_by_name
from bioeco_portal_etl_spark.operators.unpivot import unpivot_flags
from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


PRIORITY_LEVELS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


# ---------------------------------------------------------------------------
# Projection / scalar-function operators (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def p1_select_rename(spark: SparkSession, sf: str) -> DataFrame:
    """P1/P2: canonicalizing projection with rename (index.Rmd:74-97)."""
    c = T(spark, sf, "customer")
    out = select_rename(
        c,
        {
            "c_custkey": "id",
            "c_name": "name",
            "c_mktsegment": "segment",
            "c_acctbal": "balance",
        },
    )
    return out.orderBy("id")


P1_SQL = """
SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment, c_acctbal AS balance
FROM customer ORDER BY id
"""


def p6_recode_passthrough(spark: SparkSession, sf: str) -> DataFrame:
    """P6: dplyr-recode semantics — unmatched keys pass through UNCHANGED
    (index.Rmd:105-117; the ~70-pair map at :192-271 uses the same op)."""
    o = T(spark, sf, "orders")
    mapping = {"1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium"}
    return (
        o.select(
            "o_orderkey",
            recode("o_orderpriority", mapping).alias("priority_recoded"),
        )
        .orderBy("o_orderkey")
    )


P6_SQL = """
SELECT o_orderkey,
       CASE o_orderpriority
         WHEN '1-URGENT' THEN 'urgent'
         WHEN '2-HIGH' THEN 'high'
         WHEN '3-MEDIUM' THEN 'medium'
         ELSE o_orderpriority
       END AS priority_recoded
FROM orders ORDER BY o_orderkey
"""


def p7_str_trunc(spark: SparkSession, sf: str) -> DataFrame:
    """P7: stringr::str_trunc with trailing ellipsis (index.Rmd:101,337)."""
    d = T(spark, sf, "documents")
    return d.select(
        "doc_id", str_trunc("text", 50).alias("text_trunc")
    ).orderBy("doc_id")


P7_SQL = """
SELECT doc_id,
       CASE WHEN length(text) > 50 THEN substr(text, 1, 47) || '...' ELSE text END AS text_trunc
FROM documents ORDER BY doc_id
"""


def p8_p9_year_dates(spark: SparkSession, sf: str) -> DataFrame:
    """P8 year-precision date parse + P9 lubridate end-of-year semantics
    (index.Rmd:103-104; 'active'/'current' -> null): ceiling_date on Date
    class uses change_on_boundary=TRUE, so end year Y -> Y-12-31 (pinned
    against the published run in test_reference_golden_counts.py)."""
    o = T(spark, sf, "orders")
    year_str = F.when(F.col("o_orderstatus") == "O", F.lit("active")).otherwise(
        F.year("o_orderdate").cast("string")
    )
    start = year_to_date(year_str)
    return o.select(
        "o_orderkey",
        start.alias("start_date"),
        end_of_year(start).alias("end_date"),
    ).orderBy("o_orderkey")


P8_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'O' THEN NULL ELSE make_date(year(o_orderdate)::int, 1, 1) END AS start_date,
       CASE WHEN o_orderstatus = 'O' THEN NULL
            ELSE make_date(year(o_orderdate)::int, 12, 31) END::date AS end_date
FROM orders ORDER BY o_orderkey
"""


def p12_make_identifier(spark: SparkSession, sf: str) -> DataFrame:
    """P12 slugify + P13 >58-char shortening (index.Rmd:353-371)."""
    p = T(spark, sf, "part")
    raw = F.concat_ws(" ", "p_name", "p_type", "p_brand", "p_name", "p_type", "p_brand")
    return p.select("p_partkey", make_identifier(raw).alias("identifier")).orderBy("p_partkey")


P12_SQL = r"""
WITH slug AS (
  SELECT p_partkey,
         regexp_replace(
           regexp_replace(
             trim(regexp_replace(lower(concat_ws(' ', p_name, p_type, p_brand, p_name, p_type, p_brand)),
                  '[()":'',&/.;]', '', 'g')),
             '[\s\-–]+', '_', 'g'),
           '[()":'',&/.;]', '', 'g') AS s
  FROM part)
SELECT p_partkey,
       CASE WHEN length(s) > 58 THEN substr(s, 1, 29) || substr(s, length(s) - 28, 29) ELSE s END AS identifier
FROM slug ORDER BY p_partkey
"""


def p18_row_number(spark: SparkSession, sf: str) -> DataFrame:
    """P18: deterministic id generation over an explicit total order
    (index.Rmd:347 — the reference leans on frame order; we do not)."""
    o = T(spark, sf, "orders")
    return (
        o.select("o_orderkey")
        .withColumn("id", F.row_number().over(Window.orderBy("o_orderkey")))
        .orderBy("o_orderkey")
    )


P18_SQL = """
SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS id
FROM orders ORDER BY o_orderkey
"""


def p19_sql_script(spark: SparkSession, sf: str) -> DataFrame:
    """P19 null-sentinel quoting + K8 SQL-script sink (export_in_obis.R:10-12)."""
    o = T(spark, sf, "orders")
    v = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(F.col("o_orderstatus"))
    return o.select(
        "o_orderkey",
        F.concat(
            F.lit("update layers_layer set data_in_obis = "),
            null_quote(v),
            F.lit(" where id = "),
            F.col("o_orderkey").cast("string"),
            F.lit(";"),
        ).alias("stmt"),
    ).orderBy("o_orderkey")


P19_SQL = """
SELECT o_orderkey,
       'update layers_layer set data_in_obis = '
       || CASE WHEN o_orderstatus = 'P' THEN 'null' ELSE '''' || o_orderstatus || '''' END
       || ' where id = ' || o_orderkey || ';' AS stmt
FROM orders ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Filters / joins (SURVEY.md §2.4, §2.5)
# ---------------------------------------------------------------------------


def f_filters(spark: SparkSession, sf: str) -> DataFrame:
    """F1-F4,F6: null guard, equality, range, regex predicates in one scan."""
    e = T(spark, sf, "events")
    return (
        e.filter(F.col("event_type").isNotNull() & (F.col("event_type") != "null"))
        .filter(F.col("event_type").rlike("^(click|view)$"))
        .filter((F.col("value") >= 10) & (F.col("value") <= 90))
        .select("event_id", "event_type", F.round("value", 4).alias("value"))
        .orderBy("event_id")
    )


F_SQL = """
SELECT event_id, event_type, round(value, 4) AS value
FROM events
WHERE event_type IS NOT NULL AND event_type <> 'null'
  AND regexp_matches(event_type, '^(click|view)$')
  AND value >= 10 AND value <= 90
ORDER BY event_id
"""


def j1_broadcast_left_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1/J2/J3: broadcast equi left-join enrichment (index.Rmd:98,673,699)."""
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select("o_orderkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    )


J1_SQL = """
SELECT o_orderkey, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
"""


def j4_differing_key_names(spark: SparkSession, sf: str) -> DataFrame:
    """J4: left join on differently-named keys (eov_to_keywords.Rmd:62-63)."""
    n = T(spark, sf, "nation")
    r = T(spark, sf, "region").select(
        F.col("r_regionkey").alias("rk"), F.col("r_name").alias("region_name")
    )
    return (
        n.join(r, n.n_regionkey == r.rk, "left")
        .select("n_name", "region_name")
        .orderBy("n_name")
    )


J4_SQL = """
SELECT n_name, r_name AS region_name
FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Aggregations / dedupe (SURVEY.md §2.6)
# ---------------------------------------------------------------------------


def a1_grouped_merge(spark: SparkSession, sf: str) -> DataFrame:
    """A1 composite: min/max date (A1a), bool-any (A1b), sorted distinct
    concat (A1c), ordinal-min over an ordered category (A1d) — the EuroSea
    merge aggregation (index.Rmd:310-338) on the orders table."""
    o = T(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            bool_any(F.col("o_orderstatus") == "F").alias("any_finished"),
            distinct_concat("o_orderpriority").alias("priorities"),
            ordinal_min("o_orderpriority", PRIORITY_LEVELS).alias("finest_priority"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


A1_SQL = """
SELECT o_custkey,
       min(o_orderdate::date)                                       AS first_order,
       max(o_orderdate::date)                                       AS last_order,
       coalesce(max(o_orderstatus = 'F'), FALSE)                    AS any_finished,
       string_agg(DISTINCT trim(regexp_replace(o_orderpriority, '\\s+', ' ', 'g')), '; '
                  ORDER BY trim(regexp_replace(o_orderpriority, '\\s+', ' ', 'g'))) AS priorities,
       min(o_orderpriority)                                         AS finest_priority,
       count(*)                                                     AS n_orders
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


def a2_dedupe_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """A2: distinct(.keep_all) under an explicit order (index.Rmd:670)."""
    o = T(spark, sf, "orders")
    first = dedupe_keep_first(o, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()])
    return first.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("first_order_date")
    ).orderBy("o_custkey")


A2_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate::date AS first_order_date
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
ORDER BY o_custkey
"""


def a3_duplicate_audit(spark: SparkSession, sf: str) -> DataFrame:
    """A3: every member of any key-collision group (index.Rmd:382)."""
    p = T(spark, sf, "part")
    return (
        duplicate_audit(p, ["p_brand", "p_size"])
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey")
    )


A3_SQL = """
SELECT p_partkey, p_brand, p_size
FROM part
QUALIFY count(*) OVER (PARTITION BY p_brand, p_size) > 1
ORDER BY p_partkey
"""


def a4_make_unique(spark: SparkSession, sf: str) -> DataFrame:
    """A4: R make.unique suffixing under an explicit order (index.Rmd:392-393).

    The fixture key deliberately mixes bare brand names with pre-suffixed
    ``brand_1..brand_3`` keys so the SURVEY §2.6 A4 edge (synthesized
    suffixes must SKIP names already taken in the input) is exercised at
    the driver gate, not just in unit tests."""
    p = T(spark, sf, "part").withColumn(
        "key",
        F.when(F.col("p_partkey") % 10 < 8, F.col("p_brand")).otherwise(
            F.concat(
                F.col("p_brand"),
                F.lit("_"),
                (F.col("p_size") % 3 + 1).cast("string"),
            )
        ),
    )
    out = make_unique(p, "key", [F.col("p_partkey").asc()], out_col="unique_key")
    return out.select("p_partkey", "unique_key").orderBy("p_partkey")


A4_SQL = """
WITH keyed AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 10 < 8 THEN p_brand
              ELSE p_brand || '_' || CAST(p_size % 3 + 1 AS VARCHAR) END AS key
  FROM part),
occ AS (
  SELECT p_partkey, key,
         row_number() OVER (PARTITION BY key ORDER BY p_partkey) - 1 AS occ
  FROM keyed),
blocked AS (
  SELECT regexp_extract(key, '^(.*)_([1-9][0-9]*)$', 1) AS base,
         CAST(regexp_extract(key, '^(.*)_([1-9][0-9]*)$', 2) AS BIGINT) AS j
  FROM (SELECT DISTINCT key FROM keyed)
  WHERE regexp_matches(key, '^(.*)_([1-9][0-9]*)$')),
bl AS (
  SELECT base, list_sort(list(DISTINCT j)) AS bs FROM blocked GROUP BY base)
SELECT o.p_partkey,
       CASE WHEN o.occ > 0 THEN o.key || '_' || CAST(
         list_reduce(
           list_prepend(o.occ, coalesce(b.bs, [])),
           (acc, x) -> CASE WHEN x <= acc THEN acc + 1 ELSE acc END
         ) AS VARCHAR)
       ELSE o.key END AS unique_key
FROM occ o LEFT JOIN bl b ON o.key = b.base
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Set ops / reshaping / sorts (SURVEY.md §2.7, §2.8)
# ---------------------------------------------------------------------------


def u1_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """U1: bind_rows with missing-column null fill (index.Rmd:346)."""
    c = T(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("entity"),
    )
    s = T(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("balance"),
        F.lit("supplier").alias("entity"),
    )
    return union_by_name(c, s).orderBy("entity", "id")


U1_SQL = """
SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance, c_mktsegment AS segment, 'customer' AS entity
FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_acctbal, NULL, 'supplier' FROM supplier
ORDER BY entity, id
"""


EOV_FLAG_ORDER = ["flag_small", "flag_large", "flag_promo"]


def r2_unpivot_flags(spark: SparkSession, sf: str) -> DataFrame:
    """R2: boolean-wide -> association-long unpivot with caller-defined
    ordinal order (index.Rmd:727-747)."""
    p = T(spark, sf, "part")
    flagged = p.select(
        "p_partkey",
        (F.col("p_type") == "SMALL").alias("flag_small"),
        (F.col("p_type") == "LARGE").alias("flag_large"),
        (F.col("p_type") == "PROMO").alias("flag_promo"),
    )
    out = unpivot_flags(flagged, ["p_partkey"], EOV_FLAG_ORDER, ordinal_col="flag_id", name_col="flag_name")
    return out.orderBy("p_partkey", "flag_id")


R2_SQL = """
SELECT p_partkey, 1 AS flag_id, 'flag_small' AS flag_name FROM part WHERE p_type = 'SMALL'
UNION ALL
SELECT p_partkey, 2, 'flag_large' FROM part WHERE p_type = 'LARGE'
UNION ALL
SELECT p_partkey, 3, 'flag_promo' FROM part WHERE p_type = 'PROMO'
ORDER BY p_partkey, flag_id
"""


def p0_canonical_entities(spark: SparkSession, sf: str) -> DataFrame:
    """FLAGSHIP composite: the reference's canonical-table pipeline shape
    (SURVEY.md §3 EP1 step 6) in one oracle-checked query — union-by-name
    with null fill (U1) over two differently-shaped sources, slug identity
    (P12/P13), make-unique suffixing over NATURAL heavy collisions (A4:
    brand+type repeats across parts), and a deterministic id (P18)."""
    from bioeco_portal_etl_spark.functions.strings import make_identifier
    from bioeco_portal_etl_spark.operators.dedupe import make_unique
    from bioeco_portal_etl_spark.operators.union import union_by_name
    from pyspark.sql import Window

    parts = T(spark, sf, "part").select(
        F.col("p_partkey").alias("src_id"),
        F.concat_ws(" ", "p_brand", "p_type").alias("name"),
        F.lit("part").alias("entity"),
        F.round("p_retailprice", 2).alias("value"),
    )
    sups = T(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("src_id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("entity"),
    )
    u = union_by_name(parts, sups)
    u = u.withColumn("identifier", make_identifier(F.col("name")))
    u = make_unique(u, "identifier", [F.col("entity"), F.col("src_id").asc()])
    w = Window.orderBy("entity", "src_id")
    return u.withColumn("id", F.row_number().over(w)).select(
        "id", "entity", "src_id", "identifier", "name", "value"
    ).orderBy("entity", "src_id")


P0_SQL = r"""
WITH u AS (
  SELECT p_partkey AS src_id, p_brand || ' ' || p_type AS name,
         'part' AS entity, round(p_retailprice, 2) AS value
  FROM part
  UNION ALL
  SELECT s_suppkey, s_name, 'supplier', NULL FROM supplier
),
slug AS (
  SELECT *,
         regexp_replace(
           regexp_replace(
             trim(regexp_replace(lower(name), '[()":'',&/.;]', '', 'g')),
             '[\s\-–]+', '_', 'g'),
           '[()":'',&/.;]', '', 'g') AS s
  FROM u
),
short AS (
  SELECT *, CASE WHEN length(s) > 58
                 THEN substr(s, 1, 29) || substr(s, length(s) - 28, 29)
                 ELSE s END AS base
  FROM slug
),
occs AS (
  SELECT *, row_number() OVER (PARTITION BY base ORDER BY entity, src_id) - 1 AS occ
  FROM short
)
SELECT row_number() OVER (ORDER BY entity, src_id) AS id,
       entity, src_id,
       CASE WHEN occ > 0 THEN base || '_' || occ ELSE base END AS identifier,
       name, value
FROM occs ORDER BY entity, src_id
"""


def rel1_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Rollup over (region, nation): per-nation, per-region subtotal, grand
    total — one pass, Expand-based, no self-union."""
    c = T(spark, sf, "customer")
    n = T(spark, sf, "nation")
    r = T(spark, sf, "region")
    # without the hint rel1 broadcasts the customer side instead (sf0.001)
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


REL1_SQL = """
SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def rel2_lead_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer order timeline: previous/next order dates and a running
    order count — lead/lag/frame windows over one (key, time) sort."""
    o = T(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.lag("o_orderdate").over(w).cast("date").alias("prev_order"),
        F.lead("o_orderdate").over(w).cast("date").alias("next_order"),
        F.count(F.lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("order_seq"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


REL2_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate::date AS o_orderdate,
       lag(o_orderdate)  OVER w ::date AS prev_order,
       lead(o_orderdate) OVER w ::date AS next_order,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def rel3_semi_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Semi + anti join in one result: customers WITH orders vs WITHOUT —
    the has_shapefile / empty-layer pattern as first-class joins."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders").select("o_custkey")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.lit(True).alias("has_orders")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit(False).alias("has_orders")
    )
    return with_orders.unionByName(without).orderBy("c_custkey")


REL3_SQL = """
SELECT c_custkey, TRUE AS has_orders FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, FALSE FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


def rel4_conditional_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot-style conditional aggregation: per-nation order counts by
    status — sum(when(...)) columns, one aggregate, no pivot shuffle."""
    c = T(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = T(spark, sf, "orders")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_pending"),
        )
        .orderBy("c_nationkey")
    )


REL4_SQL = """
SELECT c_nationkey,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_finished,
       sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
       sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_pending
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def rel5_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 parts by retail price per brand — rank + filter, the grouped
    top-k every curation pipeline needs (cf. similarity top-k)."""
    p = T(spark, sf, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "rk", "p_partkey", F.round("p_retailprice", 2).alias("price"))
        .orderBy("p_brand", "rk")
    )


REL5_SQL = """
SELECT p_brand, rk, p_partkey, round(p_retailprice, 2) AS price FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM part)
WHERE rk <= 3 ORDER BY p_brand, rk
"""


def p3_blanks_to_null(spark: SparkSession, sf: str) -> DataFrame:
    """P3: mutate_all(~na_if(., '')) — blank strings to null across string
    columns (index.Rmd:64). Empty-string clerks are planted via substring."""
    from bioeco_portal_etl_spark.functions.strings import blanks_to_null

    c = T(spark, sf, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("")).otherwise(F.col("c_name")).alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return blanks_to_null(c).orderBy("c_custkey")


P3_SQL = """
SELECT c_custkey,
       nullif(CASE WHEN c_custkey % 7 = 0 THEN '' ELSE c_name END, '') AS name,
       c_mktsegment AS segment
FROM customer ORDER BY c_custkey
"""


def p4_flag_columns(spark: SparkSession, sf: str) -> DataFrame:
    """P4: regex-matched boolean conversion — non-null -> TRUE over matching
    columns (index.Rmd:99) and the =='x' EuroSea variant (:171)."""
    from bioeco_portal_etl_spark.operators.projection import flag_columns, flag_columns_eq

    p = T(spark, sf, "part").select(
        "p_partkey",
        F.when(F.col("p_size") > 25, F.col("p_type")).alias("eov_any"),
        F.when(F.col("p_size") % 3 == 0, F.lit("x"))
        .when(F.col("p_size") % 3 == 1, F.lit("y"))
        .alias("eov_x"),
    )
    flagged = flag_columns_eq(flag_columns(p, r"^eov_any$"), r"^eov_x$", "x")
    return flagged.orderBy("p_partkey")


P4_SQL = """
SELECT p_partkey,
       (CASE WHEN p_size > 25 THEN p_type END) IS NOT NULL AS eov_any,
       coalesce(trim(CASE WHEN p_size % 3 = 0 THEN 'x'
                          WHEN p_size % 3 = 1 THEN 'y' END) = 'x', FALSE) AS eov_x
FROM part ORDER BY p_partkey
"""


def rel6_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Custom temporal operator (operators/asof.py): for each error event,
    the latest click at-or-before it per user — one union + window pass,
    no point-in-time self-join. Oracle: DuckDB's native ASOF LEFT JOIN,
    proving the composition reproduces real as-of semantics. Right side
    deduped to one row per (user, ts) with a max-event_id tiebreak so both
    engines resolve ties identically."""
    from bioeco_portal_etl_spark.operators.asof import asof_join

    e = T(spark, sf, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("event_id").alias("click_id"), "value")
    )
    out = asof_join(
        errors, clicks, "user_id", "ts", "ts", ["click_id", "value"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("click_ts"),
        F.col("asof_click_id").alias("click_id"),
        F.round("asof_value", 2).alias("click_value"),
    ).orderBy("event_id")


REL6_SQL = """
WITH errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id, value FROM events
  WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT e.event_id, e.user_id, e.ts,
       c.ts AS click_ts, c.click_id, round(c.value, 2) AS click_value
FROM errors e
ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
ORDER BY e.event_id
"""


def rel7_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Custom temporal operator (operators/asof.py): clicks within ±5 min
    of each error per user, via 3-bucket candidate equi-join + exact
    filter — no per-key cross product. Oracle: DuckDB evaluates the raw
    inequality join, proving the binning loses no pairs."""
    from bioeco_portal_etl_spark.operators.asof import range_join_binned

    e = T(spark, sf, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    pairs = range_join_binned(errors, clicks, "user_id", "err_ts", "click_ts", 300.0)
    return (
        pairs.groupBy("err_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearby"),
            # decimal sum internally, double at the surface (gate convention)
            F.sum(F.col("click_value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("err_id")
    )


REL7_SQL = """
SELECT e.event_id AS err_id, e.user_id, count(*) AS n_nearby,
       sum(CAST(c.value AS DECIMAL(18,6)))::DOUBLE AS sum_value
FROM events e
JOIN events c ON c.user_id = e.user_id AND c.event_type = 'click'
            AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 300000000
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
ORDER BY e.event_id
"""


def rel9_cube(spark: SparkSession, sf: str) -> DataFrame:
    """Full grouping-sets lattice over (returnflag, linestatus): per-cell,
    both marginals, grand total in ONE Expand-based pass (4× input rows
    through the partial agg, one shuffle — vs 4 scans self-unioned).
    grouping_id distinguishes real nulls from subtotal rows."""
    l = T(spark, sf, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum internally, double at the surface (gate convention)
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            F.col("gid"),
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


REL9_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(CAST(l_quantity AS DECIMAL(18,6)))::DOUBLE AS sum_qty,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def rel8_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-JSON column extraction (SURVEY.md §1.2: the reference carries
    JSON payloads in string columns — GeoJSON FeatureCollections, API
    fixtures). Spark-first: ``from_json`` with an explicit schema (typed,
    codegen-friendly, one parse) rather than per-path string functions;
    the parsed struct feeds a plain aggregate. Oracle: DuckDB
    json_extract."""
    e = T(spark, sf, "events")
    parsed = e.select(
        "event_type",
        F.from_json("props", "k int").alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p.k").cast("long")).alias("sum_k"),
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


REL8_SQL = """
SELECT event_type, count(*) AS n,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS INTEGER) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS INTEGER) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""



def rel10_window_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-family window breadth: ntile quartiles, percent_rank and
    cume_dist per market segment over a deterministic (acctbal, custkey)
    order. All rank-based (exact rationals in double), exposed floor-e4 —
    engine-exact. One hash shuffle on the segment key."""
    c = T(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 10000).cast("long").alias("pct_rank_e4"),
        F.floor(F.cume_dist().over(w) * 10000).cast("long").alias("cume_dist_e4"),
    ).orderBy("c_custkey")


REL10_SQL = """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       floor(percent_rank() OVER w * 10000)::BIGINT AS pct_rank_e4,
       floor(cume_dist() OVER w * 10000)::BIGINT AS cume_dist_e4
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_custkey
"""


def rel11_scd2_merge(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 dimension merge (operators/scd.py): supplier snapshot as
    the open dimension; an update batch where keys ≡0 (mod 4) change
    balance (+100), keys ≡1 resend identical values (no-op), and a sparse
    set of brand-new keys inserts. Changed keys close their old row at the
    effective date and open a new one; history and no-ops pass through."""
    from bioeco_portal_etl_spark.operators.scd import scd2_merge

    s = T(spark, sf, "supplier")
    dim = s.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = (
        s.filter(F.col("s_suppkey") % 4 == 0)
        .select("s_suppkey", "s_name", (F.col("s_acctbal") + 100).alias("s_acctbal"))
        .unionByName(
            s.filter(F.col("s_suppkey") % 4 == 1).select(
                "s_suppkey", "s_name", "s_acctbal"
            )
        )
        .unionByName(
            s.filter(F.col("s_suppkey") % 97 == 0).select(
                (F.col("s_suppkey") + 100000).alias("s_suppkey"),
                F.concat(F.lit("NEW#"), F.col("s_suppkey").cast("string")).alias(
                    "s_name"
                ),
                F.lit(0.0).alias("s_acctbal"),
            )
        )
    )
    out = scd2_merge(
        dim, updates, "s_suppkey", ["s_name", "s_acctbal"], "1996-06-01"
    )
    return out.orderBy(
        "s_suppkey", "valid_from", F.col("valid_to").asc_nulls_last()
    )


REL11_SQL = """
WITH dim AS (
  SELECT s_suppkey, s_name, s_acctbal,
         DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM supplier),
upd AS (
  SELECT s_suppkey, s_name, s_acctbal + 100 AS s_acctbal
  FROM supplier WHERE s_suppkey % 4 = 0
  UNION ALL
  SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey % 4 = 1
  UNION ALL
  SELECT s_suppkey + 100000, 'NEW#' || s_suppkey, 0.0
  FROM supplier WHERE s_suppkey % 97 = 0),
changed AS (
  SELECT d.s_suppkey FROM dim d JOIN upd u USING (s_suppkey)
  WHERE NOT (d.s_name IS NOT DISTINCT FROM u.s_name
             AND d.s_acctbal IS NOT DISTINCT FROM u.s_acctbal))
SELECT * FROM (
  SELECT d.s_suppkey, d.s_name, d.s_acctbal, d.valid_from,
         CASE WHEN c.s_suppkey IS NOT NULL THEN DATE '1996-06-01' END AS valid_to
  FROM dim d LEFT JOIN changed c USING (s_suppkey)
  UNION ALL
  SELECT u.s_suppkey, u.s_name, u.s_acctbal, DATE '1996-06-01', NULL
  FROM upd u JOIN changed c USING (s_suppkey)
  UNION ALL
  SELECT u.s_suppkey, u.s_name, u.s_acctbal, DATE '1996-06-01', NULL
  FROM upd u LEFT JOIN dim d USING (s_suppkey) WHERE d.s_suppkey IS NULL)
ORDER BY s_suppkey, valid_from, valid_to ASC NULLS LAST
"""


def rel12_setops(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT (the set-op family the reference never uses —
    SURVEY.md §2.7 — completed here for relational coverage): customers
    active in 1995 vs 1996 classified as retained (INTERSECT), churned
    (EXCEPT), and new (reverse EXCEPT), unioned with a tag. Each set op
    is a hash-distinct shuffle on the key — Catalyst plans them as
    semi/anti joins over pre-deduped sides."""
    o = T(spark, sf, "orders")

    def active(year: int):
        return (
            o.filter(
                (F.col("o_orderdate") >= f"{year}-01-01")
                & (F.col("o_orderdate") < f"{year + 1}-01-01")
            )
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = active(1995), active(1996)
    out = (
        y95.intersect(y96).select("o_custkey", F.lit("retained").alias("status"))
        .unionByName(
            y95.exceptAll(y96.select("o_custkey")).distinct()
            .select("o_custkey", F.lit("churned").alias("status"))
        )
        .unionByName(
            y96.exceptAll(y95.select("o_custkey")).distinct()
            .select("o_custkey", F.lit("new").alias("status"))
        )
    )
    return out.orderBy("o_custkey", "status")


REL12_SQL = """
WITH y95 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1996-01-01'
),
y96 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT o_custkey, 'retained' AS status FROM (
  SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
UNION ALL
SELECT o_custkey, 'churned' FROM (
  SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
UNION ALL
SELECT o_custkey, 'new' FROM (
  SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
ORDER BY o_custkey, status
"""


def rel13_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-frame window (the physical-offset frame rel10's rank family
    doesn't cover): per event, the count and decimal-exact sum of the
    same user's values in the trailing hour — event-time sliding
    aggregates at row grain, no self-join. One hash(user) exchange;
    the frame is evaluated over the sorted run. Epoch-µs ordering keys
    make Spark's rangeBetween and DuckDB's RANGE INTERVAL identical."""
    e = T(spark, sf, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            ts_us.alias("t_us"),
            F.col("value"),
            F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .over(w)
            .cast("double")
            .alias("sum_trailing_1h"),
        )
        .drop("value")
        .orderBy("event_id")
    )


REL13_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS t_us,
       count(*) OVER w AS n_trailing_1h,
       (sum(CAST(value AS DECIMAL(18,6))) OVER w)::DOUBLE AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def rel14_hierarchy_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive-CTE workload (operators/hierarchy.py flatten_hierarchy):
    transitive closure of a parent-pointer forest to (node, root, depth)
    via pointer jumping — Spark SQL has no WITH RECURSIVE, the driver loop
    converges in O(log depth) self-joins. Fixture: a deterministic forest
    over customers (parent = custkey div 7, custkeys 1-6 are roots), depth
    ~ log7(n) so it scales with SF. Oracle: DuckDB recursive CTE over the
    identical relation."""
    from bioeco_portal_etl_spark.operators.hierarchy import flatten_hierarchy

    c = T(spark, sf, "customer")
    nodes = c.select(
        F.col("c_custkey").alias("node"),
        F.when(
            F.expr("c_custkey div 7") >= 1, F.expr("c_custkey div 7")
        ).alias("parent"),
    )
    return flatten_hierarchy(nodes).orderBy("node")


REL14_SQL = """
WITH RECURSIVE h(node, root, depth) AS (
  SELECT c_custkey, c_custkey, 0::BIGINT FROM customer WHERE c_custkey // 7 < 1
  UNION ALL
  -- the parent relation is DEFINED as div7 only where div7 >= 1 (custkeys
  -- 0-6 are roots); without that guard custkey 0 is its own div7-child and
  -- the recursion never terminates
  SELECT c.c_custkey, h.root, h.depth + 1
  FROM customer c JOIN h ON c.c_custkey // 7 = h.node
  WHERE c.c_custkey // 7 >= 1
)
SELECT node, root, depth FROM h ORDER BY node
"""


def rel15_rank_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact rank-based quantiles per group (lower median and p90 of order
    totalprice by priority) — the deterministic alternative to interpolated
    percentile for cross-engine exactness: the quantile IS an element of
    the group (the rank-ceil(q*n) row under a total order with an explicit
    tiebreak), so no float interpolation ever happens and both engines
    return byte-identical doubles. One hash(priority) window exchange;
    the rank filter + conditional agg avoid any second shuffle."""
    o = T(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") / 2), F.col("o_totalprice")
                )
            ).alias("median_price"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("o_totalprice")
                )
            ).alias("p90_price"),
        )
        .orderBy("o_orderpriority")
    )


REL15_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority, max(n) AS n_orders,
       max(CASE WHEN rn = ceil(n / 2) THEN o_totalprice END) AS median_price,
       max(CASE WHEN rn = ceil(n * 0.9) THEN o_totalprice END) AS p90_price
FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# rel16 — robust stats (median/MAD by rank selection)
# ---------------------------------------------------------------------------


def rel16_median_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation lower-median and MAD of customer balances
    (operators/robust.py) — rank selection instead of percentile_cont so
    both statistics are exact data values, immune to the interpolation
    formula differences between engines."""
    from bioeco_portal_etl_spark.operators.robust import median_mad

    c = T(spark, sf, "customer").select("c_nationkey", "c_acctbal", "c_custkey")
    return (
        median_mad(c, ["c_nationkey"], "c_acctbal", "c_custkey")
        .select(
            "c_nationkey",
            "n",
            F.round("median", 2).alias("median_bal"),
            F.round("mad", 2).alias("mad_bal"),
        )
        .orderBy("c_nationkey")
    )


REL16_SQL = """
WITH ranked AS (
  SELECT c_nationkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
),
med AS (
  SELECT c_nationkey, n, c_acctbal AS median FROM ranked WHERE rn = (n + 1) // 2
),
devr AS (
  SELECT c.c_nationkey, abs(c.c_acctbal - m.median) AS dev,
         row_number() OVER (
           PARTITION BY c.c_nationkey
           ORDER BY abs(c.c_acctbal - m.median), c.c_custkey) AS rn,
         count(*) OVER (PARTITION BY c.c_nationkey) AS n
  FROM customer c JOIN med m ON m.c_nationkey = c.c_nationkey
),
mad AS (
  SELECT c_nationkey, dev AS mad FROM devr WHERE rn = (n + 1) // 2
)
SELECT m.c_nationkey, m.n, round(m.median, 2) AS median_bal,
       round(d.mad, 2) AS mad_bal
FROM med m JOIN mad d ON d.c_nationkey = m.c_nationkey
ORDER BY m.c_nationkey
"""


# ---------------------------------------------------------------------------
# rel17 — gaps and islands
# ---------------------------------------------------------------------------


def rel17_islands(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive same-event-type runs per user (operators/islands.py):
    value-change run detection, the companion to time-gap sessionize.
    Runs of length 1 are noise here — keep n_rows >= 2."""
    from bioeco_portal_etl_spark.operators.islands import islands

    e = T(spark, sf, "events").select("user_id", "event_type", "ts", "event_id")
    return (
        islands(e, ["user_id"], "event_type", ["ts", "event_id"])
        .filter(F.col("n_rows") >= 2)
        .orderBy("user_id", "run_start", "event_type")
    )


REL17_SQL = """
WITH marked AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS island
  FROM events
)
SELECT user_id, event_type,
       min(ts) AS run_start, max(ts) AS run_end, count(*) AS n_rows
FROM marked
GROUP BY user_id, event_type, island
HAVING count(*) >= 2
ORDER BY user_id, run_start, event_type
"""


# ---------------------------------------------------------------------------
# rel18 — interval union (merge overlapping spans)
# ---------------------------------------------------------------------------


def rel18_interval_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Merge overlapping per-user activity spans
    (operators/intervals.py): each event opens a span of 60 + (event_id %
    540) seconds; overlapping-or-touching spans coalesce into availability
    windows. Interval arithmetic stays NTZ on both engines."""
    from bioeco_portal_etl_spark.operators.intervals import merge_intervals

    e = T(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("span_start"),
        (
            F.col("ts")
            + F.expr("make_interval(0, 0, 0, 0, 0, 0, 60 + event_id % 540)")
        ).alias("span_end"),
    )
    return (
        merge_intervals(e, ["user_id"], "span_start", "span_end", "event_id")
        .orderBy("user_id", "merge_start")
    )


REL18_SQL = """
WITH spans AS (
  SELECT user_id, event_id, ts AS s,
         ts + (60 + event_id % 540) * INTERVAL 1 SECOND AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
               OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_chain,
         event_id
  FROM spans
),
chains AS (
  SELECT user_id, s, e,
         sum(new_chain) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS chain
  FROM flagged
)
SELECT user_id, min(s) AS merge_start, max(e) AS merge_end,
       count(*) AS n_intervals
FROM chains
GROUP BY user_id, chain
ORDER BY user_id, merge_start
"""


# ---------------------------------------------------------------------------
# rel19 — ordered funnel analysis
# ---------------------------------------------------------------------------

_REL19_FUNNEL_STEPS = ["signup", "click", "purchase"]


def rel19_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user signup → click → purchase funnel (operators/funnel.py):
    ONE groupBy pass for any funnel length — per-step sorted time arrays
    + in-row cascade resolution — where the naive plan self-joins the
    clickstream once per step."""
    from bioeco_portal_etl_spark.operators.funnel import funnel_steps

    e = T(spark, sf, "events")
    return funnel_steps(e, "user_id", "ts", "event_type", _REL19_FUNNEL_STEPS).orderBy(
        "user"
    )


REL19_SQL = """
WITH g AS (
  SELECT user_id AS "user",
         list_sort(list_filter(list(CASE WHEN event_type = 'signup'
                                         THEN epoch_us(ts) END),
                   x -> x IS NOT NULL)) AS a0,
         list_sort(list_filter(list(CASE WHEN event_type = 'click'
                                         THEN epoch_us(ts) END),
                   x -> x IS NOT NULL)) AS a1,
         list_sort(list_filter(list(CASE WHEN event_type = 'purchase'
                                         THEN epoch_us(ts) END),
                   x -> x IS NOT NULL)) AS a2
  FROM events GROUP BY user_id
),
resolved AS (
  SELECT "user",
         a0[1] AS t_step1,
         list_filter(a1, x -> x > a0[1])[1] AS t_step2,
         list_filter(a2, x -> x > list_filter(a1, x -> x > a0[1])[1])[1] AS t_step3
  FROM g
)
SELECT "user",
       (t_step1 IS NOT NULL)::INT + (t_step2 IS NOT NULL)::INT
         + (t_step3 IS NOT NULL)::INT AS steps_completed,
       t_step1, t_step2, t_step3
FROM resolved
ORDER BY "user"
"""


# ---------------------------------------------------------------------------
# rel20 — rolling distinct count over a trailing window
# ---------------------------------------------------------------------------


def rel20_rolling_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct event types in each user's trailing 10 events — the
    windowed-cardinality telemetry signal (behavioral diversity). Window
    frames can't host COUNT(DISTINCT) in either engine; both sides use
    the list-collect + distinct-size formulation over the identical
    frame. One exchange + one sort."""
    from pyspark.sql import Window

    e = T(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.size(
                F.array_distinct(F.collect_list("event_type").over(w))
            ).alias("n_distinct_types"),
        )
        .orderBy("event_id")
    )


REL20_SQL = """
SELECT event_id, user_id,
       len(list_distinct(list(event_type) OVER
         (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS n_distinct_types
FROM events
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# rel21 — first/last-touch attribution
# ---------------------------------------------------------------------------


def rel21_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Channel attribution for purchase conversions (operators/attribution.py):
    both touch models resolved in ONE user-hash window pass, revenue as
    DECIMAL-exact sums surfaced DOUBLE."""
    from bioeco_portal_etl_spark.operators.attribution import (
        attribute_conversions,
    )

    e = T(spark, sf, "events")
    return attribute_conversions(
        e, "user_id", "ts", "event_type", "value", "purchase"
    ).orderBy("channel")


REL21_SQL = """
WITH conv AS (
  SELECT event_type,
         CAST(value AS DECIMAL(18,6)) AS v,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS) OVER w AS ft,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER w AS lt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
c AS (SELECT * FROM conv WHERE event_type = 'purchase' AND ft IS NOT NULL),
f AS (
  SELECT ft AS channel, count(*)::BIGINT AS ft_conversions,
         sum(v)::DOUBLE AS ft_revenue
  FROM c GROUP BY ft
),
l AS (
  SELECT lt AS channel, count(*)::BIGINT AS lt_conversions,
         sum(v)::DOUBLE AS lt_revenue
  FROM c GROUP BY lt
)
SELECT coalesce(f.channel, l.channel) AS channel,
       coalesce(ft_conversions, 0) AS ft_conversions,
       coalesce(ft_revenue, 0.0) AS ft_revenue,
       coalesce(lt_conversions, 0) AS lt_conversions,
       coalesce(lt_revenue, 0.0) AS lt_revenue
FROM f FULL OUTER JOIN l ON f.channel = l.channel
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# rel22 — cohort retention triangle
# ---------------------------------------------------------------------------

_COHORT_ORIGIN = "2024-01-01"


def rel22_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention triangle (operators/cohorts.py): event stream
    reduced to per-user (first week, week set) in one groupBy, triangle
    aggregated from the bounded per-user week sets."""
    from bioeco_portal_etl_spark.operators.cohorts import cohort_retention

    e = T(spark, sf, "events")
    return cohort_retention(e, "user_id", "ts", _COHORT_ORIGIN).orderBy(
        "cohort_week", "week_offset"
    )


REL22_SQL = f"""
WITH wk AS (
  SELECT user_id AS u,
         (date_diff('day', DATE '{_COHORT_ORIGIN}', CAST(ts AS DATE)) // 7)
           ::BIGINT AS w
  FROM events
),
per_user AS (
  SELECT u, min(w) AS cohort_week, list(DISTINCT w) AS weeks FROM wk GROUP BY u
),
cells AS (
  SELECT cohort_week, unnest(weeks) - cohort_week AS week_offset, u
  FROM per_user
),
tri AS (
  SELECT cohort_week, week_offset, count(DISTINCT u)::BIGINT AS n_active
  FROM cells GROUP BY cohort_week, week_offset
),
sizes AS (
  SELECT cohort_week, count(*)::BIGINT AS cohort_size
  FROM per_user GROUP BY cohort_week
)
SELECT t.cohort_week, t.week_offset, t.n_active, s.cohort_size,
       CAST(floor(t.n_active::DOUBLE * 10000.0 / s.cohort_size::DOUBLE)
            AS BIGINT) AS retention_e4
FROM tri t JOIN sizes s ON s.cohort_week = t.cohort_week
ORDER BY t.cohort_week, t.week_offset
"""


# ---------------------------------------------------------------------------
# rel23 — Markov transition matrix
# ---------------------------------------------------------------------------


def rel23_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order event transition matrix (operators/transitions.py):
    lead() in the shared user-hash sort, state-space-sized output."""
    from bioeco_portal_etl_spark.operators.transitions import (
        markov_transitions,
    )

    e = T(spark, sf, "events")
    return markov_transitions(e, "user_id", "ts", "event_type", "event_id").orderBy(
        "src", "dst"
    )


REL23_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
),
counts AS (
  SELECT src, dst, count(*)::BIGINT AS cnt
  FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
),
totals AS (SELECT src, sum(cnt)::BIGINT AS row_total FROM counts GROUP BY src)
SELECT c.src, c.dst, c.cnt,
       CAST(floor(c.cnt::DOUBLE * 10000.0 / t.row_total::DOUBLE) AS BIGINT)
         AS p_e4
FROM counts c JOIN totals t ON t.src = c.src
ORDER BY c.src, c.dst
"""


# ---------------------------------------------------------------------------
# rel24 — CDC apply (MERGE INTO, pure-parquet tier)
# ---------------------------------------------------------------------------


def rel24_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Round-trips x9's changeset through operators/cdc.apply_changeset:
    the Spark side genuinely computes diff(old, new) and applies it back
    to old; the oracle constructs new directly — the entry is the
    apply(old, diff(old, new)) ≡ new law as a hash gate."""
    from bioeco_portal_etl_spark.operators.cdc import (
        apply_changeset,
        snapshot_diff,
    )

    c = T(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    changed = c.filter(k % 97 != 0).select(
        k.alias("c_custkey"),
        F.col("c_name"),
        F.when(k % 13 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(k % 29 == 0, F.lit("CHURNED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    inserted = c.filter(k % 101 == 0).select(
        (-(k + 1)).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), k.cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    new = changed.unionByName(inserted)
    cs = snapshot_diff(
        c, new, ["c_custkey"], ["c_name", "c_acctbal", "c_mktsegment"]
    )
    return apply_changeset(
        c, cs, ["c_custkey"], ["c_name", "c_acctbal", "c_mktsegment"]
    ).orderBy("c_custkey")


REL24_SQL = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
         AS c_acctbal,
       CASE WHEN c_custkey % 29 = 0 THEN 'CHURNED' ELSE c_mktsegment END
         AS c_mktsegment
FROM customer WHERE c_custkey % 97 <> 0
UNION ALL
SELECT -(c_custkey + 1), 'Customer#new' || c_custkey, 0.0, 'NEW'
FROM customer WHERE c_custkey % 101 = 0
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# rel25 — calendar gap detection (date-spine anti join)
# ---------------------------------------------------------------------------


def rel25_missing_days(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user missing-activity dates against the January 2024 calendar
    spine — the gap-detection face of time-series completeness (x11
    interpolates BETWEEN events; this reports which calendar slots have
    none at all). The 31-day spine is built IN-ROW with sequence() (no
    spine-table shuffle or cross join); activity reduces to a per-user
    distinct day set in one groupBy; the gaps are array_except(spine,
    days) exploded — so the only data-sized exchange is the (user, day)
    distinct. Bounded to the first 20 users for the gate's output."""
    e = T(spark, sf, "events")
    spine = F.transform(
        F.sequence(F.lit(0), F.lit(30)),
        lambda i: F.date_add(F.to_date(F.lit("2024-01-01")), i.cast("int")),
    )
    days = (
        e.filter(F.col("user_id") < 20)
        .select(
            F.col("user_id"),
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
        )
        .distinct()
        .groupBy("user_id")
        .agg(F.collect_set("d").alias("__days"))
    )
    return (
        days.select(
            "user_id",
            F.explode(
                F.array_sort(F.array_except(spine, F.col("__days")))
            ).alias("missing_day"),
        )
        .orderBy("user_id", "missing_day")
    )


REL25_SQL = """
WITH days AS (
  SELECT user_id, list(DISTINCT CAST(ts AS DATE)) AS ds
  FROM events WHERE user_id < 20 GROUP BY user_id
),
spine AS (
  SELECT list_transform(range(0, 31),
                        i -> DATE '2024-01-01' + CAST(i AS INT)) AS sp
)
SELECT user_id,
       unnest(list_sort(list_filter(sp, d -> NOT list_contains(ds, d))))
         AS missing_day
FROM days CROSS JOIN spine
ORDER BY user_id, missing_day
"""


# ---------------------------------------------------------------------------
# rel26 — wide pivot (the reshaping twin of r2's unpivot)
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIV_ALIASES = ["p1_urgent", "p2_high", "p3_medium", "p4_notspec", "p5_low"]


def rel26_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Order counts pivoted to one column per priority, one row per order
    year — ``groupBy().pivot(values=...)`` with the value list PINNED
    (no extra distinct-discovery job, deterministic column order: the
    production spelling for a bounded pivot dimension)."""
    o = T(spark, sf, "orders")
    piv = (
        o.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = piv.select(
        "o_year",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
            for v, a in zip(_PRIORITIES, _PIV_ALIASES)
        ],
    )
    return renamed.orderBy("o_year")


REL26_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
         AS p1_urgent,
       sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT
         AS p2_high,
       sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT
         AS p3_medium,
       sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
           END)::BIGINT AS p4_notspec,
       sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT
         AS p5_low
FROM orders GROUP BY 1 ORDER BY o_year"""


# ---------------------------------------------------------------------------
# rel27 — rolling OLS slope
# ---------------------------------------------------------------------------


def rel27_rolling_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 10-row OLS trend of event value per event type over the
    user_id<20 slice (operators/timeseries.py rolling_slope): integer
    sufficient statistics in one window frame, the single division
    floored at e6 — the is-this-metric-trending statistic."""
    from bioeco_portal_etl_spark.operators.timeseries import rolling_slope

    ev = T(spark, sf, "events").filter(F.col("user_id") < 20).select(
        "event_type", F.col("ts").cast("timestamp").alias("ts"), "event_id",
        "value",
    )
    return rolling_slope(
        ev, "event_type", "ts", "event_id", "value", window_rows=10
    ).orderBy("event_type", "ts", "event_id")


REL27_SQL = """
WITH base AS (
  SELECT event_type, ts, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id)::BIGINT AS x,
         CAST(floor(value * 10000) AS BIGINT) AS y_e
  FROM events WHERE user_id < 20
),
frames AS (
  SELECT event_type, ts, event_id, x, y_e,
         count(*) OVER w AS n, sum(x) OVER w AS sx, sum(y_e) OVER w AS sy,
         sum(x * y_e) OVER w AS sxy, sum(x * x) OVER w AS sxx
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT event_type, ts, event_id, x, y_e,
       CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN
         CAST(floor(1e6 * (n * sxy - sx * sy)
                    / (n * sxx - sx * sx)) AS BIGINT) END AS slope_e6
FROM frames ORDER BY event_type, ts, event_id"""


# ---------------------------------------------------------------------------
# rel28 — exact-rational percent_rank / cume_dist
# ---------------------------------------------------------------------------


def rel28_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution position of each order's total price within its
    priority class, as EXACT integer rationals: pr_e6 = (1e6*(rank-1))
    div (n-1), cume_e6 = (1e6*rank) div n — no double division anywhere,
    so the surface is bit-portable without even a floor. Restricted to
    the o_custkey<100 slice for the gate."""
    from pyspark.sql import Window

    o = T(spark, sf, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(w).alias("__rk"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.expr(
                "CASE WHEN __n > 1 THEN (1000000 * (__rk - 1)) div (__n - 1)"
                " ELSE 0 END"
            ).cast("long").alias("pr_e6"),
            F.expr("(1000000 * __rk) div __n").cast("long").alias("cume_e6"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


REL28_SQL = """
WITH r AS (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rk,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders WHERE o_custkey < 100
)
SELECT o_orderpriority, o_orderkey,
       (CASE WHEN n > 1 THEN (1000000 * (rk - 1)) // (n - 1)
             ELSE 0 END)::BIGINT AS pr_e6,
       ((1000000 * rk) // n)::BIGINT AS cume_e6
FROM r ORDER BY o_orderpriority, o_orderkey"""


# ---------------------------------------------------------------------------
# rel29 — GROUPING SETS + grouping_id
# ---------------------------------------------------------------------------


def rel29_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Order counts and e2-floored revenue over the four grouping sets
    {(status, priority), (status), (priority), ()} in ONE aggregate pass
    (Spark expands sets with a single Expand node — one scan, not four);
    gid is grouping_id (bit per aggregated-away dim), labels coalesce to
    'ALL' (both dims are non-null in the data, so no value collision)."""
    o = T(spark, sf, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("__p_e2"),
    )
    s, p = F.col("o_orderstatus"), F.col("o_orderpriority")
    gs = (
        o.groupingSets([[s, p], [s], [p], []], s, p)
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("__p_e2").cast("long").alias("rev_e2"),
        )
    )
    return gs.select(
        "gid",
        F.coalesce(s, F.lit("ALL")).alias("status"),
        F.coalesce(p, F.lit("ALL")).alias("priority"),
        "n_orders",
        "rev_e2",
    ).orderBy("gid", "status", "priority")


REL29_SQL = """
SELECT grouping(o_orderstatus, o_orderpriority)::BIGINT AS gid,
       coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*)::BIGINT AS n_orders,
       sum(CAST(floor(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_e2
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority), ())
ORDER BY gid, status, priority"""


# ---------------------------------------------------------------------------
# rel30 — VariantType shredding
# ---------------------------------------------------------------------------


def rel30_variant_shred(spark: SparkSession, sf: str) -> DataFrame:
    """events.props parsed ONCE to VARIANT, 'k' extracted typed
    (try_variant_get -> NULL-permissive), then a relational rollup per
    (event_type, k % 8) — the parse-once/extract-many ingest shape
    warehouses use for log props columns (functions/variant.py)."""
    from bioeco_portal_etl_spark.functions.variant import shred_variant

    e = T(spark, sf, "events").select("event_type", "props")
    sh = shred_variant(
        e, "props", {"k": ("$.k", "bigint")}, keep=["event_type"]
    )
    return (
        sh.groupBy(
            "event_type", (F.col("k") % 8).cast("long").alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type", "k_bucket")
    )


REL30_SQL = """
WITH sh AS (
  SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events
)
SELECT event_type, (k % 8)::BIGINT AS k_bucket,
       count(*)::BIGINT AS n_events,
       min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k,
       sum(k)::BIGINT AS sum_k
FROM sh GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket"""


# ---------------------------------------------------------------------------
# rel31 — BOM quantity rollup
# ---------------------------------------------------------------------------

_BOM_FANOUT = 8  # parent = partkey // 8 -> depth ~ log8(|part|)


def rel31_bom_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Synthetic assembly forest over part (parent = p_partkey // 8,
    qty = p_partkey % 3 + 1): per-root component census — n_parts,
    total and max effective quantity (operators/hierarchy.py
    bom_rollup, 8-level unroll)."""
    from bioeco_portal_etl_spark.operators.hierarchy import bom_rollup

    p = T(spark, sf, "part").select(
        F.col("p_partkey").alias("node"),
        F.when(
            F.col("p_partkey") < _BOM_FANOUT, F.lit(None).cast("long")
        )
        .otherwise(F.expr(f"p_partkey div {_BOM_FANOUT}"))
        .alias("parent"),
        (F.col("p_partkey") % 3 + 1).cast("long").alias("qty"),
    )
    return (
        bom_rollup(p, max_depth=8)
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("eff_qty").cast("long").alias("sum_eff_qty"),
            F.max("eff_qty").cast("long").alias("max_eff_qty"),
        )
        .orderBy("root")
    )


def _rel31_sql() -> str:
    f = _BOM_FANOUT
    parts = [
        f"""__bom_up AS MATERIALIZED (
  SELECT p_partkey AS u_node,
         CASE WHEN p_partkey < {f} THEN NULL
              ELSE p_partkey // {f} END AS u_parent,
         p_partkey % 3 + 1 AS u_qty
  FROM part
)""",
        f"""__bom_s0 AS MATERIALIZED (
  SELECT u_node AS node, u_parent AS anc, u_node AS root,
         CASE WHEN u_parent IS NULL THEN 1 ELSE u_qty END AS eff_qty
  FROM __bom_up
)""",
    ]
    for i in range(8):
        parts.append(
            f"""__bom_s{i + 1} AS MATERIALIZED (
  SELECT s.node,
         CASE WHEN s.anc IS NOT NULL AND u.u_parent IS NOT NULL
              THEN u.u_parent END AS anc,
         CASE WHEN s.anc IS NOT NULL AND u.u_parent IS NULL
              THEN s.anc ELSE s.root END AS root,
         CASE WHEN s.anc IS NOT NULL AND u.u_parent IS NOT NULL
              THEN s.eff_qty * u.u_qty ELSE s.eff_qty END AS eff_qty
  FROM __bom_s{i} s LEFT JOIN __bom_up u ON u.u_node = s.anc
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT root, count(*)::BIGINT AS n_parts,
       sum(eff_qty)::BIGINT AS sum_eff_qty,
       max(eff_qty)::BIGINT AS max_eff_qty
FROM __bom_s8 GROUP BY root ORDER BY root"""


# ---------------------------------------------------------------------------
# rel32 — timeout funnel
# ---------------------------------------------------------------------------

_REL32_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_US = 3_600_000_000  # 1 hour


def rel32_window_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """view -> click -> purchase within 1 hour of the chain's first
    view, level maximal over every view the user fired; reported as the
    per-level user census (operators/funnel.py window_funnel)."""
    from bioeco_portal_etl_spark.operators.funnel import window_funnel

    ev = T(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    lv = window_funnel(
        ev, "user_id", "ts", "event_type", _REL32_FUNNEL_STEPS, _FUNNEL_WINDOW_US
    )
    return (
        lv.groupBy("funnel_level")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("funnel_level")
    )


def _rel32_sql() -> str:
    w = _FUNNEL_WINDOW_US
    steps = _REL32_FUNNEL_STEPS
    arrays = ",\n         ".join(
        f"list_sort(coalesce(list(epoch_us(ts))"
        f" FILTER (WHERE event_type = '{s}'), [])) AS a{i}"
        for i, s in enumerate(steps)
    )
    return f"""
WITH g AS (
  SELECT user_id,
         {arrays}
  FROM events GROUP BY user_id
),
lv AS (
  SELECT user_id,
         CASE WHEN len(a0) = 0 THEN 0 ELSE list_max(
           list_transform(a0, t1 -> (
             CASE WHEN len(list_filter(a2, x -> x >
                    coalesce(list_filter(a1, y -> y > t1
                                              AND y <= t1 + {w})[1], 9223372036854775807)
                    AND x <= t1 + {w})) > 0
                  THEN 3
                  WHEN len(list_filter(a1, y -> y > t1 AND y <= t1 + {w})) > 0
                  THEN 2
                  ELSE 1 END)))
         END AS funnel_level
  FROM g
)
SELECT funnel_level, count(*)::BIGINT AS n_users
FROM lv GROUP BY funnel_level ORDER BY funnel_level"""


# ---------------------------------------------------------------------------
# rel33 — interval concurrency sweep
# ---------------------------------------------------------------------------


def rel33_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent synthetic sessions per event type: each event
    opens a [ts, ts + 60 + event_id % 240 s) interval —
    operators/concurrency.py max_concurrency in integer microseconds."""
    from bioeco_portal_etl_spark.operators.concurrency import max_concurrency

    ev = T(spark, sf, "events").select(
        F.col("event_type").alias("grp"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.lit(60) + F.col("event_id") % 240) * 1_000_000
        ).alias("end_us"),
        F.col("event_id").alias("tid"),
    )
    return max_concurrency(ev, "grp", "start_us", "end_us", "tid").orderBy(
        "grp"
    )


def _rel33_sql() -> str:
    from bioeco_portal_etl_spark.operators.concurrency import (
        duck_max_concurrency,
    )

    body = duck_max_concurrency(
        "SELECT event_type AS grp, epoch_us(ts) AS start_us,"
        " epoch_us(ts) + (60 + event_id % 240) * 1000000 AS end_us,"
        " event_id AS tid FROM events"
    )
    return f"""
WITH {body}
SELECT grp, n_intervals, max_concurrent, peak_at_us
FROM conc ORDER BY grp"""


# ---------------------------------------------------------------------------
# rel35 — period-over-period growth
# ---------------------------------------------------------------------------


def rel35_period_growth(spark: SparkSession, sf: str) -> DataFrame:
    """(month, n_orders, rev_e2, prev_rev_e2, growth_e6): monthly
    revenue with the signed MoM growth — one combinable rollup + one
    lag window over the month table (dimension-sized)."""
    o = T(spark, sf, "orders").select(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias(
            "month"
        ),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("p_e2"),
    )
    from pyspark.sql import Window

    monthly = o.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("p_e2").cast("long").alias("rev_e2"),
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_rev_e2", F.lag("rev_e2").over(w))
        .select(
            "month",
            "n_orders",
            "rev_e2",
            F.col("prev_rev_e2").cast("long").alias("prev_rev_e2"),
            F.expr(
                "CASE WHEN prev_rev_e2 > 0 THEN"
                " CAST(floor(CAST(1000000 * (rev_e2 - prev_rev_e2)"
                " AS DOUBLE) / prev_rev_e2) AS BIGINT) END"
            ).alias("growth_e6"),
        )
        .orderBy("month")
    )


def _rel35_sql() -> str:
    return """
WITH monthly AS (
  SELECT time_bucket(INTERVAL '1 month', CAST(o_orderdate AS TIMESTAMP))
           AS month,
         count(*)::BIGINT AS n_orders,
         sum(CAST(floor(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_e2
  FROM orders GROUP BY 1
)
SELECT month, n_orders, rev_e2,
       lag(rev_e2) OVER (ORDER BY month) AS prev_rev_e2,
       CASE WHEN lag(rev_e2) OVER (ORDER BY month) > 0 THEN
         CAST(floor(CAST(1000000 *
              (rev_e2 - lag(rev_e2) OVER (ORDER BY month)) AS DOUBLE)
              / lag(rev_e2) OVER (ORDER BY month)) AS BIGINT) END
         AS growth_e6
FROM monthly ORDER BY month"""


# ---------------------------------------------------------------------------
# rel36 — order-to-ship cycle time percentiles
# ---------------------------------------------------------------------------


def rel36_cycle_time(spark: SparkSession, sf: str) -> DataFrame:
    """(month, n, min_days, p50_days, max_days): ship-lag percentiles
    per order month via frequency-table rank selection (the exact
    nearest-rank convention — no data-sized sort, the per-(month, days)
    table is what the window sees)."""
    li = T(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = T(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias(
            "month"
        ),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("days"),
    )
    vt = j.groupBy("month", "days").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("month")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wm = Window.partitionBy("month")
    cum = vt.select(
        "month",
        "days",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wm).alias("n"),
    )
    return (
        cum.groupBy("month")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min("days").cast("long").alias("min_days"),
            F.min(
                F.when(F.lit(2) * F.col("cum") >= F.col("n"), F.col("days"))
            )
            .cast("long")
            .alias("p50_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("month")
    )


def _rel36_sql() -> str:
    return """
WITH j AS (
  SELECT time_bucket(INTERVAL '1 month', CAST(o_orderdate AS TIMESTAMP))
           AS month,
         datediff('day', CAST(o_orderdate AS DATE),
                  CAST(l_shipdate AS DATE))::BIGINT AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
vt AS (SELECT month, days, count(*)::BIGINT AS c FROM j GROUP BY month, days),
cum AS (
  SELECT month, days,
         sum(c) OVER (PARTITION BY month ORDER BY days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY month) AS n
  FROM vt
)
SELECT month, max(n)::BIGINT AS n,
       min(days)::BIGINT AS min_days,
       min(CASE WHEN 2 * cum >= n THEN days END)::BIGINT AS p50_days,
       max(days)::BIGINT AS max_days
FROM cum GROUP BY month ORDER BY month"""


# ---------------------------------------------------------------------------
# rel37 — top length-3 event paths
# ---------------------------------------------------------------------------


def rel37_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 (e1 -> e2 -> e3) event-type journeys over per-user streams
    ordered by (ts, event_id) — two lead() windows, complete triples
    only; ties break on the path text."""
    ev = T(spark, sf, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(20)
    )


def _rel37_sql() -> str:
    return """
WITH tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT e1, e2, e3, count(*)::BIGINT AS n
FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n DESC, e1, e2, e3 LIMIT 20"""


# ---------------------------------------------------------------------------
# rel38 — time-weighted average (TWA)
# ---------------------------------------------------------------------------


def rel38_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """TimescaleDB-style time-weighted average per (user, day): each
    observation's value holds until the next observation (LOCF), so the
    average is integral/span — the honest mean for irregular telemetry,
    where the arithmetic mean over-weights bursts. All-integer core:
    e4-quantized value x integer microsecond duration, one floored
    division per group. Groups whose events all share one timestamp
    (span 0) are dropped — no integral exists."""
    return time_weighted_avg_frame(
        T(spark, sf, "events").filter(F.col("user_id") < 50)
    )


def time_weighted_avg_frame(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
    e = events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        # session tz is UTC, so the NTZ -> LTZ cast is the identity and
        # unix_micros matches DuckDB's epoch_us (the sessions.py idiom)
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 10000.0).cast("long").alias("vq"),
    ).withColumn("next_us", F.lead("ts_us").over(w))
    seg = e.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        "day",
        "vq",
        (F.col("next_us") - F.col("ts_us")).alias("dur_us"),
    )
    return (
        seg.groupBy("user_id", "day")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.sum("dur_us").alias("span_us"),
            F.sum(F.col("vq") * F.col("dur_us")).alias("wsum"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "day",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("span_us").cast("long").alias("span_us"),
            F.floor(
                F.col("wsum").cast("double") / F.col("span_us").cast("double")
            )
            .cast("long")
            .alias("twa_e4"),
        )
        .orderBy("user_id", "day")
    )


_REL38_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS ts_us, event_id,
         floor(value * 10000.0)::BIGINT AS vq
  FROM events WHERE user_id < 50
),
led AS (
  SELECT user_id, day, vq, ts_us,
         lead(ts_us) OVER (PARTITION BY user_id, day
                           ORDER BY ts_us, event_id) AS next_us
  FROM e
),
seg AS (
  SELECT user_id, day, vq, (next_us - ts_us)::BIGINT AS dur_us
  FROM led WHERE next_us IS NOT NULL
)
SELECT user_id, day,
       (count(*) + 1)::BIGINT AS n_events,
       sum(dur_us)::BIGINT AS span_us,
       floor(CAST(sum(vq * dur_us)::BIGINT AS DOUBLE)
             / CAST(sum(dur_us)::BIGINT AS DOUBLE))::BIGINT AS twa_e4
FROM seg GROUP BY user_id, day
HAVING sum(dur_us) > 0
ORDER BY user_id, day"""


CATALOG = {
    "p1_select_rename": (p1_select_rename, P1_SQL),
    "p6_recode_passthrough": (p6_recode_passthrough, P6_SQL),
    "p7_str_trunc": (p7_str_trunc, P7_SQL),
    "p8_p9_year_dates": (p8_p9_year_dates, P8_SQL),
    "p12_make_identifier": (p12_make_identifier, P12_SQL),
    "p18_row_number": (p18_row_number, P18_SQL),
    "p19_sql_script": (p19_sql_script, P19_SQL),
    "f_filters": (f_filters, F_SQL),
    "j1_broadcast_left_join": (j1_broadcast_left_join, J1_SQL),
    "j4_differing_key_names": (j4_differing_key_names, J4_SQL),
    "a1_grouped_merge": (a1_grouped_merge, A1_SQL),
    "a2_dedupe_keep_first": (a2_dedupe_keep_first, A2_SQL),
    "a3_duplicate_audit": (a3_duplicate_audit, A3_SQL),
    "a4_make_unique": (a4_make_unique, A4_SQL),
    "u1_union_by_name": (u1_union_by_name, U1_SQL),
    "r2_unpivot_flags": (r2_unpivot_flags, R2_SQL),
    "rel10_window_suite": (rel10_window_suite, REL10_SQL),
    "rel11_scd2_merge": (rel11_scd2_merge, REL11_SQL),
    "p0_canonical_entities": (p0_canonical_entities, P0_SQL),
    "p3_blanks_to_null": (p3_blanks_to_null, P3_SQL),
    "p4_flag_columns": (p4_flag_columns, P4_SQL),
    "rel1_rollup": (rel1_rollup, REL1_SQL),
    "rel2_lead_lag": (rel2_lead_lag, REL2_SQL),
    "rel3_semi_anti": (rel3_semi_anti, REL3_SQL),
    "rel4_conditional_pivot": (rel4_conditional_pivot, REL4_SQL),
    "rel5_topk_per_group": (rel5_topk_per_group, REL5_SQL),
    "rel6_asof_join": (rel6_asof_join, REL6_SQL),
    "rel7_range_join": (rel7_range_join, REL7_SQL),
    "rel8_json_props": (rel8_json_props, REL8_SQL),
    "rel9_cube": (rel9_cube, REL9_SQL),
    "rel12_setops": (rel12_setops, REL12_SQL),
    "rel13_range_frame": (rel13_range_frame, REL13_SQL),
    "rel14_hierarchy_flatten": (rel14_hierarchy_flatten, REL14_SQL),
    "rel15_rank_quantiles": (rel15_rank_quantiles, REL15_SQL),
    "rel16_median_mad": (rel16_median_mad, REL16_SQL),
    "rel17_islands": (rel17_islands, REL17_SQL),
    "rel18_interval_merge": (rel18_interval_merge, REL18_SQL),
    "rel19_funnel": (rel19_funnel, REL19_SQL),
    "rel20_rolling_distinct": (rel20_rolling_distinct, REL20_SQL),
    "rel21_attribution": (rel21_attribution, REL21_SQL),
    "rel22_cohort_retention": (rel22_cohort_retention, REL22_SQL),
    "rel23_transitions": (rel23_transitions, REL23_SQL),
    "rel24_cdc_apply": (rel24_cdc_apply, REL24_SQL),
    "rel25_missing_days": (rel25_missing_days, REL25_SQL),
    "rel26_pivot": (rel26_pivot, REL26_SQL),
    "rel27_rolling_slope": (rel27_rolling_slope, REL27_SQL),
    "rel28_percent_rank": (rel28_percent_rank, REL28_SQL),
    "rel29_grouping_sets": (rel29_grouping_sets, REL29_SQL),
    "rel30_variant_shred": (rel30_variant_shred, REL30_SQL),
    "rel31_bom_rollup": (rel31_bom_rollup, _rel31_sql()),
    "rel32_window_funnel": (rel32_window_funnel, _rel32_sql()),
    "rel33_max_concurrency": (rel33_max_concurrency, _rel33_sql()),
    "rel35_period_growth": (rel35_period_growth, _rel35_sql()),
    "rel36_cycle_time": (rel36_cycle_time, _rel36_sql()),
    "rel37_top_paths": (rel37_top_paths, _rel37_sql()),
    "rel38_time_weighted_avg": (rel38_time_weighted_avg, _REL38_SQL),
}

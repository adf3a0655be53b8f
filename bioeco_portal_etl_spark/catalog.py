"""Query catalog — the engine's declared surface.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) appears
here as a (spark_fn, oracle_sql) pair over the driver's synthetic tables
(TESTDATA.md). The driver runs both sides at sf=0.01 and hash-compares;
``bench.py`` times the headline subset at sf=0.1.

Conventions:
  - every computed column is aliased IDENTICALLY in Spark and SQL;
  - money sums round(2), ratios/averages round(4+) — tolerates double
    reassociation across engines;
  - geometry coordinates are integer-derived so WKT strings are byte-equal;
  - every query ends in a deterministic ORDER BY so top-k is stable.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.functions.dates import end_of_year, year_to_date
from bioeco_portal_etl_spark.functions.recode import recode
from bioeco_portal_etl_spark.functions.strings import (
    make_identifier,
    null_quote,
    str_trunc,
)
from bioeco_portal_etl_spark.geo.wkt import geom_type, linestring_agg, multipoint_agg
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
# Headline relational queries (TPC-H-shaped; bench subset)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A1 grouped multi-aggregate + F filters (SURVEY.md §2.6 A1, §2.4).

    Plan shape at scale: parquet scan with pushed shipdate filter -> partial
    hash agg (map-side combine) -> 6-group final agg. One shuffle of
    pre-combined state.
    """
    l = T(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                             AS sum_qty,
       round(sum(l_extendedprice), 2)                                        AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                     AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)       AS sum_charge,
       round(avg(l_quantity), 4)                                             AS avg_qty,
       round(avg(l_extendedprice), 4)                                        AS avg_price,
       round(avg(l_discount), 4)                                             AS avg_disc,
       count(*)                                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """J1-style joins + agg + deterministic top-k (SURVEY.md §2.5, §2.8).

    customer is the small side -> broadcast; orders⋈lineitem shuffles on the
    orderkey (their natural co-partitioning key at 100 TB).
    """
    c = T(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    l = T(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate::date                                 AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Star join over the full dimension chain; all dims broadcast, the only
    shuffle is the final 5-group aggregate."""
    r = T(spark, sf, "region")
    n = T(spark, sf, "nation")
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    l = T(spark, sf, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # no broadcast hint: dims derives from customer (fact-scaled), so the
        # 64 MB threshold / AQE decide — a forced broadcast becomes a driver
        # OOM cliff at real scale while changing nothing at bench scale
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("r_name")
    )


Q5_SQL = """
SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey   = c_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
GROUP BY r_name
ORDER BY r_name
"""


def q6_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Pure scan+filter+agg — all predicates push into the parquet scan."""
    l = T(spark, sf, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount").between(0.02, 0.06))
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


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
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
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
        n.join(F.broadcast(r), n.n_regionkey == r.rk, "left")
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


# ---------------------------------------------------------------------------
# Geometry (SURVEY.md §2.9) — integer-derived coords keep WKT byte-equal
# ---------------------------------------------------------------------------


def g1_point_wkt(spark: SparkSession, sf: str) -> DataFrame:
    """G1: WKT point construction from coordinate columns (index.Rmd:285)."""
    s = T(spark, sf, "supplier")
    lon = (F.pmod(F.col("s_suppkey") * 7, F.lit(360)) - 180).cast("long")
    lat = (F.pmod(F.col("s_suppkey") * 13, F.lit(180)) - 90).cast("long")
    return s.select(
        "s_suppkey",
        F.format_string("POINT (%d %d)", lon, lat).alias("geometry_wkt"),
    ).orderBy("s_suppkey")


G1_SQL = """
SELECT s_suppkey,
       'POINT (' || ((s_suppkey * 7) % 360 - 180) || ' ' || ((s_suppkey * 13) % 180 - 90) || ')' AS geometry_wkt
FROM supplier ORDER BY s_suppkey
"""


def g2_multipoint_union(spark: SparkSession, sf: str) -> DataFrame:
    """G2/A1e: per-group st_union of points -> MULTIPOINT (index.Rmd:332);
    members sorted+deduped for partition-invariance."""
    c = T(spark, sf, "customer")
    lon = (F.pmod(F.col("c_custkey") * 7, F.lit(360)) - 180).cast("long")
    lat = (F.pmod(F.col("c_custkey") * 13, F.lit(180)) - 90).cast("long")
    return (
        c.groupBy("c_nationkey")
        .agg(multipoint_agg(lon, lat).alias("geometry_wkt"))
        .orderBy("c_nationkey")
    )


G2_SQL = """
WITH pts AS (
  SELECT c_nationkey,
         ((c_custkey * 7) % 360 - 180) || ' ' || ((c_custkey * 13) % 180 - 90) AS pt
  FROM customer)
SELECT c_nationkey,
       'MULTIPOINT (' || string_agg(DISTINCT pt, ', ' ORDER BY pt) || ')' AS geometry_wkt
FROM pts GROUP BY c_nationkey ORDER BY c_nationkey
"""


def g9_union_points_geojson(spark: SparkSession, sf: str) -> DataFrame:
    """G3/A1e: per-group point union serialized as GeoJSON — the reference's
    sfc_geojson(st_union(...)) (index.Rmd:332). The fixture forces all three
    output shapes: groups ≡0 (mod 7) have only null coords (empty
    GeometryCollection), groups ≡3 collapse to one shared point (Point),
    the rest emit MultiPoint."""
    from bioeco_portal_etl_spark.geo.geojson import union_points_geojson_agg

    c = T(spark, sf, "customer")
    grp = F.col("c_custkey") % 97
    lon_m = (F.pmod(F.col("c_custkey") * 7, F.lit(360)) - 180).cast("long")
    lat_m = (F.pmod(F.col("c_custkey") * 13, F.lit(180)) - 90).cast("long")
    lon_1 = (F.pmod(grp * 7, F.lit(360)) - 180).cast("long")
    lat_1 = (F.pmod(grp * 13, F.lit(180)) - 90).cast("long")
    lon = F.when(grp % 7 == 3, lon_1).when(grp % 7 != 0, lon_m)
    lat = F.when(grp % 7 == 3, lat_1).when(grp % 7 != 0, lat_m)
    return (
        c.groupBy(grp.alias("grp"))
        .agg(union_points_geojson_agg(lon, lat).alias("geometry_geojson"))
        .orderBy("grp")
    )


G9_SQL = """
WITH pts AS (
  SELECT c_custkey % 97 AS grp,
         CASE WHEN (c_custkey % 97) % 7 = 0 THEN NULL
              WHEN (c_custkey % 97) % 7 = 3 THEN
                '[' || ((c_custkey % 97) * 7 % 360 - 180) || ',' ||
                ((c_custkey % 97) * 13 % 180 - 90) || ']'
              ELSE '[' || (c_custkey * 7 % 360 - 180) || ',' ||
                   (c_custkey * 13 % 180 - 90) || ']' END AS pt
  FROM customer),
g AS (
  SELECT grp,
         list_sort(list(DISTINCT pt) FILTER (WHERE pt IS NOT NULL)) AS ps
  FROM pts GROUP BY grp)
SELECT grp,
       CASE WHEN ps IS NULL OR len(ps) = 0
              THEN '{"type":"GeometryCollection","geometries":[]}'
            WHEN len(ps) = 1
              THEN '{"type":"Point","coordinates":' || ps[1] || '}'
            ELSE '{"type":"MultiPoint","coordinates":[' ||
                 list_aggregate(ps, 'string_agg', ',') || ']}'
       END AS geometry_geojson
FROM g ORDER BY grp
"""


def g7_linestring_track(spark: SparkSession, sf: str) -> DataFrame:
    """G7: ordered positions -> LINESTRING per order (index.Rmd:549-552)."""
    l = T(spark, sf, "lineitem")
    lon = (F.pmod(F.col("l_partkey") * 3, F.lit(360)) - 180).cast("long")
    lat = (F.pmod(F.col("l_suppkey") * 5, F.lit(180)) - 90).cast("long")
    track = (
        l.groupBy("l_orderkey")
        .agg(
            linestring_agg(lon, lat, F.col("l_linenumber")).alias("geometry_wkt"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .filter(F.col("n_points") >= 2)
        .drop("n_points")
    )
    return track.orderBy("l_orderkey")


G7_SQL = """
WITH pts AS (
  SELECT l_orderkey, l_linenumber,
         (l_partkey * 3) % 360 - 180 AS x, (l_suppkey * 5) % 180 - 90 AS y,
         ((l_partkey * 3) % 360 - 180) || ' ' || ((l_suppkey * 5) % 180 - 90) AS pt
  FROM lineitem)
SELECT l_orderkey,
       'LINESTRING (' || string_agg(pt, ', ' ORDER BY l_linenumber, x, y) || ')' AS geometry_wkt
FROM pts GROUP BY l_orderkey HAVING count(*) >= 2 ORDER BY l_orderkey
"""


def g5_geom_type(spark: SparkSession, sf: str) -> DataFrame:
    """G5: geometry-type introspection + F5/A5 homogeneity check
    (index.Rmd:409,475)."""
    g = g7_linestring_track(spark, sf)
    return g.select(
        "l_orderkey", geom_type("geometry_wkt").alias("geometry_type")
    ).orderBy("l_orderkey")


G5_SQL = """
WITH pts AS (
  SELECT l_orderkey, l_linenumber FROM lineitem)
SELECT l_orderkey, 'LINESTRING' AS geometry_type
FROM pts GROUP BY l_orderkey HAVING count(*) >= 2 ORDER BY l_orderkey
"""


def g10_point_in_polygon(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial join (geo/pip.py): customers as deterministic points on a
    [0,100)² plane, joined to a 5×5 lattice of diamond (rotated-square)
    polygons — non-axis-aligned on purpose, so the even-odd ray cast does
    real work the bbox prefilter can't fake. Broadcast polygons + map-side
    bbox candidates + codegen crossing fold; no UDF, no shuffle before the
    report sort."""
    from bioeco_portal_etl_spark.geo.pip import point_in_polygon_join

    c = T(spark, sf, "customer")
    pts = c.select(
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
    return point_in_polygon_join(pts, polys, "x", "y").orderBy("c_custkey")


def g11_pip_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-cell tier of the g10 spatial join (geo/pip.py
    point_in_polygon_join_grid): SAME fixture, SAME rows, but candidates
    come from a shuffled equi-join on (cell_x, cell_y) with the polygon
    side exploded to covered cells — the 100 TB plan when the polygon set
    outgrows broadcast. Shares g10's DuckDB oracle verbatim; the plan
    difference (no broadcast of polygons) is pinned in test_plans.py."""
    from bioeco_portal_etl_spark.geo.pip import point_in_polygon_join_grid

    c = T(spark, sf, "customer")
    pts = c.select(
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
    return point_in_polygon_join_grid(
        pts, polys, "x", "y", cell_size=10.0
    ).orderBy("c_custkey")


def g12_poly_measure(spark: SparkSession, sf: str) -> DataFrame:
    """Shoelace area + centroid (geo/measure.py): irregular quadrilaterals
    (diamonds with id-dependent radius and vertex jitter, so area and
    centroid genuinely vary per row and the centroid is off-center). All
    three shoelace sums are identical-order left folds on both engines —
    byte-exact doubles, floor-e4 quantized. Pure codegen: no UDF, no
    shuffle before the report sort."""
    from bioeco_portal_etl_spark.geo.measure import polygon_area_centroid

    g = spark.range(40)
    i = F.col("id")
    cx = (i % 8).cast("double") * 25 + 12
    cy = F.expr("id div 8").cast("double") * 25 + 12
    r = (i % 7).cast("double") + 4
    polys = g.select(
        i.alias("poly_id"),
        F.array(
            cx - r, cx + (i % 3).cast("double"), cx + r, cx - (i % 2).cast("double")
        ).alias("xs"),
        F.array(
            cy - (i % 5).cast("double"), cy + r, cy + (i % 4).cast("double"), cy - r
        ).alias("ys"),
    )
    return polygon_area_centroid(polys).orderBy("poly_id")


G12_SQL = """
WITH p AS (
  SELECT id AS poly_id,
         ((id % 8) * 25 + 12)::DOUBLE AS cx,
         ((id // 8) * 25 + 12)::DOUBLE AS cy,
         ((id % 7) + 4)::DOUBLE AS r,
         (id % 3)::DOUBLE AS jx1, (id % 2)::DOUBLE AS jx2,
         (id % 5)::DOUBLE AS jy1, (id % 4)::DOUBLE AS jy2
  FROM range(40) t(id)
),
v AS (
  SELECT poly_id,
         [cx - r, cx + jx1, cx + r, cx - jx2] AS xs,
         [cy - jy1, cy + r, cy + jy2, cy - r] AS ys
  FROM p
),
f AS (
  SELECT poly_id,
    list_reduce(list_prepend(0.0, list_transform(range(0, 4), i ->
      xs[i + 1] * ys[((i + 1) % 4) + 1] - xs[((i + 1) % 4) + 1] * ys[i + 1]
    )), (a, b) -> a + b) AS s,
    list_reduce(list_prepend(0.0, list_transform(range(0, 4), i ->
      (xs[i + 1] + xs[((i + 1) % 4) + 1]) *
      (xs[i + 1] * ys[((i + 1) % 4) + 1] - xs[((i + 1) % 4) + 1] * ys[i + 1])
    )), (a, b) -> a + b) AS sx,
    list_reduce(list_prepend(0.0, list_transform(range(0, 4), i ->
      (ys[i + 1] + ys[((i + 1) % 4) + 1]) *
      (xs[i + 1] * ys[((i + 1) % 4) + 1] - xs[((i + 1) % 4) + 1] * ys[i + 1])
    )), (a, b) -> a + b) AS sy
  FROM v
)
SELECT poly_id,
       floor(abs(s) / 2.0 * 10000)::BIGINT AS area_e4,
       CASE WHEN s <> 0.0 THEN floor(sx / (3.0 * s) * 10000)::BIGINT END AS cx_e4,
       CASE WHEN s <> 0.0 THEN floor(sy / (3.0 * s) * 10000)::BIGINT END AS cy_e4
FROM f ORDER BY poly_id
"""


G10_SQL = """
WITH pts AS (
  SELECT c_custkey, ((c_custkey * 7) % 1000) / 10.0 AS x,
         ((c_custkey * 13) % 1000) / 10.0 AS y
  FROM customer
),
poly AS (
  SELECT id AS poly_id, ((id // 5)::BIGINT * 20 + 10)::DOUBLE AS cx,
         ((id % 5) * 20 + 10)::DOUBLE AS cy
  FROM range(25) t(id)
),
v AS (
  SELECT poly_id, [cx - 8, cx, cx + 8, cx] AS xs,
         [cy, cy + 8, cy, cy - 8] AS ys, cx, cy
  FROM poly
),
cand AS (
  SELECT c_custkey, x, y, poly_id, xs, ys
  FROM pts, v
  WHERE x >= cx - 8 AND x <= cx + 8 AND y >= cy - 8 AND y <= cy + 8
),
cr AS (
  SELECT c_custkey, x, y, poly_id,
    list_reduce(list_prepend(0, list_transform(range(0, 4), i ->
      CASE WHEN ((ys[i + 1] > y) <> (ys[((i + 1) % 4) + 1] > y))
            AND (((xs[((i + 1) % 4) + 1] - xs[i + 1]) * (y - ys[i + 1])
                  - (x - xs[i + 1]) * (ys[((i + 1) % 4) + 1] - ys[i + 1]) > 0)
                 = (ys[((i + 1) % 4) + 1] > ys[i + 1]))
      THEN 1 ELSE 0 END)), (a, b) -> a + b) AS crossings
  FROM cand
)
SELECT c_custkey, x, y, poly_id FROM cr WHERE crossings % 2 = 1
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

_CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "q6_revenue_forecast": (q6_revenue_forecast, Q6_SQL),
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
    "g1_point_wkt": (g1_point_wkt, G1_SQL),
    "g2_multipoint_union": (g2_multipoint_union, G2_SQL),
    "g5_geom_type": (g5_geom_type, G5_SQL),
    "g7_linestring_track": (g7_linestring_track, G7_SQL),
    "g9_union_points_geojson": (g9_union_points_geojson, G9_SQL),
    "g10_point_in_polygon": (g10_point_in_polygon, G10_SQL),
    "g11_pip_grid": (g11_pip_grid, G10_SQL),
    "g12_poly_measure": (g12_poly_measure, G12_SQL),
}


from bioeco_portal_etl_spark.catalog_ext import CATALOG_EXT  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext2 import CATALOG_EXT2  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext3 import CATALOG_EXT3  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext4 import CATALOG_EXT4  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext5 import CATALOG_EXT5  # noqa: E402
from bioeco_portal_etl_spark.catalog_rel import CATALOG_REL  # noqa: E402
from bioeco_portal_etl_spark.catalog_tpch import CATALOG_TPCH  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext6 import CATALOG_EXT6  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext7 import CATALOG_EXT7  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext8 import CATALOG_EXT8  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext9 import CATALOG_EXT9  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext10 import CATALOG_EXT10  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext11 import CATALOG_EXT11  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext12 import CATALOG_EXT12  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext13 import CATALOG_EXT13  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext14 import CATALOG_EXT14  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext15 import CATALOG_EXT15  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext16 import CATALOG_EXT16  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext17 import CATALOG_EXT17  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext18 import CATALOG_EXT18  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext19 import CATALOG_EXT19  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext20 import CATALOG_EXT20  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext21 import CATALOG_EXT21  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext22 import CATALOG_EXT22  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext23 import CATALOG_EXT23  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext24 import CATALOG_EXT24  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext25 import CATALOG_EXT25  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext26 import CATALOG_EXT26  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext27 import CATALOG_EXT27  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext28 import CATALOG_EXT28  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext29 import CATALOG_EXT29  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext30 import CATALOG_EXT30  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext31 import CATALOG_EXT31  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext32 import CATALOG_EXT32  # noqa: E402
from bioeco_portal_etl_spark.catalog_ext33 import CATALOG_EXT33  # noqa: E402
from bioeco_portal_etl_spark.catalog_tpch2 import CATALOG_TPCH2  # noqa: E402

_CATALOG.update(CATALOG_EXT)
_CATALOG.update(CATALOG_EXT2)
_CATALOG.update(CATALOG_EXT3)
_CATALOG.update(CATALOG_EXT4)
_CATALOG.update(CATALOG_EXT5)
_CATALOG.update(CATALOG_EXT6)
_CATALOG.update(CATALOG_EXT7)
_CATALOG.update(CATALOG_EXT8)
_CATALOG.update(CATALOG_EXT9)
_CATALOG.update(CATALOG_EXT10)
_CATALOG.update(CATALOG_EXT11)
_CATALOG.update(CATALOG_EXT12)
_CATALOG.update(CATALOG_EXT13)
_CATALOG.update(CATALOG_EXT14)
_CATALOG.update(CATALOG_EXT15)
_CATALOG.update(CATALOG_EXT16)
_CATALOG.update(CATALOG_EXT17)
_CATALOG.update(CATALOG_EXT18)
_CATALOG.update(CATALOG_EXT19)
_CATALOG.update(CATALOG_EXT20)
_CATALOG.update(CATALOG_EXT21)
_CATALOG.update(CATALOG_EXT22)
_CATALOG.update(CATALOG_EXT23)
_CATALOG.update(CATALOG_EXT24)
_CATALOG.update(CATALOG_EXT25)
_CATALOG.update(CATALOG_EXT26)
_CATALOG.update(CATALOG_EXT27)
_CATALOG.update(CATALOG_EXT28)
_CATALOG.update(CATALOG_EXT29)
_CATALOG.update(CATALOG_EXT30)
_CATALOG.update(CATALOG_EXT31)
_CATALOG.update(CATALOG_EXT32)
_CATALOG.update(CATALOG_EXT33)
_CATALOG.update(CATALOG_REL)
_CATALOG.update(CATALOG_TPCH)
_CATALOG.update(CATALOG_TPCH2)

# Driver-gate window. The correctness driver hash-checks the FIRST 50
# declared entries only; tests/test_catalog_oracle.py and
# scripts/validate.py compare ALL entries, so this order only decides which
# 50 the driver re-confirms. gate_window.txt is written by
# scripts/gate_window.py (changed-since-sampled entries first, then the
# longest unsampled); tests/test_gate_window.py checks it is current.
_GATE_WINDOW = (Path(__file__).parent / "gate_window.txt").read_text().split()
_CATALOG = {k: _CATALOG[k] for k in [*_GATE_WINDOW, *_CATALOG] if k in _CATALOG}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql.strip() for name, (_, sql) in _CATALOG.items() if sql is not None}


def register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None) -> None:
    _CATALOG[name] = (fn, sql)

"""TPC-H-shaped catalog entries (q*): the bench headline q1/q3/q5/q6 and the
remaining TPC-H plan families — EXISTS / NOT EXISTS as semi/anti joins,
correlated scalar subqueries decorrelated into agg-joins, fraction-of-total
HAVING, disjunctive predicates and having-subquery re-joins. Each is written
as the plan wanted at scale and oracle-checked against DuckDB running the
classic subquery formulation.

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


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


_DEC = "decimal(18,6)"


def q4_priority_exists(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> LEFT SEMI join (SURVEY.md §2.5 notes the
    reference has no semi joins; this is the first-class form of its
    has_shapefile lookup pattern, index.Rmd:425).

    Plan at scale: the semi join keeps orders-side cardinality (no fan-out
    on the ~4-lineitems-per-order multiplicity, no post-join distinct).
    The non-equi half of the condition (l_shipdate > o_orderdate) rides on
    the hash join on orderkey; the date-window filter is pushed to the
    orders parquet scan."""
    o = T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    l = T(spark, sf, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q11_value_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: fraction-of-total HAVING via a scalar subquery.

    Spark-first: aggregate once, derive the one-row total from the SAME
    aggregate (reused, not rescanned), broadcast-cross-join it back, and
    filter. At 100 TB the per-supplier aggregate is the only fact shuffle;
    the total is K rows -> 1 row. The threshold compare is cross-multiplied
    exact decimal (value * nsupp > grand_total) so no engine ever divides.

    The cut is ABOVE-MEAN share (fraction = 1/n_suppliers), the
    data-relative form of TPC-H's 0.0001/SF spec scaling (SF is
    proportional to supplier count): a FIXED fraction empties as the
    fleet grows — the round-8 sf0.1 oracle sweep caught the original
    0.005 returning zero rows once shares fell to ~1/1000."""
    l = T(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    per_supp = l.groupBy("l_suppkey").agg(F.sum(rev).alias("value"))
    total = per_supp.agg(
        F.sum("value").alias("grand_total"),
        F.count(F.lit(1)).alias("nsupp"),
    )
    # Cross-multiplied EXACT-decimal compare (value * nsupp > grand_total),
    # not value > grand_total/nsupp in doubles: a supplier landing on the
    # float boundary of an order-dependent double summation could flip
    # between engines/runs. Same convention as q20's 2*shipped*npairs >
    # 3*total_q form (ADVICE r8). Magnitudes fit decimal(38,6) with huge
    # headroom: grand_total*nsupp ~ 1e13 at sf0.1, ~1e19 only at SF~1e5.
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(F.col("value") * F.col("nsupp") > F.col("grand_total"))
        # surface as double on both engines (decimal stays internal); cast
        # BEFORE the sort so tie order under double rounding matches too
        .select("l_suppkey", F.col("value").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "l_suppkey")
    )


Q11_SQL = """
WITH v AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS value
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, value::DOUBLE AS value
FROM v
WHERE value * (SELECT count(*) FROM v) > (SELECT sum(value) FROM v)
ORDER BY value::DOUBLE DESC, l_suppkey
"""


def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio over a broadcast dim
    join — one pass, no self-join. Ratio exposed as floor(pct*1e4) long
    (engine-stable; round() flips on half-ulp disagreements)."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-09-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    p = T(spark, sf, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_DEC))).alias("promo"),
            F.sum(rev).alias("total"),
        )
    )
    return agg.select(
        F.floor(
            F.col("promo").cast("double") / F.col("total").cast("double") * 100 * 1e4
        ).alias("promo_pct_e4"),
        F.col("promo").cast("double").alias("promo_revenue"),
    )


Q14_SQL = """
SELECT CAST(floor(CAST(promo AS DOUBLE) / CAST(total AS DOUBLE) * 100 * 1e4) AS BIGINT)
         AS promo_pct_e4,
       promo::DOUBLE AS promo_revenue
FROM (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS promo,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part   ON p_partkey  = l_partkey
  WHERE o_orderdate >= TIMESTAMP '1996-09-01' AND o_orderdate < TIMESTAMP '1996-10-01'
)
"""


def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity)
    decorrelated into an aggregate + broadcast join — the rewrite Catalyst
    applies to the subquery form, written explicitly as the plan of record.

    The per-part threshold divides an EXACT decimal sum by the count in
    double, so the `<` compare cannot flip between engines. At scale the
    per-part aggregate shuffles K part keys (tiny vs the fact), then joins
    back broadcast."""
    p = T(spark, sf, "part").filter(F.col("p_brand") == "Brand#13")
    l = T(spark, sf, "lineitem")
    lp = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thr = lp.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
            * 0.2
        ).alias("qty_thr")
    )
    small = lp.join(thr, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_thr")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        # decimal sum internally, double at the surface (gate convention)
        F.sum(F.col("l_extendedprice").cast(_DEC))
        .cast("double")
        .alias("total_price"),
    )


Q17_SQL = """
SELECT count(*) AS n_small,
       sum(CAST(l_extendedprice AS DECIMAL(18,6)))::DOUBLE AS total_price
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND l.l_quantity < (
    SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) * 0.2
    FROM lineitem l2
    JOIN part p2 ON p2.p_partkey = l2.l_partkey
    WHERE p2.p_brand = 'Brand#13' AND l2.l_partkey = l.l_partkey
  )
"""


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery -> aggregate once, then join the
    qualifying keys back to the facts. The heavy groupBy(l_orderkey) runs
    once; qualifying keys (rare) broadcast back onto orders/customer —
    no IN-subquery re-evaluation, no second lineitem scan."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


Q18_SQL = """
SELECT c_name, o_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty::DOUBLE AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
"""


def q19_disjunctive_pred(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    The part-side conjuncts cannot fully push below the join (each branch
    couples p_* with l_quantity), but the broadcast hash join on partkey
    keeps the disjunction a cheap post-join filter inside one codegen
    stage; Catalyst still prunes part to the 3 referenced columns."""
    l = T(spark, sf, "lineitem")
    p = T(spark, sf, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 25) & q.between(20, 30))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    return j.filter(branch).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


Q19_SQL = """
SELECT count(*) AS n_items,
       sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))::DOUBLE
         AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: global-scalar subquery + NOT EXISTS -> broadcast
    one-row threshold + LEFT ANTI join (adapted: "no orders since
    1999-01-01"; every customer in this dataset has SOME order). The anti
    join's right side is pre-filtered to the recent window before the
    join, so the probe is against the small recent-orders build."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders").filter(F.col("o_orderdate") >= "1999-01-01")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double") / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
SELECT c_nationkey, count(*) AS n_cust,
       sum(CAST(c_acctbal AS DECIMAL(18,6)))::DOUBLE AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                          / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery -> per-group min + EQUALITY
    re-join (Q17 is the inequality sibling). Region-filtered suppliers;
    each nation's minimum-balance supplier(s) survive. The per-nation min
    is K rows -> broadcast back; no per-row subquery."""
    s = T(spark, sf, "supplier")
    n = T(spark, sf, "nation")
    r = T(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    mins = sn.groupBy("s_nationkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        sn.join(
            F.broadcast(mins),
            (sn.s_nationkey == mins.s_nationkey)
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
        .orderBy("n_name", "s_suppkey")
    )


Q2_SQL = """
SELECT s_suppkey, s_name, n_name, s_acctbal
FROM supplier s
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_acctbal = (
    SELECT min(s2.s_acctbal) FROM supplier s2
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE r2.r_name = 'EUROPE' AND s2.s_nationkey = s.s_nationkey)
ORDER BY n_name, s_suppkey
"""


def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: the two-nation disjunctive pairing — lineitem joined
    to BOTH a supplier nation and a customer nation, kept when the pair is
    (A,B) or (B,A), grouped by (supp_nation, cust_nation, ship year).
    Nations broadcast twice under different aliases; the pair disjunction
    rides the joined row (it spans both dimension sides, so it cannot push
    below either join).

    The pair itself is data-derived — the two alphabetically-first
    nations having BOTH suppliers and customers (exact string mins,
    identical on both engines): the original literal (NATION_1,
    NATION_2) pair has no sf0.001 members on one side, so the entry
    hash-matched empty-vs-empty there (round-8 sweep finding; same
    hardcoded-dimension-member hazard as q20's NATION_5)."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    s = T(spark, sf, "supplier")
    nat = T(spark, sf, "nation")
    eligible = nat.join(
        s, nat.n_nationkey == s.s_nationkey, "left_semi"
    ).join(c, nat.n_nationkey == c.c_nationkey, "left_semi")
    pair2 = (
        eligible.select("n_name").orderBy("n_name").limit(2)
        .agg(F.min("n_name").alias("na"), F.max("n_name").alias("nb"))
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .crossJoin(F.broadcast(pair2))
    )
    pair = (
        (F.col("supp_nation") == F.col("na"))
        & (F.col("cust_nation") == F.col("nb"))
    ) | (
        (F.col("supp_nation") == F.col("nb"))
        & (F.col("cust_nation") == F.col("na"))
    )
    return (
        j.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        # decimal sum internally, double at the surface (gate convention)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
WITH ns AS (
  SELECT n_name FROM nation
  WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
    AND n_nationkey IN (SELECT c_nationkey FROM customer)
  ORDER BY n_name LIMIT 2
)
SELECT supp_nation, cust_nation, l_year, sum(volume)::DOUBLE AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = (SELECT min(n_name) FROM ns)
         AND n2.n_name = (SELECT max(n_name) FROM ns))
     OR (n1.n_name = (SELECT max(n_name) FROM ns)
         AND n2.n_name = (SELECT min(n_name) FROM ns)))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: market share = conditional fraction within a group —
    customers restricted to one region, share of one supplier nation's
    revenue per order year, as floor(share*1e4). One pass: the CASE rides
    the aggregate (no self-join), region/nation dims broadcast."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    s = T(spark, sf, "supplier")
    n = T(spark, sf, "nation")
    r = T(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    sn = s.join(
        F.broadcast(
            T(spark, sf, "nation").select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .join(sn, l.l_suppkey == sn.s_suppkey)
    )
    agg = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(
                F.lit(0).cast(_DEC)
            )
        ).alias("nation_rev"),
        F.sum(_rev()).alias("total_rev"),
    )
    return agg.select(
        "o_year",
        F.floor(
            F.col("nation_rev").cast("double")
            / F.col("total_rev").cast("double")
            * 10000
        )
        .cast("long")
        .alias("share_e4"),
    ).orderBy("o_year")


Q8_SQL = """
SELECT o_year,
       CAST(floor(CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) * 10000)
            AS BIGINT) AS share_e4
FROM (
  SELECT year(o_orderdate) AS o_year,
         sum(CASE WHEN n1.n_name = 'NATION_3'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS nation_rev,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE r_name = 'ASIA'
  GROUP BY o_year)
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: LIKE-filtered part dim + profit expression rolled up
    by (supplier nation, year). No partsupp in this schema, so profit =
    revenue - 0.7*quantity (cost surrogate) — the plan challenge (LIKE
    pushdown into the dim scan, 4-way join, two-key rollup) is intact."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders")
    s = T(spark, sf, "supplier")
    p = T(spark, sf, "part").filter(F.col("p_name").like("%widget%"))
    n = T(spark, sf, "nation")
    amount = _rev() - (F.lit(0.7) * F.col("l_quantity")).cast(_DEC)
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
           - CAST(0.7 * l_quantity AS DECIMAL(18,6)))::DOUBLE AS profit
FROM lineitem
JOIN part     ON l_partkey  = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
ORDER BY n_name, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over a date
    window, top 20. The heavy lineitem filter (returnflag) and the orders
    date window both push to their scans; top-20 is orderBy+limit with a
    custkey tiebreak (deterministic under ties)."""
    l = T(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = T(spark, sf, "customer")
    n = T(spark, sf, "nation")
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        # cast BEFORE the top-20 sort so tie behavior under double
        # rounding matches the oracle's (which also sorts on double)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))::DOUBLE
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q12_lateness_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: two-way conditional counts — per line status, how
    many LATE lines (shipped >60 days after order) carry high vs low order
    priority. The CASE pair rides one aggregate; the lateness predicate
    spans the join (line + order columns) so it filters post-join inside
    the codegen stage."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders")
    j = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q13_order_count_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: customer x filtered-orders LEFT join -> per-customer
    order count -> histogram of counts. The left join keeps zero-order
    customers (count 0 bucket); both aggregates are algebraic (map-side
    partials); no subquery, no distinct."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + scalar MAX + equality join-back.
    The per-supplier aggregate computes once and feeds both the max scalar
    (1 row, broadcast) and the equality filter — decimal sums make the
    equality exact across engines (double sums would be association-
    dependent and could drop the top supplier)."""
    l = T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = T(spark, sf, "supplier")
    rev = l.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        # equality on the exact decimal above; double only at the surface
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue::DOUBLE AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: count DISTINCT suppliers per part attribute triple,
    excluding a supplier denylist (NOT IN -> LEFT ANTI). partsupp is
    adapted to the distinct (l_partkey, l_suppkey) pairs of lineitem; the
    denylist (low-balance suppliers) broadcasts as the anti build side."""
    l = T(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = T(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size") <= 8)
    )
    bad = T(spark, sf, "supplier").filter(F.col("s_acctbal") < 2000).select(
        "s_suppkey"
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).join(
        F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%' AND p_size <= 8
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_part_stock_chain(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN chains -> a semi-join ladder. Suppliers
    who shipped an above-threshold volume of some 'small%' part during
    1996, restricted to one nation: qty aggregate per (supplier, part) ->
    semi vs the LIKE-filtered part set -> threshold -> distinct suppliers
    -> semi vs supplier -> nation filter. Every rung keeps left-side
    cardinality.

    Threshold = 1.5x the mean per-pair volume, in EXACT int64 arithmetic
    (2*shipped*npairs > 3*total; l_quantity is integral): TPC-H's own Q20
    compares against 0.5*sum-per-pair for the same reason — a FIXED "> 50
    units" cut empties as SF grows because per-(supplier, part) lineitem
    counts fall with part-table size (the round-8 sf0.1 sweep measured
    the fixed cut decaying 17 pairs @ sf0.01 -> 15 @ sf0.1 while pairs
    grew 1206 -> 11288; the relative cut holds ~24% at every SF).

    The one-nation restriction is likewise data-derived (alphabetically
    first nation that HAS suppliers, an exact string min on both
    engines): the original literal NATION_5 has zero suppliers at
    sf0.001 — a hardcoded dimension member is a scale-DOWN hazard the
    same way a fixed threshold is a scale-up one."""
    l = T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = T(spark, sf, "part").filter(F.col("p_name").like("small%"))
    s = T(spark, sf, "supplier")
    nat = T(spark, sf, "nation")
    target_nation = (
        s.join(F.broadcast(nat), s.s_nationkey == nat.n_nationkey)
        .agg(F.min("n_name").alias("n_name"))
    )
    n = nat.join(F.broadcast(target_nation), "n_name", "left_semi")
    # floor() before the long conversion: Spark's double->long CAST
    # truncates toward zero while DuckDB's rounds half-to-even — identical
    # on today's integral l_quantity but silently divergent on any future
    # fractional value. floor() is defined identically on both engines
    # (ADVICE r8).
    pair_qty = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.floor("l_quantity")).alias("shipped"))
    )
    tot = pair_qty.agg(
        F.sum("shipped").alias("total_q"), F.count(F.lit(1)).alias("npairs")
    )
    qty = (
        pair_qty.crossJoin(F.broadcast(tot))
        .filter(
            F.lit(2) * F.col("shipped") * F.col("npairs")
            > F.lit(3) * F.col("total_q")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(qty, s.s_suppkey == qty.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH qty AS (
  SELECT l_suppkey, l_partkey, sum(CAST(floor(l_quantity) AS BIGINT)) AS shipped
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM qty
    WHERE 2 * shipped * (SELECT count(*) FROM qty) >
          3 * (SELECT sum(shipped) FROM qty))
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation
    WHERE n_name = (SELECT min(n_name) FROM nation
                    JOIN supplier ON s_nationkey = n_nationkey))
ORDER BY s_suppkey
"""


def q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the SAME fact under
    different aliases — suppliers whose line was the ONLY late one in a
    finished multi-supplier order. Late = shipped > 90 days after order.
    Spark-first: the late-lines projection computes once and serves as
    probe, semi build (other suppliers exist), and anti build (no OTHER
    late supplier); both builds join on orderkey with a suppkey
    inequality riding the hash join."""
    l = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = l.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    ).distinct()
    late_others = late.select(
        F.col("l_orderkey").alias("lo_key"), F.col("l_suppkey").alias("lo_supp")
    ).distinct()
    cand = late.join(
        others,
        (late.l_orderkey == others.o_key) & (late.l_suppkey != others.o_supp),
        "left_semi",
    )
    sole = cand.join(
        late_others,
        (cand.l_orderkey == late_others.lo_key)
        & (cand.l_suppkey != late_others.lo_supp),
        "left_anti",
    )
    s = T(spark, sf, "supplier")
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, numwait FROM (
  SELECT l1.l_suppkey, count(*) AS numwait
  FROM lineitem l1
  JOIN orders ON l1.l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND o3.o_orderstatus = 'F'
                      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
  GROUP BY l1.l_suppkey)
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name
LIMIT 20
"""


CATALOG = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "q6_revenue_forecast": (q6_revenue_forecast, Q6_SQL),
    "q4_priority_exists": (q4_priority_exists, Q4_SQL),
    "q11_value_suppliers": (q11_value_suppliers, Q11_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q17_small_qty_revenue": (q17_small_qty_revenue, Q17_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q19_disjunctive_pred": (q19_disjunctive_pred, Q19_SQL),
    "q22_idle_customers": (q22_idle_customers, Q22_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q7_volume_shipping": (q7_volume_shipping, Q7_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q9_product_profit": (q9_product_profit, Q9_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q12_lateness_priority": (q12_lateness_priority, Q12_SQL),
    "q13_order_count_distribution": (q13_order_count_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q16_supplier_cnt": (q16_supplier_cnt, Q16_SQL),
    "q20_part_stock_chain": (q20_part_stock_chain, Q20_SQL),
    "q21_waiting_supplier": (q21_waiting_supplier, Q21_SQL),
}

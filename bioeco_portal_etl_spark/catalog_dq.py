"""Data-quality catalog entries (dq*): profiles, referential checks, split
leakage, drift, k-anonymity / l-diversity, Benford, lateness, functional
dependencies, expectations and key discovery (operators/).

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


# ---------------------------------------------------------------------------
# dq1 — data-quality constraint suite
# ---------------------------------------------------------------------------


def dq1_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style constraint report over orders (operators/quality.py):
    seven checks, ONE aggregate pass, long-format (check, value)."""
    from bioeco_portal_etl_spark.operators.quality import (
        completeness,
        profile_checks,
        uniqueness_gap,
        violations,
    )

    o = T(spark, sf, "orders")
    checks = {
        "n_rows": F.count(F.lit(1)),
        "null_custkey": completeness("o_custkey"),
        "dup_orderkey": uniqueness_gap("o_orderkey"),
        "bad_status": violations(F.col("o_orderstatus").isin("O", "F", "P")),
        "nonpositive_total": violations(F.col("o_totalprice") > 0),
        "bad_priority": violations(F.col("o_orderpriority").rlike(r"^[1-5]-")),
        "max_date_epochday": F.max(
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
        ),
    }
    return profile_checks(o, checks)


DQ1_SQL = """
WITH agg AS (
  SELECT count(*)::BIGINT AS n_rows,
         sum((o_custkey IS NULL)::INT)::BIGINT AS null_custkey,
         (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT
           AS dup_orderkey,
         sum((NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE))::INT)
           ::BIGINT AS bad_status,
         sum((NOT coalesce(o_totalprice > 0, FALSE))::INT)::BIGINT
           AS nonpositive_total,
         sum((NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'),
                           FALSE))::INT)::BIGINT AS bad_priority,
         max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
           ::BIGINT AS max_date_epochday
  FROM orders
)
SELECT * FROM (
  SELECT 'n_rows' AS "check", n_rows AS value FROM agg
  UNION ALL SELECT 'null_custkey', null_custkey FROM agg
  UNION ALL SELECT 'dup_orderkey', dup_orderkey FROM agg
  UNION ALL SELECT 'bad_status', bad_status FROM agg
  UNION ALL SELECT 'nonpositive_total', nonpositive_total FROM agg
  UNION ALL SELECT 'bad_priority', bad_priority FROM agg
  UNION ALL SELECT 'max_date_epochday', max_date_epochday FROM agg
) ORDER BY "check"
"""


# ---------------------------------------------------------------------------
# dq2 — cross-table referential integrity
# ---------------------------------------------------------------------------


def dq2_referential(spark: SparkSession, sf: str) -> DataFrame:
    """FK orphan audit across the star schema: anti-join counts for
    lineitem→orders, orders→customer, customer→nation — the
    cross-table face of dq1's single-table checks. Each check is ONE
    anti join on the key (dimension sides broadcast where size-eligible);
    a healthy warehouse reports zeros, and the row format matches dq1's
    (check, value) so dashboards union them."""
    li = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    n = T(spark, sf, "nation")
    checks = {
        "lineitem_orphan_orders": li.join(
            o, li.l_orderkey == o.o_orderkey, "left_anti"
        ),
        "orders_orphan_customers": o.join(
            c, o.o_custkey == c.c_custkey, "left_anti"
        ),
        "customer_orphan_nations": c.join(
            n, c.c_nationkey == n.n_nationkey, "left_anti"
        ),
    }
    out = None
    for name, df in checks.items():
        one = df.agg(
            F.lit(name).alias("check"),
            F.count(F.lit(1)).alias("value"),
        )
        out = one if out is None else out.unionByName(one)
    return out.orderBy("check")


DQ2_SQL = """
SELECT * FROM (
  SELECT 'lineitem_orphan_orders' AS "check",
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS value
  UNION ALL
  SELECT 'orders_orphan_customers',
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))::BIGINT
  UNION ALL
  SELECT 'customer_orphan_nations',
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = c.c_nationkey))::BIGINT
) ORDER BY "check"
"""


# ---------------------------------------------------------------------------
# dq3 — split-leakage audit (content collisions across train/val)
# ---------------------------------------------------------------------------


def dq3_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Fingerprint leakage across the SAME deterministic stratified split
    the x2 entry ships (operators/sampling.py): every content fingerprint
    (100-char prefix — catches the near-dup re-ingests exact full-text
    hashing misses, the same reason decontamination works on n-grams)
    with docs on both sides of the split, with per-side counts and the
    lowest doc id as the exemplar to inspect. Empty = leak-free corpus."""
    from bioeco_portal_etl_spark.catalog_analytics import X2_DEFAULT, X2_FRACS
    from bioeco_portal_etl_spark.operators.leakage import split_leakage
    from bioeco_portal_etl_spark.operators.sampling import (
        stratified_hash_split,
    )

    d = T(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.substring(F.coalesce("text", F.lit("")), 1, 100).alias("fp"),
    )
    s = stratified_hash_split(
        d, "doc_id", "lang", X2_FRACS, default_frac=X2_DEFAULT
    )
    return split_leakage(s, "doc_id", "fp", "split").orderBy("content_hash")


def _dq3_sql() -> str:
    from bioeco_portal_etl_spark.catalog_analytics import _X2_CASES, X2_DEFAULT

    return f"""
WITH b AS (
  SELECT doc_id, substr(coalesce(text, ''), 1, 100) AS fp,
         list_reduce(list_transform(range(1, 9),
             i -> (strpos('0123456789abcdef',
                          substr(md5(doc_id::VARCHAR), i, 1)) - 1)::BIGINT),
           (a, x) -> a * 16 + x) % 10000 AS bucket,
         CASE {_X2_CASES} ELSE {int(X2_DEFAULT * 10000)} END AS thr
  FROM documents
),
s AS (
  SELECT doc_id, md5(fp) AS content_hash,
         CASE WHEN bucket < thr THEN 1 ELSE 0 END AS is_train
  FROM b
)
SELECT content_hash,
       count(*)::BIGINT AS n_docs,
       sum(is_train)::BIGINT AS n_train,
       (count(*) - sum(is_train))::BIGINT AS n_eval,
       min(doc_id) AS min_doc
FROM s
GROUP BY content_hash
HAVING sum(is_train) > 0 AND count(*) - sum(is_train) > 0
ORDER BY content_hash"""


# ---------------------------------------------------------------------------
# dq4 — PSI distribution drift between time slices
# ---------------------------------------------------------------------------

_DQ4_SPLIT = "2024-01-16"


def dq4_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index of the value distribution per event
    type, first half of the month (reference) vs second half (current) —
    the cross-dataset drift score a feature pipeline gates refreshes on,
    next to x18's within-stream CUSUM. Per-bin e4-floored terms sum as
    integers (operators/drift.py psi_drift), so the one ln() sits inside
    a floor and the reduction is associative."""
    from bioeco_portal_etl_spark.operators.drift import psi_drift

    e = T(spark, sf, "events").select(
        "event_type",
        "value",
        (F.col("ts") >= F.lit(_DQ4_SPLIT).cast("timestamp")).alias("is_cur"),
    )
    return psi_drift(e, "event_type", "value", "is_cur").orderBy(
        "event_type"
    )


DQ4_SQL = f"""
WITH binned AS (
  SELECT event_type,
         least(floor(value / 25.0), 19)::BIGINT AS bin,
         CASE WHEN ts >= TIMESTAMP '{_DQ4_SPLIT}' THEN 1 ELSE 0 END AS c
  FROM events
),
counts AS (
  SELECT event_type, bin,
         sum(1 - c)::BIGINT AS n_ref_b, sum(c)::BIGINT AS n_cur_b
  FROM binned GROUP BY event_type, bin
),
terms AS (
  SELECT event_type, n_ref_b, n_cur_b,
         floor(
           ((n_cur_b + 1)::DOUBLE / (sum(n_cur_b) OVER (PARTITION BY event_type) + 20)::DOUBLE
            - (n_ref_b + 1)::DOUBLE / (sum(n_ref_b) OVER (PARTITION BY event_type) + 20)::DOUBLE)
           * ln(((n_cur_b + 1)::DOUBLE / (sum(n_cur_b) OVER (PARTITION BY event_type) + 20)::DOUBLE)
                / ((n_ref_b + 1)::DOUBLE / (sum(n_ref_b) OVER (PARTITION BY event_type) + 20)::DOUBLE))
           * 10000)::BIGINT AS term_e4
  FROM counts
)
SELECT event_type,
       sum(n_ref_b)::BIGINT AS n_ref,
       sum(n_cur_b)::BIGINT AS n_cur,
       sum(term_e4)::BIGINT AS psi_e4
FROM terms
GROUP BY event_type
ORDER BY event_type"""


# ---------------------------------------------------------------------------
# dq5 — k-anonymity audit
# ---------------------------------------------------------------------------


def dq5_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k=5 anonymity audit of customers under the (nation, market
    segment, account-balance bucket) quasi-identifier, reported per
    nation (operators/anonymity.py): how many records sit in groups
    small enough to re-identify by linkage — the release gate next to
    PII redaction. Two-level aggregate; only the first level touches
    row-scale data."""
    from bioeco_portal_etl_spark.operators.anonymity import k_anonymity_audit

    c = T(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    return k_anonymity_audit(
        c, ["c_nationkey", "c_mktsegment", "bal_bucket"], k=5
    ).orderBy("c_nationkey")


DQ5_SQL = """
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         floor(c_acctbal / 1000)::BIGINT AS bal_bucket
  FROM customer
),
sizes AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*)::BIGINT AS g_n
  FROM q GROUP BY 1, 2, 3
)
SELECT c_nationkey,
       sum(g_n)::BIGINT AS n_records,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN g_n < 5 THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
       sum(CASE WHEN g_n < 5 THEN g_n ELSE 0 END)::BIGINT AS n_risky_records,
       min(g_n)::BIGINT AS min_group_size
FROM sizes
GROUP BY c_nationkey
ORDER BY c_nationkey"""


# ---------------------------------------------------------------------------
# dq6 — Benford first-digit audit
# ---------------------------------------------------------------------------


def dq6_benford(spark: SparkSession, sf: str) -> DataFrame:
    """First-digit distribution of lineitem extended prices vs Benford
    expectation (operators/benford.py): per digit 1..9, observed count,
    e4-floored observed share, pre-floored expected share, and the signed
    deviation — the standard forensic screen for fabricated or truncated
    value columns, one scan + a 9-key groupBy."""
    from bioeco_portal_etl_spark.operators.benford import benford_audit

    li = T(spark, sf, "lineitem")
    return benford_audit(li, "l_extendedprice").orderBy("digit")


def _dq6_sql() -> str:
    from bioeco_portal_etl_spark.operators.benford import benford_oracle_sql

    return benford_oracle_sql(
        "SELECT l_extendedprice FROM lineitem", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# dq7 — whole-schema profile drift between snapshots
# ---------------------------------------------------------------------------

_DQ7_COLS = [
    ("o_custkey", "numeric"),
    ("o_orderpriority", "categorical"),
    ("o_orderstatus", "categorical"),
    ("o_totalprice", "numeric"),
]
_DQ7_CUT = "1995-01-01"


def dq7_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Column-profile drift between the pre-/post-{cut} order snapshots
    (operators/drift.py profile_drift): null count, cardinality, and
    numeric min/max/mean (exact DECIMAL sum) per column, long-format with
    per-metric deltas — the refresh-acceptance audit next to dq4's
    single-column PSI."""
    from bioeco_portal_etl_spark.operators.drift import profile_drift

    o = T(spark, sf, "orders")
    cut = F.lit(_DQ7_CUT).cast("timestamp")
    return profile_drift(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        _DQ7_COLS,
    )


dq7_profile_drift.__doc__ = dq7_profile_drift.__doc__.format(cut=_DQ7_CUT)


def _dq7_sql() -> str:
    from bioeco_portal_etl_spark.operators.drift import duck_profile_sql

    ref = (
        "(SELECT * FROM orders WHERE o_orderdate"
        f" < TIMESTAMP '{_DQ7_CUT} 00:00:00')"
    )
    cur = (
        "(SELECT * FROM orders WHERE o_orderdate"
        f" >= TIMESTAMP '{_DQ7_CUT} 00:00:00')"
    )
    return f"""
WITH r AS ({duck_profile_sql(ref, _DQ7_COLS, "ref_val")}),
c AS ({duck_profile_sql(cur, _DQ7_COLS, "cur_val")})
SELECT coalesce(r."column", c."column") AS "column",
       coalesce(r.metric, c.metric) AS metric,
       ref_val, cur_val,
       (cur_val - ref_val)::BIGINT AS delta
FROM r FULL OUTER JOIN c ON r."column" = c."column" AND r.metric = c.metric
ORDER BY "column", metric"""


# ---------------------------------------------------------------------------
# dq8 — watermark lateness accounting
# ---------------------------------------------------------------------------

_DQ8_DELAY = 300


def dq8_lateness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """ontime/late/dropped counts per event type under a {d}-second
    watermark (operators/lateness.py): arrival order = event_id, high-
    water mark = per-user running max event time of PRIOR arrivals — the
    measurement that picks a streaming delay before deploying it."""
    from bioeco_portal_etl_spark.operators.lateness import lateness_audit

    ev = T(spark, sf, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    return lateness_audit(
        ev, "user_id", "event_id", "ts", _DQ8_DELAY, group_col="event_type"
    ).orderBy("grp", "status")


dq8_lateness_audit.__doc__ = dq8_lateness_audit.__doc__.format(d=_DQ8_DELAY)


def _dq8_sql() -> str:
    from bioeco_portal_etl_spark.operators.lateness import duck_lateness_cte

    ctes = duck_lateness_cte(
        "events", "user_id", "event_id", "ts", _DQ8_DELAY, "event_type"
    )
    return f"""
WITH {ctes.lstrip()}
SELECT grp, status, n FROM lat ORDER BY grp, status"""


# ---------------------------------------------------------------------------
# dq9 — approximate-FD audit
# ---------------------------------------------------------------------------

_DQ9_PAIRS = [
    ("o_custkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderstatus", "o_orderpriority"),
]


def dq9_fd_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Does LHS determine RHS, and how badly not: for each candidate
    column pair over orders, the number of violating keys and the e6 row
    fraction a repair-to-majority mapping would keep (support_e6 =
    1e6 exactly iff the FD holds)."""
    from bioeco_portal_etl_spark.operators.quality import fd_audit

    o = T(spark, sf, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return fd_audit(o, _DQ9_PAIRS).orderBy("lhs_col", "rhs_col")


def _dq9_sql() -> str:
    from bioeco_portal_etl_spark.operators.quality import duck_fd_audit_sql

    body = duck_fd_audit_sql(
        "SELECT o_custkey, o_orderstatus, o_orderpriority FROM orders",
        _DQ9_PAIRS,
    )
    return f"SELECT * FROM ({body}\n) ORDER BY lhs_col, rhs_col"


# ---------------------------------------------------------------------------
# dq10 — l-diversity privacy audit
# ---------------------------------------------------------------------------


def dq10_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-2-diversity of order status within
    (o_orderpriority, order year) quasi-identifier groups, reported per
    priority: groups where every member shares ONE status are sensitive-
    attribute disclosures even when k-anonymity (dq5) passes."""
    from bioeco_portal_etl_spark.operators.anonymity import l_diversity_audit

    o = T(spark, sf, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderstatus",
    )
    return l_diversity_audit(
        o,
        ["o_orderpriority", "order_year"],
        "o_orderstatus",
        l=2,
        report_col="o_orderpriority",
    ).orderBy("o_orderpriority")


DQ10_SQL = """
WITH vc AS (
  SELECT o_orderpriority, year(o_orderdate) AS order_year, o_orderstatus,
         count(*) AS v_n
  FROM orders GROUP BY 1, 2, 3
),
g AS (
  SELECT o_orderpriority, order_year,
         sum(v_n) AS g_n, count(*) AS g_l, max(v_n) AS g_top
  FROM vc GROUP BY 1, 2
)
SELECT o_orderpriority,
       count(*)::BIGINT AS n_groups,
       sum(g_n)::BIGINT AS n_records,
       sum(CASE WHEN g_l < 2 THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
       sum(CASE WHEN g_l < 2 THEN g_n ELSE 0 END)::BIGINT AS n_risky_records,
       min(g_l)::BIGINT AS min_l,
       max((1000000 * g_top) // g_n)::BIGINT AS max_share_e6
FROM g GROUP BY o_orderpriority ORDER BY o_orderpriority"""


# ---------------------------------------------------------------------------
# dq11 — declarative expectations
# ---------------------------------------------------------------------------


def dq11_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Row-contract suite over orders, one scan: structural rules that
    must fully pass plus distribution rules that partially pass — the
    pass/fail gate a pipeline blocks on (operators/quality.py
    expectation_suite)."""
    from bioeco_portal_etl_spark.operators.quality import expectation_suite

    o = T(spark, sf, "orders")
    rules = [
        ("price_positive", F.col("o_totalprice") > 0),
        ("price_under_300k", F.col("o_totalprice") < 300000),
        (
            "priority_known",
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        ("custkey_present", F.col("o_custkey").isNotNull()),
        (
            "date_in_range",
            F.col("o_orderdate").between("1992-01-01", "2003-12-31"),
        ),
    ]
    return expectation_suite(o, rules).orderBy("check")


DQ11_SQL = """
WITH agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS p_price_positive,
         sum(CASE WHEN o_totalprice < 300000 THEN 1 ELSE 0 END)
           AS p_price_under_300k,
         sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
                                           '4-NOT SPECIFIED', '5-LOW')
                  THEN 1 ELSE 0 END) AS p_priority_known,
         sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
           AS p_custkey_present,
         sum(CASE WHEN CAST(o_orderdate AS DATE)
                       BETWEEN DATE '1992-01-01' AND DATE '2003-12-31'
                  THEN 1 ELSE 0 END) AS p_date_in_range
  FROM orders
),
stacked AS (
  SELECT 'price_positive' AS check_name, n, p_price_positive AS n_pass FROM agg
  UNION ALL
  SELECT 'price_under_300k', n, p_price_under_300k FROM agg
  UNION ALL
  SELECT 'priority_known', n, p_priority_known FROM agg
  UNION ALL
  SELECT 'custkey_present', n, p_custkey_present FROM agg
  UNION ALL
  SELECT 'date_in_range', n, p_date_in_range FROM agg
)
SELECT check_name AS "check", CAST(n AS BIGINT) AS n_rows,
       CAST(coalesce(n_pass, 0) AS BIGINT) AS n_pass,
       CAST(n - coalesce(n_pass, 0) AS BIGINT) AS n_fail,
       CASE WHEN n > 0
            THEN CAST((1000000 * n_pass) // n AS BIGINT) END AS pass_e6
FROM stacked ORDER BY "check" """


# ---------------------------------------------------------------------------
# dq12 — split stratification balance
# ---------------------------------------------------------------------------


def dq12_split_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Realized language mix of the deterministic 90/10 md5-bucket split
    vs the corpus mix (operators/balance.py) — skew_e6 = 0 means the
    split mirrors the corpus for that language."""
    from bioeco_portal_etl_spark.operators.balance import split_balance
    from bioeco_portal_etl_spark.operators.sampling import hash_bucket

    d = T(spark, sf, "documents").select(
        F.when(hash_bucket("doc_id") < 9000, F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
        F.col("lang").alias("stratum"),
    )
    return split_balance(d, "split", "stratum").orderBy("split", "stratum")


def _dq12_sql() -> str:
    from bioeco_portal_etl_spark.operators.balance import duck_split_balance

    # md5-hex first-8-chars -> int bucket, the dq3 oracle's mirror of
    # operators/sampling.hash_bucket
    bucket = (
        "list_reduce(list_transform(range(1, 9),"
        " i -> (strpos('0123456789abcdef',"
        " substr(md5(doc_id::VARCHAR), i, 1)) - 1)::BIGINT),"
        " (a, x) -> a * 16 + x) % 10000"
    )
    src = (
        f"SELECT CASE WHEN {bucket} < 9000 THEN 'train' ELSE 'val' END"
        " AS split, lang AS stratum FROM documents"
    )
    body = duck_split_balance(src)
    return f"""
WITH {body}
SELECT split, stratum, n, share_e6, corpus_share_e6, skew_e6
FROM sbal ORDER BY split, stratum"""


# ---------------------------------------------------------------------------
# dq13 — duplicate burden
# ---------------------------------------------------------------------------


def dq13_duplicate_burden(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language redundant-volume share under the 100-char
    prefix-fingerprint cluster key (the gr6/dq3 blocking convention;
    the synthetic corpus plants prefix dups, not byte dups) —
    operators/quality.py duplicate_burden weighted by n_chars."""
    from bioeco_portal_etl_spark.operators.quality import duplicate_burden

    d = T(spark, sf, "documents").select(
        F.coalesce("lang", F.lit("und")).alias("lang"),
        "doc_id",
        F.substring(F.coalesce("text", F.lit("")), 1, 100).alias("fp"),
        "n_chars",
    )
    return duplicate_burden(d, "lang", "doc_id", "fp", "n_chars").orderBy(
        "grp"
    )


def _dq13_sql() -> str:
    from bioeco_portal_etl_spark.operators.quality import duck_duplicate_burden

    body = duck_duplicate_burden(
        "SELECT coalesce(lang, 'und') AS grp, doc_id AS id,"
        " substr(coalesce(text, ''), 1, 100) AS text,"
        " n_chars AS sz FROM documents"
    )
    return f"""
WITH {body}
SELECT grp, n_docs, n_dup_excess, size_total, size_excess, burden_e6
FROM dburden ORDER BY grp"""


# ---------------------------------------------------------------------------
# dq14 — expectation drift across a time boundary
# ---------------------------------------------------------------------------


def dq14_expectation_drift(spark: SparkSession, sf: str) -> DataFrame:
    """The dq11 rule set evaluated on orders BEFORE vs FROM 1998-01-01,
    per-rule pass rates and signed deltas — one scan, slice-conditional
    sums (operators/quality.py expectation_suite run per slice)."""
    from bioeco_portal_etl_spark.operators.quality import expectation_suite

    o = T(spark, sf, "orders").withColumn(
        "__slice",
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("1998-01-01"),
            F.lit("a"),
        ).otherwise(F.lit("b")),
    )
    rules = [
        ("price_positive", F.col("o_totalprice") > 0),
        ("price_under_300k", F.col("o_totalprice") < 300_000),
        ("priority_known", F.col("o_orderpriority").isNotNull()),
        ("custkey_present", F.col("o_custkey").isNotNull()),
    ]
    a = expectation_suite(o.filter(F.col("__slice") == "a"), rules).select(
        "check",
        F.col("n_rows").alias("n_a"),
        F.col("pass_e6").alias("pass_a_e6"),
    )
    b = expectation_suite(o.filter(F.col("__slice") == "b"), rules).select(
        "check",
        F.col("n_rows").alias("n_b"),
        F.col("pass_e6").alias("pass_b_e6"),
    )
    return (
        a.join(b, "check")
        .select(
            "check",
            "n_a",
            "pass_a_e6",
            "n_b",
            "pass_b_e6",
            (F.col("pass_b_e6") - F.col("pass_a_e6")).alias("delta_e6"),
        )
        .orderBy("check")
    )


def _dq14_sql() -> str:
    rules = [
        ("price_positive", "o_totalprice > 0"),
        ("price_under_300k", "o_totalprice < 300000"),
        ("priority_known", "o_orderpriority IS NOT NULL"),
        ("custkey_present", "o_custkey IS NOT NULL"),
    ]
    cells = []
    for name, pred in rules:
        cells.append(
            f"SELECT '{name}' AS check_name,"
            f" sum(CASE WHEN sl = 'a' THEN 1 ELSE 0 END) AS n_a,"
            f" sum(CASE WHEN sl = 'a' AND ({pred}) THEN 1 ELSE 0 END) AS p_a,"
            f" sum(CASE WHEN sl = 'b' THEN 1 ELSE 0 END) AS n_b,"
            f" sum(CASE WHEN sl = 'b' AND ({pred}) THEN 1 ELSE 0 END) AS p_b"
            f" FROM sliced"
        )
    u = " UNION ALL ".join(cells)
    return f"""
WITH sliced AS (
  SELECT *, CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                 THEN 'a' ELSE 'b' END AS sl
  FROM orders
),
cells AS ({u})
SELECT check_name AS "check",
       CAST(n_a AS BIGINT) AS n_a,
       CASE WHEN n_a > 0
            THEN CAST((1000000 * p_a) // n_a AS BIGINT) END AS pass_a_e6,
       CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN n_b > 0
            THEN CAST((1000000 * p_b) // n_b AS BIGINT) END AS pass_b_e6,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST((1000000 * p_b) // n_b AS BIGINT)
           - CAST((1000000 * p_a) // n_a AS BIGINT) END AS delta_e6
FROM cells ORDER BY "check" """


# ---------------------------------------------------------------------------
# dq15 — candidate-key discovery
# ---------------------------------------------------------------------------

_KEY_CANDIDATES = [
    ["o_orderkey"],
    ["o_custkey"],
    ["o_custkey", "o_orderdate"],
    ["o_orderstatus", "o_orderpriority"],
]


def dq15_key_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Uniqueness profile of four candidate key sets over orders —
    operators/quality.py key_discovery."""
    from bioeco_portal_etl_spark.operators.quality import key_discovery

    o = T(spark, sf, "orders")
    return key_discovery(o, _KEY_CANDIDATES).orderBy("candidate")


def _dq15_sql() -> str:
    from bioeco_portal_etl_spark.operators.quality import duck_key_discovery

    body = duck_key_discovery("SELECT * FROM orders", _KEY_CANDIDATES)
    return f"""
SELECT * FROM ({body}) ORDER BY candidate"""


# ---------------------------------------------------------------------------
# dq16 — identifier-sequence gap audit
# ---------------------------------------------------------------------------


def dq16_id_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """One-row completeness report over o_orderkey: (n_ids, min_id,
    max_id, n_missing, n_gap_runs, max_gap) — missing = holes in
    [min, max]; a gap run is a maximal missing stretch (lag deltas > 1
    on the DISTINCT sorted ids; the window sees ndv rows, and at 100 TB
    the same lag runs per range-partition with boundary stitching)."""
    ids = (
        T(spark, sf, "orders")
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    w = Window.orderBy("id")
    d = ids.select(
        "id", (F.col("id") - F.lag("id").over(w)).alias("delta")
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
        (F.max("id") - F.min("id") + 1 - F.count(F.lit(1)))
        .cast("long")
        .alias("n_missing"),
        F.sum((F.col("delta") > 1).cast("long")).cast("long").alias(
            "n_gap_runs"
        ),
        F.coalesce(F.max(F.col("delta") - 1), F.lit(0))
        .cast("long")
        .alias("max_gap"),
    )


def _dq16_sql() -> str:
    return """
WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders),
d AS (
  SELECT id, id - lag(id) OVER (ORDER BY id) AS delta FROM ids
)
SELECT count(*)::BIGINT AS n_ids,
       min(id)::BIGINT AS min_id,
       max(id)::BIGINT AS max_id,
       (max(id) - min(id) + 1 - count(*))::BIGINT AS n_missing,
       sum(CASE WHEN delta > 1 THEN 1 ELSE 0 END)::BIGINT AS n_gap_runs,
       coalesce(max(delta - 1), 0)::BIGINT AS max_gap
FROM d"""


# ---------------------------------------------------------------------------
# dq17 — freshness lag
# ---------------------------------------------------------------------------

_DQ17_STALE_US = 43_200_000_000  # 12 h


def dq17_freshness_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type dormancy: the last observed event time against the
    corpus high-water mark, with a 12-hour staleness flag — the
    ingestion-freshness SLA board (a silent dead producer shows up here
    long before any value-level check fires). One combinable aggregate
    per type plus a 1-row broadcast of the global maximum."""
    e = T(spark, sf, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    per_type = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts_us").alias("last_us"),
    )
    hwm = e.agg(F.max("ts_us").alias("hwm_us"))
    return (
        per_type.crossJoin(hwm)
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("last_us").cast("long").alias("last_us"),
            (F.col("hwm_us") - F.col("last_us")).cast("long").alias("lag_us"),
            F.when(
                F.col("hwm_us") - F.col("last_us") > _DQ17_STALE_US, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("is_stale"),
        )
        .orderBy("event_type")
    )


_DQ17_SQL = f"""
WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
per_type AS (
  SELECT event_type, count(*)::BIGINT AS n_events,
         max(ts_us)::BIGINT AS last_us
  FROM e GROUP BY event_type
),
hwm AS (SELECT max(ts_us)::BIGINT AS hwm_us FROM e)
SELECT event_type, n_events, last_us,
       (hwm_us - last_us)::BIGINT AS lag_us,
       CASE WHEN hwm_us - last_us > {_DQ17_STALE_US} THEN 1 ELSE 0 END::BIGINT
         AS is_stale
FROM per_type CROSS JOIN hwm
ORDER BY event_type"""


CATALOG = {
    "dq1_profile": (dq1_profile, DQ1_SQL),
    "dq2_referential": (dq2_referential, DQ2_SQL),
    "dq3_split_leakage": (dq3_split_leakage, _dq3_sql()),
    "dq4_psi_drift": (dq4_psi_drift, DQ4_SQL),
    "dq5_k_anonymity": (dq5_k_anonymity, DQ5_SQL),
    "dq6_benford": (dq6_benford, _dq6_sql()),
    "dq7_profile_drift": (dq7_profile_drift, _dq7_sql()),
    "dq8_lateness_audit": (dq8_lateness_audit, _dq8_sql()),
    "dq9_fd_violations": (dq9_fd_violations, _dq9_sql()),
    "dq10_l_diversity": (dq10_l_diversity, DQ10_SQL),
    "dq11_expectations": (dq11_expectations, DQ11_SQL),
    "dq12_split_balance": (dq12_split_balance, _dq12_sql()),
    "dq13_duplicate_burden": (dq13_duplicate_burden, _dq13_sql()),
    "dq14_expectation_drift": (dq14_expectation_drift, _dq14_sql()),
    "dq15_key_discovery": (dq15_key_discovery, _dq15_sql()),
    "dq16_id_gaps": (dq16_id_gaps, _dq16_sql()),
    "dq17_freshness_lag": (dq17_freshness_lag, _DQ17_SQL),
}

"""Market-basket association rules — support / confidence / lift over
co-purchased item pairs.

The classic retail-analytics operator (Agrawal-Srikant's Apriori level-2
pass): for item pairs (a, b) appearing in the same basket, report

    support_ab   = #baskets containing both
    confidence   = support_ab / support_a     (how often a implies b)
    lift         = support_ab * N / (support_a * support_b)
                   (how much more often than independence predicts)

Scale shape: the pair generation is a self-join WITHIN basket — output
is sum over baskets of C(basket_size, 2), bounded by the basket-size
cap, never |items|^2 (baskets are small; the TPC-H-style order fixture
caps at 7 lines). A ``min_support`` cut applies BEFORE the metric joins
so the per-item support table both joins broadcast. All metrics are e6
integers (floor division), exact on any engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_support_per: int | None = None,
) -> DataFrame:
    """(item_a, item_b, support_ab, support_a, support_b, conf_ab_e6,
    conf_ba_e6, lift_e6): level-2 association rules with e6 integer
    metrics, pairs below ``min_support`` dropped before the metric
    joins. The per-item support table is item-cardinality-sized and
    broadcast into both enrichment joins.

    ``min_support_per`` additionally requires ``support_ab *
    min_support_per >= n_baskets`` — the textbook RELATIVE support form
    (a 1/min_support_per basket fraction) in exact integer arithmetic.
    An absolute-only cut is scale-dependent in both directions: too
    high and small corpora return nothing, too low and it stops
    bounding the pair tail as baskets grow (the round-8 sweep finding
    on x35)."""
    # ONE deduped basket-item table feeds all three consumers (pairs,
    # per-item supports, basket count) — persisted so the upstream scan
    # and distinct run once, not three times (the pagerank edges lesson)
    items = (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        .persist()
    )
    n_baskets = items.select(
        F.countDistinct("basket").alias("n_baskets")
    )
    supp = items.groupBy("item").agg(F.count(F.lit(1)).alias("support"))
    a = items.withColumnRenamed("item", "item_a")
    b = items.withColumnRenamed("item", "item_b")
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support_ab"))
    )
    if min_support_per is not None:
        pairs = (
            pairs.crossJoin(n_baskets)
            .filter(
                (F.col("support_ab") >= min_support)
                & (
                    F.col("support_ab") * F.lit(min_support_per)
                    >= F.col("n_baskets")
                )
            )
            .drop("n_baskets")
        )
    else:
        pairs = pairs.filter(F.col("support_ab") >= min_support)
    sa = supp.select(
        F.col("item").alias("item_a"), F.col("support").alias("support_a")
    )
    sb = supp.select(
        F.col("item").alias("item_b"), F.col("support").alias("support_b")
    )
    return (
        pairs.join(sa, "item_a")
        .join(sb, "item_b")
        .crossJoin(n_baskets)
        .select(
            "item_a",
            "item_b",
            "support_ab",
            "support_a",
            "support_b",
            F.expr("CAST((1000000 * support_ab) div support_a AS BIGINT)").alias(
                "conf_ab_e6"
            ),
            F.expr("CAST((1000000 * support_ab) div support_b AS BIGINT)").alias(
                "conf_ba_e6"
            ),
            F.expr(
                "CAST((1000000 * support_ab * n_baskets)"
                " div (support_a * support_b) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )


def duck_association_rules(
    source_sql: str, min_support: int = 2, min_support_per: int | None = None
) -> str:
    """DuckDB CTE body mirroring :func:`association_rules`; exposes
    ``rules(...)``. ``source_sql`` must project (basket, item)."""
    rel = (
        f" AND count(*) * {min_support_per} >="
        " (SELECT n_baskets FROM __mb_n)"
        if min_support_per is not None
        else ""
    )
    return f"""__mb_items AS (
  SELECT DISTINCT basket, item FROM ({source_sql})
),
__mb_n AS (SELECT count(DISTINCT basket) AS n_baskets FROM __mb_items),
__mb_supp AS (
  SELECT item, count(*) AS support FROM __mb_items GROUP BY item
),
__mb_pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS support_ab
  FROM __mb_items a JOIN __mb_items b
    ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {min_support}{rel}
),
rules AS (
  SELECT p.item_a, p.item_b,
         p.support_ab::BIGINT AS support_ab,
         sa.support::BIGINT AS support_a,
         sb.support::BIGINT AS support_b,
         CAST((1000000 * p.support_ab) // sa.support AS BIGINT) AS conf_ab_e6,
         CAST((1000000 * p.support_ab) // sb.support AS BIGINT) AS conf_ba_e6,
         CAST((1000000 * p.support_ab * n.n_baskets)
              // (sa.support * sb.support) AS BIGINT) AS lift_e6
  FROM __mb_pairs p
  JOIN __mb_supp sa ON sa.item = p.item_a
  JOIN __mb_supp sb ON sb.item = p.item_b
  CROSS JOIN __mb_n n
)"""

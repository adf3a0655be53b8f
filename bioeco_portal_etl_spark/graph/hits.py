"""HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources in
a hyperlinked environment") — the second classic link-analysis scorer
next to PageRank, natural on BIPARTITE graphs: in a customer→supplier
purchase graph, a good HUB is a customer who buys from authoritative
suppliers, and a good AUTHORITY is a supplier bought by good hubs. The
mutual recursion

    a(v) = Σ_{u→v} h(u)        h(u) = Σ_{u→v} a(v)

converges under normalization; the engine-exact variant normalizes each
half-step by the MAX score to e6 fixed point (floor) instead of the L2
norm — max is an exact integer aggregate, sqrt is not, and max-scaled
HITS has the same fixed-point ranking (both scalings are positive
multiples per iteration).

Plan shape per half-step (the PageRank recipe, graph/pagerank.py): the
O(E) edge list is shuffled ONCE on each side's key and reused; each
iteration shuffles only the O(V) score table; the max is a scalar
aggregate broadcast back into the floor expression. Iterations are a
fixed small count (rank stability arrives in a handful on real graphs;
the count is part of the operator contract, like gr7's LPA rounds).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """(node, side, score_e6) after ``iterations`` full a/h rounds over a
    DIRECTED edge list (src, dst) — ``side`` is 'hub' (appears as src) or
    'auth' (appears as dst); a node appearing on both sides gets two
    rows, matching the bipartite reading. Initial hub scores are 1e6.

    The O(V) hub/auth score tables and the one-row scalar maxima are
    broadcast into the per-half-step joins (guide §3.1)."""

    # a production caller persists the distinct edge list across the
    # 2 * iterations references (as pagerank does);
    # the fixed-iteration plan here stays declarative so Catalyst sees
    # the whole tree and the catalog's plan pins stay inspectable
    e = edges.select("src", "dst").distinct()
    hubs = e.select("src").distinct().select(
        "src", F.lit(1_000_000).cast("long").alias("h_e6")
    )
    auths = None
    for _ in range(iterations):
        a_raw = (
            # scores are O(V), broadcast so the edge list never shuffles:
            # without the hint gr9 plans 30 SortMergeJoins
            e.join(F.broadcast(hubs), "src")
            .groupBy("dst")
            .agg(F.sum("h_e6").alias("__a"))
        )
        a_max = a_raw.agg(F.max("__a").alias("__m"))
        auths = (
            a_raw.crossJoin(a_max)
            .select(
                "dst",
                F.expr(
                    "CAST(floor(1e6 * __a / __m) AS BIGINT)"
                ).alias("a_e6"),
            )
        )
        h_raw = (
            # without the hint gr9 plans 14 SortMergeJoins
            e.join(F.broadcast(auths), "dst")
            .groupBy("src")
            .agg(F.sum("a_e6").alias("__h"))
        )
        h_max = h_raw.agg(F.max("__h").alias("__m"))
        hubs = (
            h_raw.crossJoin(h_max)
            .select(
                "src",
                F.expr(
                    "CAST(floor(1e6 * __h / __m) AS BIGINT)"
                ).alias("h_e6"),
            )
        )
    out = hubs.select(
        F.col("src").alias("node"),
        F.lit("hub").alias("side"),
        F.col("h_e6").alias("score_e6"),
    ).unionByName(
        auths.select(
            F.col("dst").alias("node"),
            F.lit("auth").alias("side"),
            F.col("a_e6").alias("score_e6"),
        )
    )
    return out


def duck_hits(edges_select: str, iterations: int = 2) -> str:
    """DuckDB mirror: unrolled a/h half-steps with max normalization;
    exposes ``hitsr(node, side, score_e6)``."""
    parts = [
        f"eraw AS ({edges_select})",
        "e AS (SELECT DISTINCT src, dst FROM eraw)",
        "h0 AS (SELECT DISTINCT src, 1000000::BIGINT AS h_e6 FROM e)",
    ]
    prev_h = "h0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""ar{i} AS (
  SELECT dst, sum(h_e6)::BIGINT AS a FROM e JOIN {prev_h} USING (src)
  GROUP BY dst
),
a{i} AS (
  SELECT dst, CAST(floor(1e6 * a / (SELECT max(a) FROM ar{i})) AS BIGINT)
           AS a_e6
  FROM ar{i}
),
hr{i} AS (
  SELECT src, sum(a_e6)::BIGINT AS h FROM e JOIN a{i} USING (dst)
  GROUP BY src
),
h{i} AS (
  SELECT src, CAST(floor(1e6 * h / (SELECT max(h) FROM hr{i})) AS BIGINT)
           AS h_e6
  FROM hr{i}
)"""
        )
        prev_h = f"h{i}"
    parts.append(
        f"""hitsr AS (
  SELECT src AS node, 'hub' AS side, h_e6 AS score_e6 FROM h{iterations}
  UNION ALL
  SELECT dst AS node, 'auth' AS side, a_e6 AS score_e6 FROM a{iterations}
)"""
    )
    return ",\n".join(parts)

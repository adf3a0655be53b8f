"""Rich-club coefficient: do high-degree nodes preferentially link to
each other? (Zhou & Mondragón 2004; Colizza et al. 2006.) For each
degree threshold k, φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts nodes
of degree > k and E_k the edges among them — φ(k) → 1 means the hubs
form a near-clique (the "rich club"), a structural property that
changes how hub-capped algorithms (gr17's wedge cap, node-similarity's
hub guard) behave on the graph.

Plan shape: one degree table, edges annotated with BOTH endpoint
degrees via two broadcast-joins of the (node, deg) dimension, then ONE
pass over (edges × |ks|) via a broadcast threshold table — group by k,
count edges with min(deg_u, deg_v) > k. Node counts per k come from the
degree table the same way. No quadratic anything; |ks| is a small
constant.

Exactness: φ surfaces as integer e6 with the n ≥ 2 guard (an empty or
singleton club has no defined density — NULL, the abtest convention).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def rich_club(edges: DataFrame, ks: list[int]) -> DataFrame:
    """(k, n_nodes, n_edges, phi_e6) per threshold in ``ks``. ``edges``
    is an undirected (src, dst) list; canonicalized and deduplicated
    here. The node-sized degree lookups and the constant-sized |ks|-row
    threshold and per-k aggregate tables are broadcast (guide §3.1)."""
    e = edges.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")))
    ann = e.join(du, "u").join(dv, "v")
    kt = edges.sparkSession.createDataFrame(
        [(int(k),) for k in ks], "k long"
    )
    ek = (
        ann.crossJoin(F.broadcast(kt))
        .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    nk = (
        deg.crossJoin(F.broadcast(kt))
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        kt.join(F.broadcast(nk), "k", "left")
        .join(F.broadcast(ek), "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.expr(
                "CASE WHEN coalesce(n_nodes, 0) >= 2 THEN"
                " CAST((2000000 * coalesce(n_edges, 0))"
                " div (n_nodes * (n_nodes - 1)) AS BIGINT) END"
            ).alias("phi_e6"),
        )
    )


def duck_rich_club(edges_select: str, ks: list[int]) -> str:
    """DuckDB CTE body mirroring :func:`rich_club`; exposes
    ``rc(k, n_nodes, n_edges, phi_e6)``."""
    kvals = ", ".join(f"({int(k)})" for k in ks)
    return f"""__rc_e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({edges_select}) WHERE src <> dst
),
__rc_deg AS (
  SELECT node, count(*)::BIGINT AS deg
  FROM (SELECT u AS node FROM __rc_e UNION ALL SELECT v FROM __rc_e)
  GROUP BY node
),
__rc_ann AS (
  SELECT e.u, e.v, a.deg AS du, b.deg AS dv
  FROM __rc_e e
  JOIN __rc_deg a ON a.node = e.u
  JOIN __rc_deg b ON b.node = e.v
),
__rc_k (k) AS (VALUES {kvals}),
__rc_ek AS (
  SELECT k.k, count(*)::BIGINT AS n_edges
  FROM __rc_ann a JOIN __rc_k k ON a.du > k.k AND a.dv > k.k
  GROUP BY k.k
),
__rc_nk AS (
  SELECT k.k, count(*)::BIGINT AS n_nodes
  FROM __rc_deg d JOIN __rc_k k ON d.deg > k.k
  GROUP BY k.k
),
rc AS (
  SELECT k.k, coalesce(n.n_nodes, 0)::BIGINT AS n_nodes,
         coalesce(e.n_edges, 0)::BIGINT AS n_edges,
         CASE WHEN coalesce(n.n_nodes, 0) >= 2 THEN
           CAST((2000000 * coalesce(e.n_edges, 0))
                // (n.n_nodes * (n.n_nodes - 1)) AS BIGINT) END AS phi_e6
  FROM __rc_k k
  LEFT JOIN __rc_nk n ON n.k = k.k
  LEFT JOIN __rc_ek e ON e.k = k.k
)"""

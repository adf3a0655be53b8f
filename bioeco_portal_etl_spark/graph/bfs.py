"""Bounded-hop BFS reach: minimum hop distance from a seed set, up to k
hops — the "blast radius" / influence-neighborhood query (which entities
sit within N links of a flagged set), the third classic graph shape after
centrality (pagerank) and clustering (triangles).

Pregel superstep as joins, like pagerank: each hop joins the CURRENT
distance table to the edge list (partitioned once on src, persisted) and
folds with ``groupBy(node).min(dist)`` — the min-label propagation that
text/dedupe.py's connected components also uses, but bounded at k
supersteps instead of run-to-convergence. Distance table stays O(reached
nodes); the edge list never re-shuffles after the initial partition.

Pure integers — DuckDB mirrors with a depth-bounded recursive CTE.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def khop_reach(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    persist_edges: bool = True,
) -> DataFrame:
    """(node, dist) for every node within ``k`` hops of any seed;
    dist = minimum hop count (0 for the seeds themselves).

    The per-hop distance table, O(reached nodes), is broadcast into the
    edge join so the persisted edge frame never moves (guide §3.1)."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    # single-exchange dedupe + src layout (round-12, guide §2.4)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )
    if persist_edges:
        e = e.persist()
    dist = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
        "dist", F.lit(0)
    )
    for i in range(1, k + 1):
        # O(reached) frontier broadcast: the persisted edges never move
        # (round-12, guide §3.1)
        rhs = F.broadcast(dist.withColumnRenamed("node", "src"))
        frontier = (
            e.join(rhs, "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.filter(F.col("dist") <= k)


def duck_khop(edges_select: str, seeds_select: str, k: int) -> str:
    """DuckDB CTE body mirroring :func:`khop_reach`; exposes
    ``reach(node, dist)``. ``edges_select`` projects ``src, dst``;
    ``seeds_select`` projects ``node``. Embed under ``WITH RECURSIVE``.

    UNION (set semantics), NOT UNION ALL: the recursion state stays the
    distinct (node, dist) pairs — <= V*(k+1) rows — where path-wise UNION
    ALL would enumerate every walk (V * avg_deg^k rows on a cyclic
    co-occurrence graph)."""
    return f"""
eraw AS ({edges_select}),
e AS (SELECT DISTINCT src, dst FROM eraw),
walk AS (
  SELECT node, 0 AS dist FROM ({seeds_select})
  UNION
  SELECT e.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < {k}
),
reach AS (
  SELECT node, min(dist) AS dist FROM walk GROUP BY node
)"""

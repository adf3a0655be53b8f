"""Bounded-round weighted shortest paths (multi-source Bellman-Ford).

This module answers "how CHEAP is the best route" over weighted edges,
the primitive behind latency-weighted reachability, cost-bounded
influence, and routing-table seeds; with every weight 1 it answers "how
many HOPS away" (k-hop BFS reach, gr3; oracle in graph/bfs.py).
Dijkstra's priority queue is inherently sequential; the data-parallel
formulation is Bellman-Ford relaxation, which is just a fixed number of
supersteps of

    cand  = dist JOIN edges ON node = src      -- shuffle on src
    relax = (cand UNION dist).groupBy(node).min -- partial-combinable MIN

i.e. the same two-shuffle Pregel lowering as pagerank/hyperball. Each
round moves O(|reached| * avg_degree) rows; state is one (node, dist)
row per reached node. ``rounds`` bounds path LENGTH (edges), so the
result after r rounds is exactly "cheapest path using <= r edges" — a
well-defined operator in its own right (bounded-cost reach), not merely
an unconverged approximation.

Exactness: weights and distances are BIGINT throughout; MIN is
order-independent, so the unrolled DuckDB mirror matches bit-for-bit.
Ties need no tiebreak — MIN over equal values is the value.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.operators.fixpoint import iterate


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
) -> DataFrame:
    """(node, dist): cheapest path cost from any source using at most
    ``rounds`` edges. ``edges`` must carry (src, dst, w) with BIGINT
    nonnegative w; ``sources`` must carry (node). Unreached nodes are
    absent (no infinity sentinel rows). Raises ``ValueError`` on
    ``rounds < 0``.

    The per-round distance table, O(reached nodes), is broadcast into the
    edge join (guide §3.1)."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    if rounds > 1:
        # every round joins these rows; materializing them once is one job
        # fewer and faster than re-deriving them per round (gr3 at sf0.1)
        e = e.localCheckpoint(eager=True)
    dist = sources.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )

    def step(dist: DataFrame) -> DataFrame:
        # without the hint gr3 and gr12 broadcast the checkpointed edge list instead
        rhs = F.broadcast(dist.withColumnRenamed("node", "src"))
        cand = e.join(rhs, "src").select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    return iterate(dist, step, rounds=rounds)


def duck_sssp(edges_select: str, sources_select: str, rounds: int) -> str:
    """DuckDB CTE body mirroring :func:`sssp_bounded`; exposes
    ``sssp(node, dist)``. Every round is MATERIALIZED — default CTE
    inlining re-expands the previous round into each reference and the
    unrolled plan explodes combinatorially (the k-core lesson)."""
    parts = [
        f"__sp_e AS MATERIALIZED (SELECT src, dst, CAST(w AS BIGINT) AS w"
        f" FROM ({edges_select}))",
        f"""__sp_d0 AS MATERIALIZED (
  SELECT node, CAST(0 AS BIGINT) AS dist
  FROM (SELECT DISTINCT node FROM ({sources_select}))
)""",
    ]
    for i in range(rounds):
        parts.append(
            f"""__sp_d{i + 1} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM __sp_d{i}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM __sp_d{i} d JOIN __sp_e e ON e.src = d.node
  ) GROUP BY node
)"""
        )
    parts.append(f"sssp AS (SELECT node, dist FROM __sp_d{rounds})")
    return ",\n".join(parts)

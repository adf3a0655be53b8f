"""Bounded-hop BFS reach oracle: minimum hop distance from a seed set, up
to k hops — the "blast radius" / influence-neighborhood query (which
entities sit within N links of a flagged set).

The Spark side is graph/sssp.sssp_bounded with every edge weight 1:
k rounds of Bellman-Ford relaxation are exactly k BFS supersteps, so
hop reach needs no kernel of its own (gr3). This module keeps the DuckDB
mirror, a depth-bounded recursive CTE over pure integers.
"""

from __future__ import annotations


def duck_khop(edges_select: str, seeds_select: str, k: int) -> str:
    """DuckDB CTE body for k-hop reach (``sssp_bounded`` with unit
    weights and ``rounds=k``); exposes
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

"""Triangle counting via degree orientation (Suri & Vassilvitskii, WWW
2011 — "Counting triangles and the curse of the last reducer").

The naive wedge join (edges ⋈ edges on the middle vertex) explodes on
high-degree hubs: a degree-d node emits d^2 wedges, and one celebrity
vertex serializes the job. Orienting each undirected edge from its
LOWER-degree endpoint to its higher (ties by id) bounds every out-degree
by O(sqrt(E)), so the wedge join emits at most E^{3/2} pairs total no
matter how skewed the degree distribution — the standard MR/Spark
triangle plan.

Plan: degrees (one groupBy) -> oriented edge list -> wedge self-join on
the common LOW endpoint -> hash-join wedges against the oriented edge set
to close them. Three shuffles, all on edge keys, no windows, no driver
state. Pure integer arithmetic — DuckDB mirrors it exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.graph.undirected import canonical


def _degrees_and_orientation(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(node, deg) over the canonical edges ``und``, and each edge oriented
    (lo, hi) from its (deg, id)-lexicographically smaller endpoint. The
    degree table is node-sized, so both endpoint lookups are broadcast
    and the edge frame never shuffles for orientation (round-12, guide
    §3.1)."""
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # without either hint gr2, gr18 and gr21 plan 2 more SortMergeJoins
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")))  # without it: 2 more SortMergeJoins
    o = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    return deg, o


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One-row graph summary: (n_nodes, n_edges, n_wedges, n_triangles).

    n_wedges counts paths of length 2 in the ORIENTED graph (the join's
    actual intermediate cardinality — the quantity degree orientation
    bounds), so the row doubles as a plan-cost witness.
    """
    # ONE materialization of the canonical edge set: every downstream
    # branch (degrees, orientation, wedge closure, the count row) re-reads
    # the cached edges instead of replaying the upstream lineage — without
    # this the 4-way stats row re-derives the source scan ~12x.
    und = canonical(edges).persist()
    deg, o = _degrees_and_orientation(und)
    # wedges around the common low endpoint; (x < y) counts each unordered
    # wedge once
    e1 = o.select(F.col("lo").alias("c"), F.col("hi").alias("x"))
    e2 = o.select(F.col("lo").alias("c"), F.col("hi").alias("y"))
    wedges = e1.join(e2, "c").filter(F.col("x") < F.col("y"))
    # close wedges and count them in the SAME pass: a left semi-ish flag
    # join against the edge set, then one agg — the expensive E^{3/2}
    # wedge stream is enumerated exactly once.
    closed_flag = wedges.join(
        und.select(
            F.col("u").alias("x"), F.col("v").alias("y"), F.lit(1).alias("__hit")
        ),
        ["x", "y"],
        "left",
    )
    # outer coalesce: sum over ZERO wedges (acyclic graph) is null, the
    # contract (and the oracle's count(*)) says 0
    wagg = closed_flag.agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.coalesce(F.sum(F.coalesce("__hit", F.lit(0))), F.lit(0)).alias(
            "n_triangles"
        ),
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(wagg)
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998):
    (node, deg, n_tri, lcc_e6) for every node with deg >= 2, where
    lcc_e6 = (2e6 · T(v)) div (deg·(deg-1)) and T(v) counts triangles
    through v.

    Same degree-oriented wedge plan as :func:`triangle_stats` (each
    triangle enumerated ONCE), then each closed wedge fans out its three
    corners — a 3× explode of the triangle stream, not a new join — and
    one combinable count per node. Integer arithmetic throughout."""
    und = canonical(edges).persist()
    deg, o = _degrees_and_orientation(und)
    e1 = o.select(F.col("lo").alias("c"), F.col("hi").alias("x"))
    e2 = o.select(F.col("lo").alias("c"), F.col("hi").alias("y"))
    wedges = e1.join(e2, "c").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        und.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
    )
    tri_nodes = closed.select(
        F.explode(F.array("c", "x", "y")).alias("node")
    )
    per_node = tri_nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_tri")
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST((2000000 * coalesce(n_tri, 0))"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("lcc_e6"),
        )
    )


def duck_local_clustering(edges_select: str) -> str:
    """DuckDB CTE body mirroring :func:`local_clustering`; exposes
    ``lcc(node, deg, n_tri, lcc_e6)``. ``edges_select`` must project
    ``src, dst``."""
    return f"""
eraw AS ({edges_select}),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM eraw WHERE src <> dst
),
deg AS (
  SELECT node, count(*)::BIGINT AS deg
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS lo,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS hi
  FROM und
  JOIN deg du ON du.node = und.u
  JOIN deg dv ON dv.node = und.v
),
wedges AS (
  SELECT e1.c, e1.x, e2.y
  FROM (SELECT lo AS c, hi AS x FROM o) e1
  JOIN (SELECT lo AS c, hi AS y FROM o) e2 ON e1.c = e2.c AND e1.x < e2.y
),
closed AS (
  SELECT w.c, w.x, w.y FROM wedges w JOIN und ON und.u = w.x AND und.v = w.y
),
tri_nodes AS (
  SELECT c AS node FROM closed
  UNION ALL SELECT x FROM closed
  UNION ALL SELECT y FROM closed
),
per_node AS (
  SELECT node, count(*)::BIGINT AS n_tri FROM tri_nodes GROUP BY node
),
lcc AS (
  SELECT d.node, d.deg,
         coalesce(p.n_tri, 0)::BIGINT AS n_tri,
         CAST((2000000 * coalesce(p.n_tri, 0))
              // (d.deg * (d.deg - 1)) AS BIGINT) AS lcc_e6
  FROM deg d LEFT JOIN per_node p USING (node)
  WHERE d.deg >= 2
)"""


def duck_triangles(edges_select: str) -> str:
    """DuckDB CTE body mirroring :func:`triangle_stats`; exposes
    ``tri(n_nodes, n_edges, n_wedges, n_triangles)``. ``edges_select``
    must project ``src, dst``."""
    return f"""
eraw AS ({edges_select}),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM eraw WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS lo,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS hi
  FROM und
  JOIN deg du ON du.node = und.u
  JOIN deg dv ON dv.node = und.v
),
wedges AS (
  SELECT e1.c, e1.x, e2.y
  FROM (SELECT lo AS c, hi AS x FROM o) e1
  JOIN (SELECT lo AS c, hi AS y FROM o) e2 ON e1.c = e2.c AND e1.x < e2.y
),
closed AS (
  SELECT w.c FROM wedges w JOIN und ON und.u = w.x AND und.v = w.y
),
tri AS (
  SELECT (SELECT count(*) FROM deg) AS n_nodes,
         (SELECT count(*) FROM und) AS n_edges,
         (SELECT count(*) FROM wedges) AS n_wedges,
         (SELECT count(*) FROM closed) AS n_triangles
)"""


def edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support histogram: support(e) = number of
    triangles containing e; support-0 edges are LOCAL BRIDGES
    (Granovetter's weak ties — removing one disconnects its endpoints'
    neighborhoods), the classic community-boundary signal and the
    backbone of truss decomposition.

    Same oriented wedge enumeration as :func:`triangle_stats`; each
    closed wedge (c, x, y) supports its THREE edges — (c,x), (c,y),
    (x,y) in canonical order — so support is one combinable count over
    the 3× exploded triangle stream joined back to the edge set.
    Output: (support, n_edges) plus the derived bridge share is the
    support-0 row."""
    und = canonical(edges).persist()
    _, o = _degrees_and_orientation(und)
    e1 = o.select(F.col("lo").alias("c"), F.col("hi").alias("x"))
    e2 = o.select(F.col("lo").alias("c"), F.col("hi").alias("y"))
    wedges = e1.join(e2, "c").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        und.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    tri_edges = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("c", "x").alias("u"), F.greatest("c", "x").alias("v")
                ),
                F.struct(
                    F.least("c", "y").alias("u"), F.greatest("c", "y").alias("v")
                ),
                F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    per_edge = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("support")
    )
    supported = und.join(per_edge, ["u", "v"], "left").select(
        F.coalesce("support", F.lit(0)).alias("support")
    )
    return supported.groupBy("support").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).select(F.col("support").cast("long").alias("support"), "n_edges")


def duck_edge_support(edges_select: str) -> str:
    """DuckDB CTE body mirroring :func:`edge_support`; exposes
    ``esup(support, n_edges)``."""
    return f"""
eraw AS ({edges_select}),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM eraw WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS lo,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS hi
  FROM und
  JOIN deg du ON du.node = und.u
  JOIN deg dv ON dv.node = und.v
),
wedges AS (
  SELECT e1.c, e1.x, e2.y
  FROM (SELECT lo AS c, hi AS x FROM o) e1
  JOIN (SELECT lo AS c, hi AS y FROM o) e2 ON e1.c = e2.c AND e1.x < e2.y
),
closed AS (
  SELECT w.c, w.x, w.y FROM wedges w JOIN und ON und.u = w.x AND und.v = w.y
),
tri_edges AS (
  SELECT least(c, x) AS u, greatest(c, x) AS v FROM closed
  UNION ALL SELECT least(c, y), greatest(c, y) FROM closed
  UNION ALL SELECT x, y FROM closed
),
per_edge AS (
  SELECT u, v, count(*)::BIGINT AS support FROM tri_edges GROUP BY u, v
),
esup AS (
  SELECT coalesce(p.support, 0)::BIGINT AS support,
         count(*)::BIGINT AS n_edges
  FROM und LEFT JOIN per_edge p USING (u, v)
  GROUP BY coalesce(p.support, 0)
)"""

"""Newman modularity of a community assignment (Newman & Girvan 2004):
Q = Σ_c [ e_c/m − (d_c / 2m)² ], where m is the edge count, e_c the
edges internal to community c and d_c the total degree of c's members.
The standard quality score for ANY community detection — here the
evaluation face of label propagation (gr7), the same
operator-plus-its-evaluator pairing as ts9 (IVF → recall) and sk10
(Bloom → FPR).

Plan shape: communities (a label table) broadcast-join onto the edge
endpoints twice; e_c is a combinable count over same-community edges,
d_c a combinable sum over the degree table — two aggregates over the
O(E) list, no windows, no iteration (the labels themselves come from
the upstream detector).

Exactness: e_c, d_c, m are integers; each community's contribution is
floor-e6 of (4·m·e_c − d_c²) / (4·m²) evaluated in DOUBLE on both
engines (every product stays under 2^53 at our scales — exact doubles;
the floor(::DOUBLE /) spelling because the numerator is SIGNED).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    top_k: int = 20,
    pre_symmetrized: bool = False,
) -> DataFrame:
    """(community, n_nodes, internal_edges, degree_sum, q_contrib_e6)
    for the ``top_k`` largest communities (size DESC, community ASC).
    ``edges`` is an undirected (src, dst) list (canonicalized here);
    ``labels`` is (node, label) — the detector's output.

    ``pre_symmetrized``: the input already carries BOTH directions of
    every edge, deduplicated and self-loop-free (a persisted frame
    shared with the detector) — the scorer then reads the symmetric
    frame directly: internal/m are the symmetric counts halved
    (integer-exact) and degree is the per-src out-count, with the label
    table broadcast onto both endpoints.

    The O(V) label table is broadcast into the two endpoint joins
    (guide §3.1)."""

    if pre_symmetrized:
        # Round-12 optimization (guide §2.3/§3.1): score straight off the
        # FULL symmetric frame instead of filtering to the src<dst half
        # and unioning two projections for degrees. With sym symmetric,
        # deduplicated and self-loop-free: every undirected edge appears
        # exactly twice, so internal/m are the symmetric counts halved
        # (integer-exact) and degree(v) is simply v's out-count in sym —
        # ONE aggregate over a frame the caller typically has
        # hash(src)-partitioned (then it needs no exchange at all),
        # instead of a 2x union re-shuffled from scratch. The tiny label
        # table is broadcast into both endpoint joins so the O(E) side
        # never moves (it previously sort-merge-joined twice).
        # Cheap self-loop guard (round-13, ADVICE r12): the old
        # src<dst canonicalization dropped self-loops for free; the
        # halved-count form would silently truncate odd counts under
        # div 2 if a caller violated the self-loop-free certification.
        # The filter is a scan-level predicate — no exchange, no
        # measurable cost — and makes the contract enforced, not hoped.
        edges = edges.filter(F.col("src") != F.col("dst"))
        lu = labels.select(F.col("node").alias("src"), F.col("label").alias("cu"))
        lv = labels.select(F.col("node").alias("dst"), F.col("label").alias("cv"))
        ann = edges.join(F.broadcast(lu), "src").join(F.broadcast(lv), "dst")
        internal = (
            ann.filter(F.col("cu") == F.col("cv"))
            .groupBy(F.col("cu").alias("community"))
            .agg(F.expr("count(1) div 2").alias("internal_edges"))
        )
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        m = edges.agg(F.expr("count(1) div 2").alias("m"))
    else:
        e = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
            )
            .distinct()
            .persist()
        )
        lu = labels.select(F.col("node").alias("u"), F.col("label").alias("cu"))
        lv = labels.select(F.col("node").alias("v"), F.col("label").alias("cv"))
        ann = e.join(F.broadcast(lu), "u").join(F.broadcast(lv), "v")
        internal = (
            ann.filter(F.col("cu") == F.col("cv"))
            .groupBy(F.col("cu").alias("community"))
            .agg(F.count(F.lit(1)).alias("internal_edges"))
        )
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        m = e.agg(F.count(F.lit(1)).alias("m"))
    comm = (
        labels.join(deg, "node", "left")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("degree_sum"),
        )
    )
    out = (
        comm.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("internal_edges", F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            F.expr(
                "CAST(floor(1000000 * (4 * CAST(m AS DOUBLE)"
                " * coalesce(internal_edges, 0) - CAST(degree_sum AS DOUBLE)"
                " * degree_sum) / (4 * CAST(m AS DOUBLE) * m)) AS BIGINT)"
            ).alias("q_contrib_e6"),
        )
    )
    return out.orderBy(F.desc("n_nodes"), "community").limit(top_k)


def duck_community_modularity(
    edges_select: str, labels_cte: str, top_k: int = 20
) -> str:
    """DuckDB CTE body mirroring :func:`community_modularity`; exposes
    ``modq(community, n_nodes, internal_edges, degree_sum,
    q_contrib_e6)``. ``labels_cte`` must be the NAME of an existing CTE
    with (node, label)."""
    return f"""__mq_e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({edges_select}) WHERE src <> dst
),
__mq_int AS (
  SELECT lu.label AS community, count(*)::BIGINT AS internal_edges
  FROM __mq_e e
  JOIN {labels_cte} lu ON lu.node = e.u
  JOIN {labels_cte} lv ON lv.node = e.v
  WHERE lu.label = lv.label
  GROUP BY lu.label
),
__mq_deg AS (
  SELECT node, count(*)::BIGINT AS deg
  FROM (SELECT u AS node FROM __mq_e UNION ALL SELECT v FROM __mq_e)
  GROUP BY node
),
__mq_comm AS (
  SELECT l.label AS community, count(*)::BIGINT AS n_nodes,
         sum(coalesce(d.deg, 0))::BIGINT AS degree_sum
  FROM {labels_cte} l LEFT JOIN __mq_deg d ON d.node = l.node
  GROUP BY l.label
),
__mq_m AS (SELECT count(*)::BIGINT AS m FROM __mq_e),
modq AS (
  SELECT community, n_nodes,
         coalesce(i.internal_edges, 0)::BIGINT AS internal_edges,
         degree_sum,
         CAST(floor(1000000 * (4 * CAST(m AS DOUBLE)
              * coalesce(i.internal_edges, 0) - CAST(degree_sum AS DOUBLE)
              * degree_sum) / (4 * CAST(m AS DOUBLE) * m)) AS BIGINT)
           AS q_contrib_e6
  FROM __mq_comm c
  LEFT JOIN __mq_int i USING (community)
  CROSS JOIN __mq_m
  ORDER BY n_nodes DESC, community LIMIT {top_k}
)"""

"""Deterministic random-walk corpus generation — the data-prep step of
DeepWalk/node2vec-style graph embeddings (Perozzi 2014, Grover 2016):
emit fixed-length walks from seed nodes; a downstream skip-gram model
treats walks as sentences. At 100 TB of edges this IS a training-data
pipeline operator, so it lives next to the other corpus generators.

Determinism without RNG state: the step choice is hash-driven — at step
``i`` from node ``cur`` on walk ``w``, the next hop is

    nbrs[ md5("walk:" || w || ":" || i || ":" || cur) % degree ]

over the SORTED adjacency list. Like the epoch shuffle (operators/
sampling.py), the md5 keys make every walk a pure function of (graph,
seed-set, length): reruns, retries and both engines reproduce the exact
corpus — which is what makes an oracle possible at all. Statistically
the hash choice is a uniform neighbor pick, i.e. plain first-order
random walks (node2vec's p/q biasing would condition the hash index on
the previous edge — same machinery, wider state).

Plan shape: adjacency = one groupBy into sorted neighbor arrays
(degree-bounded rows); each step is an equi-join of the O(walks)
frontier against the adjacency table — L joins for length-L walks, the
frontier never exceeds the seed count, and the adjacency side is
hash-partitioned once and reused.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.graph.undirected import UndirectedEdges, edge_frame
from bioeco_portal_etl_spark.sketches import h60


def adjacency(edges: UndirectedEdges) -> DataFrame:
    """(node, nbrs) — SORTED neighbor arrays (the sort pins hash-index
    semantics across engines). The input is already deduplicated and
    hash(src)-partitioned, so the array build runs with no exchange.

    Degree bound: per-node arrays are O(max_degree) row memory. That
    holds for the co-activity fixture and most power-law graphs after a
    hub cap; a graph with multi-million-degree hubs needs the rank-join
    formulation instead ((node, rank, dst) + row_number — prototyped, ~2x
    slower here because materializing the 9.1M-row rank table costs more
    than the arrays; revisit only when degree actually breaks rows)."""
    return edge_frame(edges).groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )


def random_walks(
    edges: UndirectedEdges,
    seeds: DataFrame,
    length: int = 3,
) -> DataFrame:
    """(walk_id, pos, node) rows for one walk per seed: pos 0 is the seed
    itself, then ``length`` hash-driven hops. ``seeds`` needs a
    ``walk_id`` column (= start node in the catalog fixture). A walk
    stops early only at an isolated node (no adjacency row — impossible
    for seeds drawn from the edge set)."""
    # NO eager checkpoint here, deliberately: the L union branches all
    # reference the same adjacency subplan and AQE reuses the shuffle
    # stage at runtime, so the build runs once per job anyway — while an
    # eager localCheckpoint would re-materialize it at every DataFrame
    # CONSTRUCTION (every bench pass / catalog call). The checkpoint
    # idiom (operators/fixpoint.py) pays off only for loops whose plan
    # GROWS per iteration; this one is depth-L fixed.
    adj = adjacency(edges)
    cur = seeds.select(
        F.col("walk_id"),
        F.lit(0).cast("long").alias("pos"),
        F.col("walk_id").alias("node"),
    )
    out = cur
    for i in range(1, length + 1):
        step_key = h60(
            F.concat(
                F.lit("walk:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{i}:"),
                F.col("node").cast("string"),
            )
        )
        cur = (
            # the frontier never exceeds the seed count — broadcast it so
            # the adjacency table is only probed, never sorted/shuffled
            # per hop (round-12, guide §3.1)
            # without the hint gr10 plans a SortMergeJoin per hop
            F.broadcast(cur).join(adj, "node")
            .select(
                "walk_id",
                F.lit(i).cast("long").alias("pos"),
                F.element_at(
                    F.col("nbrs"),
                    (F.pmod(step_key, F.size("nbrs")) + 1).cast("int"),
                ).alias("node"),
            )
        )
        out = out.unionByName(cur)
    return out


def duck_random_walks(
    edges_select: str, seeds_select: str, length: int = 3
) -> str:
    """DuckDB mirror; ``seeds_select`` projects ``walk_id``; exposes
    ``walks(walk_id, pos, node)``."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    parts = [
        f"eraw AS ({edges_select})",
        "eflt AS (SELECT src, dst FROM eraw WHERE src <> dst)",
        "sym AS (SELECT src, dst FROM eflt UNION SELECT dst, src FROM eflt)",
        "adj AS (SELECT src AS node, list_sort(list(dst)) AS nbrs"
        " FROM sym GROUP BY src)",
        f"s0 AS (SELECT walk_id, 0::BIGINT AS pos, walk_id AS node"
        f" FROM ({seeds_select}))",
    ]
    for i in range(1, length + 1):
        h = duck_h60(
            f"'walk:' || CAST(walk_id AS VARCHAR) || ':{i}:'"
            " || CAST(node AS VARCHAR)"
        )
        parts.append(
            f"""s{i} AS (
  SELECT walk_id, {i}::BIGINT AS pos,
         nbrs[CAST({h} % len(nbrs) AS INT) + 1] AS node
  FROM s{i - 1} JOIN adj USING (node)
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM s{i}" for i in range(length + 1)
    )
    parts.append(f"walks AS (\n  {union}\n)")
    return ",\n".join(parts)

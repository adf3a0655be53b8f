"""Synchronous label propagation for community detection (Raghavan,
Albert & Kumara 2007, "Near linear time algorithm to detect community
structures in large-scale networks" — public algorithm; the same LPA
GraphX/igraph ship).

Each round, every node adopts the most frequent label among its
neighbors. Classic LPA breaks frequency ties randomly; for an
engine-exact surface we pin the deterministic variant: ties break on the
SMALLEST label (the same min-id convention connected_components uses), and
rounds are synchronous (all nodes update from the round-(i-1) labels).
Community structure stabilizes in a handful of rounds on modular graphs;
the operator runs a FIXED round count, so its output is a well-defined
function of the input on both engines whether or not a fixpoint was
reached (deterministic-LPA fixpoints can 2-cycle on bipartite-ish
structures, so bounded rounds are the only portable contract).

Plan shape per round (round-12 optimization — guide §2.4/§3.1):
  edges JOIN broadcast(labels) ON dst  -- the O(V) label table is BUILT
                                       -- and broadcast; the O(E) edge
                                       -- list is persisted, partitioned
                                       -- by src once, and NEVER moves
  groupBy (node, label) count          -- map-side combinable, and with
                                       -- the edge frame hash(src)-
                                       -- partitioned it needs NO
                                       -- exchange (hash(src) satisfies
                                       -- ClusteredDistribution(node,
                                       -- label) since node == src)
  groupBy node max(struct(c, -label))  -- the argmax as a combinable
                                       -- aggregate instead of a
                                       -- row_number window: no sort, no
                                       -- exchange, map-side partials
The previous form (SortMergeJoin on dst + row_number window) paid, PER
ROUND, a full sort of the edge frame plus two exchanges of up to |E|
(node, label) rows; the broadcast+aggregate form's per-round plan is one
BroadcastExchange of |V| label rows and two in-place hash aggregates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _argmax_label(nbr: DataFrame) -> DataFrame:
    """Per-node most-frequent label, ties to the SMALLEST label — as one
    combinable aggregate: max over (count, -label) structs is
    lexicographic, so it picks max count then min label, exactly the
    (count DESC, label ASC) row_number()=1 row the window form kept.

    CONTRACT (round-13, ADVICE r12): labels must be NUMERIC — the
    ``-label`` negation tie-break casts non-numeric labels to null and
    would silently return null/wrong labels instead of erroring. Every
    caller satisfies this by construction (initial label = the long node
    id and the update only permutes existing labels), so label ids stay
    longs forever; a string-keyed graph must map ids to longs first
    (e.g. ``xxhash64`` or a dimension join), which is also what keeps
    the label table's shuffle/broadcast bytes narrow (guide §2.3)."""
    return (
        nbr.groupBy("node")
        .agg(F.max(F.struct(F.col("__c"), (-F.col("label")).alias("__nl"))).alias("__m"))
        .select("node", (-F.col("__m.__nl")).alias("label"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    persist_edges: bool = True,
    pre_symmetrized: bool = False,
) -> DataFrame:
    """(node, label) after ``rounds`` synchronous updates; initial label =
    own node id. ``edges`` is an undirected edge list given as (src, dst)
    long columns — symmetrized and self-loop-stripped here. Isolated
    nodes don't appear (no edges = no community evidence).

    ``persist_edges`` pins the symmetrized O(E) list (and with it the
    upstream edge derivation — often an expensive self-join, e.g. gr7's
    orders⋈orders co-activity graph) so each round pays ONE label
    broadcast, not a lineage replay; the pagerank.py pattern. Turn off
    when the caller persists (and lays out) the frame itself.

    ``pre_symmetrized``: caller certifies the list already contains both
    directions of every edge, deduplicated. Ideally the caller also
    hash-partitions it by ``src`` (e.g. ``repartition("src")`` before
    ``persist()``): every per-round aggregate then runs exchange-free.

    The O(V) label table is broadcast into the per-round join so the
    edge frame never shuffles or sorts."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if pre_symmetrized:
        sym = e
    else:
        # ONE exchange, keyed by src: hash(src) co-locates every
        # (src, dst) group, so the dedupe aggregate runs in place and the
        # output layout is exactly what the per-round aggregates want —
        # a .distinct() would exchange on (src, dst) and leave the rounds
        # misaligned (each groupBy(node=src, ...) re-shuffling |E| rows).
        sym = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .repartition("src")
            .dropDuplicates(["src", "dst"])
        )
    if persist_edges:
        sym = sym.persist()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(rounds):
        lbl = F.broadcast(labels)
        nbr = (
            sym.join(lbl, sym["dst"] == lbl["node"])
            .select(F.col("src").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = _argmax_label(nbr)
    return labels


def community_sizes(labels: DataFrame, top_k: int = 20) -> DataFrame:
    """(community, size) for the ``top_k`` largest communities — size
    DESC, community ASC tie-break."""
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(top_k)
    )


def duck_label_propagation(edges_select: str, rounds: int = 2) -> str:
    """DuckDB mirror of :func:`label_propagation`: unrolled CTE chain
    (synchronous rounds are plain self-contained queries — no recursion
    needed). ``edges_select`` must project src, dst; exposes
    ``l{rounds}(node, label)``."""
    parts = [
        f"eraw AS ({edges_select})",
        "eflt AS (SELECT src, dst FROM eraw WHERE src <> dst)",
        "sym AS (SELECT src, dst FROM eflt UNION SELECT dst, src FROM eflt)",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""n{i} AS (
  SELECT s.src AS node, l.label, count(*)::BIGINT AS c
  FROM sym s JOIN l{i - 1} l ON l.node = s.dst
  GROUP BY s.src, l.label
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rn
    FROM n{i})
  WHERE rn = 1
)"""
        )
    return ",\n".join(parts)

"""k-core decomposition by iterative peeling (Seidman 1983, "Network
structure and minimum degree"; the distributed peeling formulation is the
standard one — e.g. Montresor et al. 2013). The k-core is the maximal
subgraph where every node has degree >= k — the workhorse for separating
a graph's dense backbone from its periphery (spam rings in link graphs,
power users in interaction graphs, hub filtering before expensive
pairwise ops like graph/similarity.py).

Peeling: repeatedly delete every node with current degree < k; deletion
lowers neighbors' degrees, so iterate until no node is deleted. The
fixpoint is the k-core (unique — independent of deletion order), which
is what makes the operator engine-exact without any tie-break pinning.

Plan shape per round:
  degree = sym.groupBy(src)           -- map-side combinable count
  keep   = degree >= k                -- tiny filter
  sym    = sym ⋉ keep (src) ⋉ keep (dst)  -- two semi-joins
The edge list is localCheckpoint'ed each round: the filtered edges feed
BOTH next-round semi-joins and the degree aggregate, and an uncheckpointed
twice-referenced iteration plan grows 3^rounds (the connected-components
lesson — graph/cc.py). Convergence is detected by the edge COUNT (peeling
only removes edges, so an unchanged count means an unchanged graph);
the count is the same scalar action that materializes the checkpoint.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def kcore(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 12,
    pre_symmetrized: bool = False,
) -> DataFrame:
    """(node, deg) for every node of the k-core, with ``deg`` its degree
    INSIDE the core. ``edges`` is undirected (src, dst); symmetrized and
    self-loop-stripped here. Raises if peeling hasn't converged within
    ``max_rounds`` (each round deletes >= 1 node, so rounds <= |V|; real
    graphs peel in a handful — raise max_rounds for adversarial chains).

    Round-12 knobs (guide §2.4/§3.1): ``pre_symmetrized`` skips the
    swap-union when the caller's list already carries both directions as
    a set (e.g. the co-activity join); the dedupe then runs keyed by src
    so per-round degree counts need no exchange. The surviving-node set
    is broadcast into both endpoint semi-joins (the set is <= |V| ids and
    SHRINKS every round) so the edge frame never shuffles during
    peeling."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if not pre_symmetrized:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    sym = (
        e.repartition("src")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    n_edges = sym.count()
    for _ in range(max_rounds):
        deg = sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        keep_src = F.broadcast(keep.withColumnRenamed("node", "src"))
        keep_dst = F.broadcast(keep.withColumnRenamed("node", "dst"))
        sym = (
            sym.join(keep_src, "src", "semi")
            .join(keep_dst, "dst", "semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        new_edges = sym.count()
        if new_edges == n_edges:
            return (
                sym.groupBy(F.col("src").alias("node"))
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
            )
        n_edges = new_edges
    raise RuntimeError(f"kcore did not converge in {max_rounds} rounds")


def duck_kcore(edges_select: str, k: int = 3, rounds: int = 12) -> str:
    """DuckDB mirror: ``rounds`` unrolled peels (post-fixpoint rounds are
    no-ops, so a Spark run converging earlier matches exactly; the pytest
    suite asserts convergence within the unroll budget on the gate data).
    ``edges_select`` projects src, dst; exposes ``core(node, deg)``.

    Every per-round CTE is ``AS MATERIALIZED``: each peel references the
    previous round's edges three times (degree + two endpoint filters),
    so DuckDB's default CTE INLINING would expand the scan 3^rounds
    times — the exact exponential-plan-growth failure the Spark loop's
    localCheckpoint prevents, mirrored on the oracle side."""
    parts = [
        f"eraw AS ({edges_select})",
        "eflt AS (SELECT src, dst FROM eraw WHERE src <> dst)",
        "e0 AS MATERIALIZED"
        " (SELECT src, dst FROM eflt UNION SELECT dst, src FROM eflt)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT src AS node, count(*)::BIGINT AS deg FROM e{i - 1} GROUP BY src
),
k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN k{i} a ON e.src = a.node
  JOIN k{i} b ON e.dst = b.node
)"""
        )
    parts.append(
        f"""core AS (
  SELECT src AS node, count(*)::BIGINT AS deg FROM e{rounds}
  GROUP BY src HAVING count(*) >= {k}
)"""
    )
    return ",\n".join(parts)

"""Connected components via min-label propagation with pointer jumping —
the transitive-closure primitive a dedup pipeline needs to turn PAIRWISE
duplicate evidence (exact-hash groups, LSH candidate pairs, URL matches)
into CLUSTERS: doc A ~ B by content hash and B ~ C by near-dup prefix must
land A, B, C in one group even though A and C share nothing directly.

Spark-first shape, per iteration (driver loop, same pattern as
similarity/kmeans.py Lloyd's):

1. **edge relaxation** — every node takes the min label among itself and
   its neighbors: one join of the (persisted, pre-partitioned) symmetric
   edge list against the current labels + one groupBy-min. The edge list
   carries one ``(v, v)`` row per node, so "itself" is just another
   neighbor and the loop stays union-free: a union of the relaxed labels
   with the previous ones makes Spark 4.1's constraint rewrite
   (``UnionBase.rewriteConstraints``) fail on the LSH-pairs plan that td7
   and td9 feed in;
2. **pointer jumping** — ``label(v) <- label(label(v))`` via a self-join
   of the label table, which halves chain depth every round: combined
   with relaxation the loop converges in O(log n) iterations instead of
   O(diameter) for plain propagation (the large-star/small-star result of
   Kiveris et al., "Connected Components in MapReduce and Beyond");
3. **convergence check** — labels are monotonically non-increasing, so
   the fixpoint test is the SCALAR ``sum(label)`` staying unchanged: one
   map-side-combinable aggregate observed by the round's own checkpoint
   job (operators/fixpoint.py), no diff join, and the only thing the
   driver ever collects (no data-sized collect anywhere).

At 100 TB the per-iteration cost is two keyed shuffles of the label
table (node-count-sized, far smaller than the edge list after the first
rounds) against an edge list that is shuffled ONCE at persist time and
co-partitioned thereafter.

Component id = MIN node id in the component — canonical, deterministic,
and exactly what a keep-lowest-id dedup policy wants.

Extension beyond the reference surface (the reference's dedup is
single-key `duplicated()` — `notebooks/index.Rmd:359` — with no
transitive clustering); oracle = DuckDB recursive-CTE reachability.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.operators.fixpoint import iterate


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(node, component) for every node appearing in ``edges`` (src/dst
    long columns; direction ignored; self-loops dropped). ``component`` is
    the minimum node id reachable from ``node``. Raises if the fixpoint
    isn't reached within ``max_iter`` rounds (pointer jumping makes that
    ~log2(n) — 25 covers any graph that fits on a cluster)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    # every edge (a, b) yields (a, b), (b, a), (a, a), (b, b): the
    # symmetric list plus each node's self-loop, from ONE pass over the
    # input; repartition("dst") + dropDuplicates is one exchange and
    # leaves the list laid out for the per-round join on dst
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                    F.struct("src", F.col("src").alias("dst")),
                    F.struct(F.col("dst").alias("src"), "dst"),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("dst")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    try:
        # the self-loops are exactly the node list: initial label = own id
        labels = sym.filter(F.col("src") == F.col("dst")).select(
            F.col("src").alias("node"), F.col("src").alias("label")
        )

        def step(labels: DataFrame) -> DataFrame:
            # 1. relaxation: min over the neighbor labels (self included)
            nbr = (
                sym.join(labels, sym["dst"] == labels["node"])
                .groupBy(F.col("src").alias("node"))
                .agg(F.min("label").alias("label"))
            )
            # 2. pointer jumping: label <- label(label) (label rows exist
            # for every node; a label that is itself a root maps to itself)
            return (
                nbr.alias("x")
                .join(
                    nbr.select(
                        F.col("node").alias("label"),
                        F.col("label").alias("root"),
                    ).alias("y"),
                    "label",
                    "left",
                )
                .select("node", F.coalesce("root", "label").alias("label"))
            )

        # 3. labels only ever decrease: an unchanged sum means NO label changed
        labels = iterate(labels, step, rounds=max_iter, metric=F.sum("label"))
        if labels is None:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations"
            )
        return labels.select("node", F.col("label").alias("component"))
    finally:
        sym.unpersist()


def duck_connected_components(edges_select: str) -> str:
    """DuckDB recursive-CTE reachability mirroring
    :func:`connected_components`; ``edges_select`` must project
    ``src, dst``. Exposes ``cc(node, component)``. Fixpoint semantics are
    identical (min reachable id); the CTE enumerates (node, reachable)
    pairs — fine at oracle scale, which is the point of the Spark
    implementation existing."""
    return f"""eraw AS ({edges_select}),
eflt AS (SELECT src, dst FROM eraw WHERE src <> dst),
sym AS (SELECT src, dst FROM eflt UNION SELECT dst, src FROM eflt),
reach AS (
  SELECT DISTINCT src AS node, src AS r FROM sym
  UNION
  SELECT s.src AS node, reach.r
  FROM sym s JOIN reach ON reach.node = s.dst
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)"""

"""Hierarchy flattening — transitive closure to (node, root, depth) over a
parent-pointer relation, the recursive-CTE workload Spark SQL cannot
express declaratively (org charts, category trees, reply threads, file
systems; the reference's program registry is flat, so this is engine
extension surface like the set ops in catalog_rel).

Spark-first iterative algorithm, same family as
graph/cc.connected_components but DIRECTED and depth-accumulating:
pointer jumping. State is one (node, anc, depth) row per node, where
``anc`` is an ancestor and ``depth`` the exact edge count from node to
anc. Each round substitutes every node's ancestor by THAT ancestor's own
ancestor (one self-equi-join) and adds the depths — path lengths DOUBLE
per round, so a depth-D hierarchy converges in ceil(log2 D) + 1 rounds,
not D (a million-deep chain settles in ~21 joins). Roots are fixed points
(anc = node, depth += 0). The rounds run through operators/fixpoint.py
until the pair (row count, ``sum(depth)``) stops changing: a row whose
ancestor chain ends at a missing parent drops out, and a surviving row
that moves gains depth, so depth alone can stay put while a drop cancels
a gain.

Scale shape: each round is one hash(anc)-shuffle equi-join of the node
table against itself — O(nodes) state, no fan-out (every node has exactly
ONE ancestor pointer at all times). Skew: all descendants of a hub node
hash to that hub's partition during the join; the pointer-jumping halving
means no single round sees more than O(nodes) rows regardless.

Cycle safety: a cycle never reaches a fixed point; the ``max_iter`` bound
turns that into a loud error instead of an infinite loop (2^max_iter
depth capacity — 30 rounds covers any acyclic input that fits storage).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.operators.fixpoint import iterate


def flatten_hierarchy(
    nodes: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_iter: int = 30,
) -> DataFrame:
    """(node, root, depth) for every node in a forest given as
    (node, parent) rows, ``parent`` NULL for roots. Exact integer depths;
    deterministic (pure function of the relation). Raises RuntimeError if
    the relation has a cycle (no fixed point within ``max_iter`` pointer
    jumps = depth > 2^max_iter or a loop)."""
    state = nodes.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    )

    def step(state: DataFrame) -> DataFrame:
        ptr = state.select(
            F.col("node").alias("p_node"),
            F.col("anc").alias("p_anc"),
            F.col("depth").alias("p_depth"),
        )
        return state.join(ptr, state.anc == ptr.p_node).select(
            "node",
            F.col("p_anc").alias("anc"),
            (F.col("depth") + F.col("p_depth")).alias("depth"),
        )

    metric = F.struct(F.count(F.lit(1)), F.sum("depth"))
    state = iterate(state, step, rounds=max_iter, metric=metric)
    if state is None:
        raise RuntimeError(
            f"flatten_hierarchy did not converge in {max_iter} pointer jumps — "
            "cycle in the parent relation, or depth > 2^max_iter"
        )
    return state.select("node", F.col("anc").alias("root"), "depth")


def bom_rollup(
    nodes: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    qty_col: str = "qty",
    max_depth: int = 8,
) -> DataFrame:
    """Bill-of-materials explosion: effective per-root quantity of every
    node, where ``qty`` is the count of the node inside its immediate
    parent and the effective quantity MULTIPLIES along the path to the
    root — flatten_hierarchy's pointer walk swapped for the (*, path)
    semiring the manufacturing rollup needs. Returns (node, root,
    eff_qty): eff_qty = qty(node) * qty(parent) * ... * qty(child-of-
    root); the root's own qty is excluded (it has no parent to count
    inside), and a root's eff_qty is 1.

    Plain parent-chain walk, one equi-join per level up to ``max_depth``
    (BOM depth is a schema property, single digits in practice — the
    fixed unroll IS the production shape); the walking state is one row
    per node. eff_qty fits int64 for
    qty <= ~1e3 at depth 6 — far beyond real assemblies.

    Walk invariant: ``anc`` is the lowest UNCONSUMED ancestor (NULL once
    the walk passed the root), ``root`` the highest ancestor seen so
    far; each round consumes one ancestor level: if anc is a non-root,
    its qty multiplies in and anc advances; if anc is a root, anc
    retires to NULL with root := anc."""
    # every level joins this table: materialize it once
    up = nodes.select(
        F.col(node_col).alias("u_node"),
        F.col(parent_col).alias("u_parent"),
        F.col(qty_col).cast("long").alias("u_qty"),
    ).localCheckpoint(eager=True)
    state = nodes.select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("anc"),
        F.col(node_col).alias("root"),
        F.when(F.col(parent_col).isNull(), F.lit(1))
        .otherwise(F.col(qty_col))
        .cast("long")
        .alias("eff_qty"),
    )
    anc_is_root = F.col("anc").isNotNull() & F.col("u_parent").isNull()
    anc_internal = F.col("anc").isNotNull() & F.col("u_parent").isNotNull()

    def step(state: DataFrame) -> DataFrame:
        return state.join(up, state.anc == up.u_node, "left").select(
            "node",
            F.when(anc_internal, F.col("u_parent")).alias("anc"),
            F.when(anc_is_root, F.col("anc")).otherwise(F.col("root")).alias("root"),
            F.when(anc_internal, F.col("eff_qty") * F.col("u_qty"))
            .otherwise(F.col("eff_qty"))
            .alias("eff_qty"),
        )

    state = iterate(state, step, rounds=max_depth)
    return state.select("node", "root", "eff_qty")

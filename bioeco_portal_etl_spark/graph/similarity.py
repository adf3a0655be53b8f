"""Neighborhood (co-occurrence) similarity over a bipartite edge list —
the collaborative-filtering prep step: entities are similar when their
neighbor sets overlap (customers co-purchasing parts, users co-viewing
items, documents sharing entities).

Plan: the ONLY data-sized stage is the per-neighbor self-join, and its
fan-out is bounded by the neighbor's degree — the standard item-based CF
shape where Σ deg(item)² is the real cost. Degenerate hub items
(a "bestseller" bought by everyone) would alone contribute |U|² pairs,
so they are dropped by a ``max_item_degree`` guard BEFORE the self-join
(identical in spirit to the LSH max_bucket and containment max_df
guards: high-degree evidence is weak evidence, and the guard is what
makes the plan survive a skewed catalog at 100 TB). Per-entity degrees
are vertex-scaled aggregates; the final Jaccard is integer arithmetic
on (common, deg_a, deg_b).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def node_jaccard(
    edges: DataFrame,
    min_common: int = 2,
    max_item_degree: int = 64,
    pair_partitions: int | None = None,
) -> DataFrame:
    """(src_a, src_b, n_common, deg_a, deg_b, jaccard_e4) for src pairs
    sharing >= ``min_common`` distinct neighbors, via neighbors of degree
    <= ``max_item_degree``. jaccard = common / (deg_a + deg_b - common),
    floor-e4 on non-negative longs.

    ``pair_partitions`` widens the TWO pair-sized stages in the PLAN (a
    scoped conf can't — the catalog returns lazy frames that execute
    after the scope closes):

    1. ``repartition(n, dst)`` on the pruned edges before the self-join,
       so a task's expanded output (Σ deg(dst)² over its dsts) stays
       memory-bounded — at the session's default width a 10× input
       pushed tasks into spill (round-4 probe: 3.9×–13.9× run-to-run
       variance from exactly this).
    2. ``repartition(n, src_a, src_b)`` on the raw pair stream before
       the count aggregate. This matters MORE than (1): a pair's
       duplicate occurrences live under *different* dst values, i.e. in
       different join tasks, so the map-side partial aggregate combines
       almost nothing and ~the whole pair stream funnels into the final
       exchange — at the session's default width that meant 32 final-agg
       tasks each sort/spilling 1/32nd of the pair stream (measured 4×
       the whole-query time of the widened plan at 10×). The explicit
       repartition satisfies the aggregate's distribution requirement,
       so the agg runs complete at width n with no further exchange.

    Size it like a shuffle: total expanded pairs / (a few hundred MB of
    rows per task)."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    item_deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("__idf"))
    pruned = e.join(
        item_deg.filter(F.col("__idf") <= max_item_degree).select("dst"),
        "dst",
    )
    if pair_partitions is not None:
        pruned = pruned.repartition(pair_partitions, "dst")
    raw_pairs = (
        pruned.alias("a")
        .join(
            pruned.alias("b"),
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .select(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
    )
    if pair_partitions is not None:
        raw_pairs = raw_pairs.repartition(pair_partitions, "src_a", "src_b")
    pairs = (
        raw_pairs.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    # entity-degree tables are node-sized — broadcast them onto the pair
    # stream (round-12, guide §3.1)
    da = F.broadcast(deg.select(F.col("src").alias("src_a"), F.col("deg").alias("deg_a")))
    db = F.broadcast(deg.select(F.col("src").alias("src_b"), F.col("deg").alias("deg_b")))
    return (
        pairs.join(da, "src_a")
        .join(db, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                "(10000 * n_common) div (deg_a + deg_b - n_common)"
            ).alias("jaccard_e4"),
        )
    )

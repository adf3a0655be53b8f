"""PageRank over an edge-list DataFrame — fixed-iteration, fixed-point.

Each iteration is the canonical two-shuffle plan (Malewicz et al.'s
Pregel superstep lowered to joins):

    contribs = edges JOIN ranks ON src      -- shuffle on src (or broadcast)
    sums     = contribs.groupBy(dst).sum()  -- shuffle on dst
    ranks'   = teleport + damping * sums    -- nodes LEFT JOIN sums

The edge list is hash-partitioned ONCE on ``src`` and persisted; every
iteration's first join then reuses that partitioning (exchange reuse), so
iteration i shuffles only the O(V) rank table, never the O(E) edges. On a
real cluster, checkpoint ``ranks`` every ~5 iterations to truncate the
growing lineage; with a fixed small iteration count the unrolled plan is
fine as-is.

Fixed-point contract: ranks live in e9 integers (rank 1.0 == 10^9).
Per-edge contribution = ``(damp_num * rank) div (damp_den * outdeg)`` —
all longs, max intermediate 850 * 10^9 * |V| far below 2^63 — and the
per-dst sum is an integer sum, order-independent. The same arithmetic in
DuckDB (three unrolled CTE iterations) reproduces ranks EXACTLY, where a
float PageRank would drift in the last ulp per reassociation. Truncation
toward zero loses < 1e-9 rank mass per edge per iteration — bounded and
deterministic. All values stay nonnegative, so Spark's ``div`` (toward
zero) and DuckDB's ``//`` (floor) agree.

Dangling mass: nodes with no out-edges leak their damped mass (standard
simplification; the teleport term keeps totals bounded). Symmetric
co-occurrence graphs — the catalog's use — have no dangling nodes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

E9 = 1_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100  #: damping 0.85 as an exact rational


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """e9 fixed-point PageRank; returns (node, pr_e9).

    ``edges`` is a directed (src, dst) list (duplicate edges count once —
    deduplicated here). ``seeds`` (a ``node`` column) makes it
    Personalized PageRank (Jeh & Widom 2003's topic-sensitive
    formulation): the initial and teleport mass go to the seed set
    instead of spreading uniformly, so ranks measure proximity to the
    seeds — the primitive behind related-item panels, local community
    scoring and seed-expansion labeling. Nodes unreached from the seeds
    carry rank 0. Without ``seeds`` every node is a seed, which is plain
    PageRank. The seed flag rides the persisted node table, so no extra
    join appears in the loop.
    """
    # ONE exchange for dedupe + layout (round-12, guide §2.4): hash(src)
    # co-locates every (src, dst) group — the subset-of-keys rule — so
    # dropDuplicates runs in place of the repartition and the persisted
    # frame lands already keyed the way every iteration's contrib join
    # and the outdeg aggregate want it. distinct().repartition("src")
    # paid a second full |E| exchange for the same layout.
    e = (
        edges.select("src", "dst")
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .join(outdeg.withColumnRenamed("src", "node"), "node", "left")
        .withColumn("outdeg", F.coalesce("outdeg", F.lit(0)))
    )
    if seeds is None:
        nodes = nodes.withColumn("is_seed", F.lit(1))
    else:
        s = seeds.select("node").distinct().withColumn("is_seed", F.lit(1))
        nodes = nodes.join(s, "node", "left").withColumn(
            "is_seed", F.coalesce("is_seed", F.lit(0))
        )
    # |S| as a window sum — one exchange of the small node table, no
    # crossJoin against a second aggregation subtree. Every iteration's
    # teleport join re-reads nodes; pin the O(V) table alongside the
    # edges so reference i doesn't replay the degree/distinct lineage.
    nodes = nodes.withColumn(
        "ns", F.sum("is_seed").over(Window.partitionBy())
    ).persist()

    # integer div, never float `/` + cast: Spark's cast truncates but
    # DuckDB's CAST rounds-to-nearest — `div`/`//` agree on positives.
    ranks = nodes.select(
        "node", "outdeg", "is_seed", "ns",
        F.expr(f"CASE WHEN is_seed = 1 THEN {E9} div ns ELSE 0 END").alias(
            "pr_e9"
        ),
    )
    teleport = (DAMP_DEN - DAMP_NUM) * E9 // DAMP_DEN
    for _ in range(iterations):
        # broadcast the O(V) rank table into the O(E) join so the
        # persisted edge frame never moves or sorts (round-12, guide
        # §3.1 — post-aggregate size estimates kept picking sort-merge)
        # without the hint gr1 plans 3 SortMergeJoins and gr13 broadcasts the edges instead
        rhs = F.broadcast(ranks.withColumnRenamed("node", "src"))
        contribs = (
            e.join(rhs, "src")
            .filter((F.col("outdeg") > 0) & (F.col("pr_e9") > 0))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"({DAMP_NUM} * pr_e9) div ({DAMP_DEN} * outdeg)"
                ).alias("c"),
            )
        )
        sums = contribs.groupBy("node").agg(F.sum("c").alias("in_mass"))
        ranks = nodes.join(sums, "node", "left").select(
            "node", "outdeg", "is_seed", "ns",
            (
                F.expr(f"CASE WHEN is_seed = 1 THEN {teleport} div ns ELSE 0 END")
                + F.coalesce(F.col("in_mass"), F.lit(0))
            ).alias("pr_e9"),
        )
    return ranks.select("node", "pr_e9")


def duck_pagerank(edges_select: str, iterations: int = 3) -> str:
    """DuckDB CTE body mirroring :func:`pagerank`, iterations unrolled;
    exposes ``pr{iterations}(node, pr_e9)``. ``edges_select`` must project
    ``src, dst`` (duplicates allowed — deduplicated here)."""
    teleport = (DAMP_DEN - DAMP_NUM) * E9 // DAMP_DEN
    parts = [
        f"eraw AS ({edges_select})",
        "e AS (SELECT DISTINCT src, dst FROM eraw)",
        "odeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        """nodes AS (
  SELECT n.node, coalesce(o.outdeg, 0) AS outdeg, count(*) OVER () AS n
  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
  LEFT JOIN odeg o ON o.src = n.node
)""",
        f"pr0 AS (SELECT node, outdeg, n, {E9} // n AS pr_e9 FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"""s{i} AS (
  SELECT e.dst AS node,
         CAST(sum(({DAMP_NUM} * r.pr_e9) // ({DAMP_DEN} * r.outdeg)) AS BIGINT) AS in_mass
  FROM e JOIN pr{i} r ON r.node = e.src AND r.outdeg > 0
  GROUP BY e.dst
),
pr{i + 1} AS (
  SELECT nodes.node, nodes.outdeg, nodes.n,
         {teleport} // nodes.n + coalesce(s{i}.in_mass, 0) AS pr_e9
  FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node
)"""
        )
    return ",\n".join(parts)


def duck_ppr(edges_select: str, seeds_select: str, iterations: int = 3) -> str:
    """DuckDB CTE body mirroring :func:`pagerank` with ``seeds``,
    iterations unrolled; exposes ``ppr{iterations}(node, ppr_e9)``."""
    teleport = (DAMP_DEN - DAMP_NUM) * E9 // DAMP_DEN
    parts = [
        f"__pp_eraw AS ({edges_select})",
        "__pp_e AS (SELECT DISTINCT src, dst FROM __pp_eraw)",
        "__pp_odeg AS (SELECT src, count(*) AS outdeg FROM __pp_e GROUP BY src)",
        f"__pp_seeds AS (SELECT DISTINCT node FROM ({seeds_select}))",
        """__pp_nodes AS (
  SELECT n.node, coalesce(o.outdeg, 0) AS outdeg,
         CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed,
         sum(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END) OVER () AS ns
  FROM (SELECT src AS node FROM __pp_e UNION SELECT dst FROM __pp_e) n
  LEFT JOIN __pp_odeg o ON o.src = n.node
  LEFT JOIN __pp_seeds s ON s.node = n.node
)""",
        f"""__pp_ppr0 AS (
  SELECT node, outdeg, is_seed, ns,
         CASE WHEN is_seed = 1 THEN {E9} // ns ELSE 0 END AS ppr_e9
  FROM __pp_nodes
)""",
    ]
    for i in range(iterations):
        parts.append(
            f"""__pp_s{i} AS (
  SELECT e.dst AS node,
         CAST(sum(({DAMP_NUM} * r.ppr_e9) // ({DAMP_DEN} * r.outdeg))
              AS BIGINT) AS in_mass
  FROM __pp_e e
  JOIN __pp_ppr{i} r ON r.node = e.src AND r.outdeg > 0 AND r.ppr_e9 > 0
  GROUP BY e.dst
),
__pp_ppr{i + 1} AS (
  SELECT n.node, n.outdeg, n.is_seed, n.ns,
         CASE WHEN n.is_seed = 1 THEN {teleport} // n.ns ELSE 0 END
           + coalesce(s.in_mass, 0) AS ppr_e9
  FROM __pp_nodes n LEFT JOIN __pp_s{i} s ON s.node = n.node
)"""
        )
    parts.append(
        f"ppr{iterations} AS (SELECT node, ppr_e9 FROM __pp_ppr{iterations})"
    )
    return ",\n".join(parts)

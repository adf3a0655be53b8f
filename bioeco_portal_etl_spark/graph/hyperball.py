"""HyperBall neighborhood-function estimation (Boldi, Rosa, Vigna 2011)
— per-node ball sizes |B(v, r)| for growing radius r, estimated with the
mergeable HLL register sketches from sketches/hll.py.

This is THE big-graph distance primitive: exact neighborhood functions
need an all-pairs BFS (quadratic frontier state), while HyperBall keeps
ONE m-register sketch per node and advances a radius with

    B_{r+1}(v) = {v}  UNION  union over (u -> v) of B_r(u)

which in sketch space is a register-wise MAX — exactly
``sketches.hll.merge_registers`` keyed by the destination node. Each
round is therefore one edges-to-registers equi-join plus one
partial-combinable max aggregate: linear in |E| * m regardless of how
large the balls get, the property that lets the original paper run
effective-diameter on billion-edge web graphs on one machine and lets a
Spark cluster do it as a handful of shuffles per radius.

Estimator: balls here are SMALL (tens of nodes), i.e. the raw-HLL
harmonic estimator's known small-range regime — so this module adds the
standard linear-counting branch (Flajolet et al. 2007 Sec. 4): with
``V`` empty registers, ``est = floor(m * ln(m / V))``; the raw integer-
exact formula only takes over when every register is hit. ln() is
transcendental, but its argument takes one of 63 rational values
``64/V`` and the closest ``floor`` boundary sits 7.9e-3 away (verified
exhaustively in tests) — engine ulp divergence is ~1e-13 relative, so
the floored surface is cross-engine stable.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.operators.fixpoint import iterate
from bioeco_portal_etl_spark.sketches.hll import (
    ALPHA_M,
    M,
    _POW55,
    hll_registers,
)


_RCOLS = [f"r{i}" for i in range(M)]


def _widen(registers: DataFrame) -> DataFrame:
    """(node, bucket, register) rows -> ONE row per node with m register
    COLUMNS (absent bucket = 0). The wide layout is the scale lever: the
    per-round propagation join then moves |E| rows instead of m * |E|,
    and the sketch merge is m partial-combinable max aggregates over
    those |E| rows — a 64x cut in shuffled row count vs the row-form."""
    return registers.groupBy("node").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("bucket") == i, F.col("register"))),
                F.lit(0),
            )
            .cast("int")
            .alias(c)
            for i, c in enumerate(_RCOLS)
        ]
    )


def _estimate_wide(col_prefix: list[str]) -> F.Column:
    """Row-wise corrected estimate over wide registers — a pure
    projection (NO aggregate): S sums m shiftleft terms (register 0
    contributes 2^55 exactly as an absent bucket should), V counts empty
    registers, linear counting below saturation."""
    s = None
    v = None
    for c in col_prefix:
        term = F.expr(f"shiftleft(1L, CAST(55 - {c} AS INT))")
        zero = F.when(F.col(c) == 0, F.lit(1)).otherwise(F.lit(0))
        s = term if s is None else s + term
        v = zero if v is None else v + zero
    raw = F.floor(F.lit(ALPHA_M * M * M) * F.lit(_POW55) / s)
    lin = F.floor(F.lit(float(M)) * F.log(F.lit(float(M)) / v))
    return F.when(v > 0, lin).otherwise(raw).cast("long")


def hyperball_neighborhood(
    edges: DataFrame,
    nodes: DataFrame,
    radius: int,
) -> DataFrame:
    """(node, r, ball_est) for r in 0..radius: estimated |B(node, r)|
    over the directed ``edges (src, dst)`` (pass both directions for an
    undirected graph). ``nodes`` seeds every vertex with its own
    singleton sketch, so isolated nodes report ball_est(0) = 1 instead
    of vanishing.

    Per round: the |V|-row register table is BROADCAST into the edge
    join (round-12, guide §3.1 — post-checkpoint size estimates kept
    picking sort-merge, re-sorting the edge frame every round), then one
    grouped merge of m max aggregates (map-side partial); estimates are
    a projection of the wide register row, so no extra shuffle per
    radius. Register state is |V| rows total, never ball-sized: each
    radius's estimate is one more column of it, so the result is the last
    round's state and no earlier round is kept alive.
    (A self-loop formulation that folds the keep-your-own-ball union
    into the join was prototyped and measured SLOWER at bench scale —
    the loop-edge construction cost more than the per-round union it
    removed; paired A/B in OPTIMIZATION_r12.md.)"""
    # every radius joins these rows; materializing them once also keeps
    # re-derived edge stats from flipping the join strategy between runs
    e = edges.select(F.col("src"), F.col("dst")).distinct()
    if radius > 1:
        e = e.localCheckpoint(eager=True)
    est = _estimate_wide(_RCOLS)
    regs = _widen(hll_registers(nodes.select("node"), ["node"], "node"))

    def step(state: DataFrame) -> DataFrame:
        balls = state.columns[1 + len(_RCOLS):]
        # without the hint gr11, gr14 and gr15 broadcast the edge list instead
        rhs = F.broadcast(state.select("node", *_RCOLS))
        prop = e.join(rhs, e["src"] == rhs["node"]).select(
            F.col("dst").alias("node"),
            *_RCOLS,
            *[F.lit(None).cast("long").alias(b) for b in balls],
        )
        return (
            state.unionByName(prop)
            .groupBy("node")
            .agg(*[F.max(c).alias(c) for c in _RCOLS + balls])
            .withColumn(f"__b{len(balls)}", est)
        )

    state = iterate(regs.withColumn("__b0", est), step, rounds=radius)
    balls = [f"__b{r}" for r in range(radius + 1)]
    return (
        state.unpivot("node", balls, "r", "ball_est")
        # a node first reached at radius r has no estimate below r
        .filter(F.col("ball_est").isNotNull())
        .select("node", F.substring("r", 4, 9).cast("long").alias("r"), "ball_est")
    )


def duck_hyperball(edges_sql: str, nodes_sql: str, radius: int) -> str:
    """DuckDB CTE chain mirroring :func:`hyperball_neighborhood`;
    exposes ``hb(node, r, ball_est)``. ``edges_sql`` / ``nodes_sql``
    must yield (src, dst) / (node)."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60("CAST(node AS VARCHAR)")
    parts = [
        f"__hb_edges AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        f"__hb_nodes AS (SELECT node FROM ({nodes_sql}))",
        f"""__hb_r0 AS (
  SELECT node, h % {M} AS bucket,
         CASE WHEN h // {M} = 0 THEN 55
              ELSE 55 - length(ltrim(bin(h // {M}), '0')) END AS register
  FROM (SELECT node, {h} AS h FROM __hb_nodes)
)""",
    ]
    for r in range(1, radius + 1):
        parts.append(
            f"""__hb_r{r} AS (
  SELECT node, bucket, max(register) AS register FROM (
    SELECT node, bucket, register FROM __hb_r{r - 1}
    UNION ALL
    SELECT e.dst AS node, s.bucket, s.register
    FROM __hb_edges e JOIN __hb_r{r - 1} s ON s.node = e.src
  ) GROUP BY node, bucket
)"""
        )
    est = []
    for r in range(radius + 1):
        est.append(
            f"""SELECT node, {r}::BIGINT AS r,
       CASE WHEN {M} - count(*) > 0
            THEN floor({float(M)!r} * ln({float(M)!r} / ({M} - count(*))))
            ELSE floor({ALPHA_M * M * M!r} * {_POW55!r}
                 / (sum((1::BIGINT << (55 - register)) - {1 << 55})
                    + {M * (1 << 55)}))
       END::BIGINT AS ball_est
FROM __hb_r{r} GROUP BY node"""
        )
    union = "\n  UNION ALL\n".join(est)
    parts.append(f"hb AS (\n{union}\n)")
    return ",\n".join(parts)


# exhaustively checkable guard used by tests: the linear-counting floor
# boundaries all 63 possible V values can produce

def _lin_boundary_min_distance() -> float:
    return min(
        min(x - math.floor(x), math.ceil(x) - x)
        for x in (M * math.log(M / v) for v in range(1, M))
    )


def harmonic_centrality(hb: DataFrame, radius: int) -> DataFrame:
    """Harmonic centrality estimates from HyperBall ball sizes — the
    statistic the HyperBall paper exists to compute: H(v) = sum over
    distance d of |{u : dist(u -> v) = d}| / d, here truncated at
    ``radius`` and read off the ball-size deltas

        H(v) ~= sum_{r=1..radius} (|B(v,r)| - |B(v,r-1)|) / r

    as e6 integers with the division floored PER TERM (engine-exact; the
    truncation error is the standard HyperBall trade and the radius is
    part of the operator's contract, not a hidden approximation).

    Input is :func:`hyperball_neighborhood` output (node, r, ball_est);
    the pivot is one grouped conditional-max aggregate — no joins, no
    extra shuffle beyond the groupBy(node)."""
    pivots = [
        F.max(F.when(F.col("r") == r, F.col("ball_est"))).alias(f"__b{r}")
        for r in range(radius + 1)
    ]
    g = hb.groupBy("node").agg(*pivots)
    h = None
    for r in range(1, radius + 1):
        # ball sizes are monotone under register-max merge, so the delta
        # is a nonnegative long and `div` is pure integer floor division
        term = F.expr(f"((__b{r} - __b{r - 1}) * 1000000) div {r}")
        h = term if h is None else h + term
    return g.select("node", h.cast("long").alias("harmonic_e6"))


def effective_diameter(hb: DataFrame, radius: int, pct_num: int = 9, pct_den: int = 10) -> DataFrame:
    """Effective diameter from the neighborhood function — HyperBall's
    other headline statistic: the smallest radius r at which the total
    reachable-pair count N(r) = sum over v of |B(v, r)| reaches
    ``pct_num/pct_den`` (default 90%) of its value at the probe horizon.

    One grouped sum per radius over the gr11 output plus a constant-size
    pivot: (eff_diameter, plus the full N(r) curve as coverage_e6 per r
    so the cutoff is auditable, not a bare scalar). Integer comparisons
    only (cross-multiplied) — no division until the e6 display surface."""
    n_r = hb.groupBy("r").agg(F.sum("ball_est").alias("n_pairs"))
    pivots = [
        F.max(F.when(F.col("r") == r, F.col("n_pairs"))).alias(f"__n{r}")
        for r in range(radius + 1)
    ]
    wide = n_r.groupBy().agg(*pivots)
    eff = F.lit(radius).cast("long")
    for r in range(radius, -1, -1):
        eff = F.when(
            F.lit(pct_den) * F.col(f"__n{r}")
            - F.lit(pct_num) * F.col(f"__n{radius}")
            >= 0,
            F.lit(r).cast("long"),
        ).otherwise(eff)
    cols = [eff.alias("eff_diameter")]
    for r in range(radius + 1):
        cols.append(
            F.expr(f"CAST((1000000 * __n{r}) div __n{radius} AS BIGINT)").alias(
                f"coverage_e6_r{r}"
            )
        )
    return wide.select(*cols)

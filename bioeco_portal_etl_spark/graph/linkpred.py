"""Neighborhood-overlap link prediction: common-neighbor counts and
Adamic-Adar scores (Adamic & Adar 2003, "Friends and neighbors on the
web" — the standard similarity baseline every graph-ML pipeline computes
before learned embeddings).

For a candidate pair (u, v): CN = |N(u) ∩ N(v)|, AA = Σ_{w ∈ N(u)∩N(v)}
1 / ln(deg(w)) — common neighbors weighted inversely by how promiscuous
they are. Candidates are NON-adjacent pairs sharing at least one
neighbor (predicting edges that already exist is vacuous).

Plan shape — the triangle-counting wedge join, NOT all-pairs:
  sym edges JOIN sym edges ON shared middle w    -- Σ_w C(deg_w, 2) pairs
  anti-join existing edges                       -- drop known links
  groupBy (u, v): count + sum of the w-weight    -- combinable agg
The wedge fan-out is the classic hub hazard: one degree-D node emits
C(D, 2) pairs. ``max_degree`` caps it the way every production link
predictor does (drop hubs as middles) — justified analytically, not just
operationally: a hub's per-pair weight 1/ln(D) → 0, so high-degree
middles contribute noise-level score while dominating the join volume.
At 100 TB the cap turns a quadratic blowup into Σ min(deg, D)² — linear
in edges for bounded D.

Exactness: deg and CN are integers; the AA weight is transcendental, so
each per-neighbor term is floored FIRST — aa_e6 = Σ_w floor(1e6 /
ln(deg_w)) — making the sum an integer sum (order-independent), per the
quantize-before-aggregating rule (PORTABILITY.md). deg_w >= 2 always
(w has edges to both u and v), so ln(deg_w) >= ln 2 > 0.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.graph.undirected import UndirectedEdges, edge_frame


def adamic_adar(
    edges: UndirectedEdges,
    max_degree: int = 200,
    min_common: int = 2,
) -> DataFrame:
    """(u, v, n_common, aa_e6) for non-adjacent pairs (u < v) sharing
    >= ``min_common`` middles of degree <= ``max_degree``.

    The plan reads the persisted edge frame THREE times (degrees, wedge
    middles, the known-edge anti-join), and its hash(src) layout serves
    the degree count and the wedge middles without an exchange."""
    sym = edge_frame(edges)
    deg = sym.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # middles: (w, leaf) with the hub cap applied BEFORE the wedge join.
    # The capped degree table is node-sized — broadcast (guide §3.1).
    # without the hint gr17 plans 2 more SortMergeJoins
    capped = F.broadcast(deg.filter(F.col("deg") <= max_degree))
    mid = (
        sym.select(F.col("src").alias("w"), F.col("dst").alias("leaf"))
        .join(capped, "w")
        .withColumn(
            "w_e6", F.floor(F.lit(1_000_000) / F.log(F.col("deg"))).cast("long")
        )
    )
    a = mid.select("w", F.col("leaf").alias("u"), "w_e6")
    b = mid.select("w", F.col("leaf").alias("v"))
    wedges = a.join(b, "w").filter(F.col("u") < F.col("v"))
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("w_e6").alias("aa_e6"),
    )
    existing = sym.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).filter(F.col("u") < F.col("v"))
    return scored.join(existing, ["u", "v"], "left_anti").filter(
        F.col("n_common") >= min_common
    )


def duck_adamic_adar(
    edges_select: str, max_degree: int = 200, min_common: int = 2
) -> str:
    """DuckDB CTE body mirroring :func:`adamic_adar`; exposes
    ``aa(u, v, n_common, aa_e6)``. ``edges_select`` must project
    (src, dst)."""
    return f"""__aa_e AS (
  SELECT src, dst FROM ({edges_select}) WHERE src <> dst
),
__aa_sym AS (
  SELECT src, dst FROM __aa_e UNION SELECT dst, src FROM __aa_e
),
__aa_deg AS (
  SELECT src AS w, count(*)::BIGINT AS deg FROM __aa_sym GROUP BY src
),
__aa_mid AS (
  SELECT s.src AS w, s.dst AS leaf,
         CAST(floor(1000000 / ln(d.deg)) AS BIGINT) AS w_e6
  FROM __aa_sym s JOIN __aa_deg d ON d.w = s.src
  WHERE d.deg <= {max_degree}
),
__aa_scored AS (
  SELECT a.leaf AS u, b.leaf AS v,
         count(*)::BIGINT AS n_common, sum(a.w_e6)::BIGINT AS aa_e6
  FROM __aa_mid a JOIN __aa_mid b ON a.w = b.w AND a.leaf < b.leaf
  GROUP BY a.leaf, b.leaf
),
aa AS (
  SELECT s.u, s.v, s.n_common, s.aa_e6
  FROM __aa_scored s
  LEFT JOIN __aa_sym x ON x.src = s.u AND x.dst = s.v
  WHERE x.src IS NULL AND s.n_common >= {min_common}
)"""

"""Degree-distribution diagnostics over an edge list: the log2-bucketed
degree histogram that sizes every downstream graph plan — it decides
whether triangle orientation is needed (heavy tail), what the PageRank
hub mass looks like, and which vertices need skew salting.

Plan: distinct-neighbor degree is one (src, dst)-distinct + one src
aggregate (both map-side combinable); the histogram is a second,
degree-table-sized aggregate — vertex-scaled, never edge-scaled, past
the first stage. The log2 bucket is ``length(bin(degree)) - 1``:
integer-exact on both engines (no transcendental log2 whose last ulp
could flip a power-of-two boundary).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(bucket, n_nodes, min_degree, max_degree) where bucket =
    floor(log2(out-degree over DISTINCT neighbors)); one row per occupied
    power-of-two band, the standard heavy-tail fingerprint."""
    deg = (
        edges.select("src", "dst")
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    bucket = (F.length(F.bin(F.col("degree"))) - 1).cast("long")
    return deg.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Newman's degree assortativity coefficient — the one-number answer
    to "do hubs link to hubs?" (positive: social-network-like; negative:
    hub-and-spoke/technological). It is the Pearson correlation of
    (deg(src), deg(dst)) over the DIRECTED edge list, where deg(v) is
    v's row count as ``src`` (a multigraph keeps its parallel edges):

        r = (M·Σxy − Σx·Σy) / sqrt((M·Σxx − (Σx)²) · (M·Σyy − (Σy)²))

    Exactness: degrees are integers, so the six sufficient statistics
    are exact integer sums (order-independent — no float-sum drift).
    The moment products run in decimal(38,0): M·Σxx already reaches
    4e19 on a dense co-activity graph, past both 2^63 (a long multiply
    wraps silently in non-ANSI mode) and 2^53 (a double product
    rounds). One IEEE sqrt+divide closes r inside a floor-e6. A
    zero-variance graph (every degree equal) has no r: NULL, never a
    division by zero (which raises under ANSI).

    Plan: one degree aggregate, two broadcast enrichment joins keyed by
    endpoint, one global 6-sum reduce, plus the node count from the
    degree table. Returns a single row
    (m_edges, sum_dx, sum_dy, n_nodes, assortativity_e6)."""
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("src", "node")
    # without the hint gr16 broadcasts the edges instead and gr22 plans a SortMergeJoin
    dx = F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("dx")))
    dy = F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")))  # without it gr22 plans a SortMergeJoin
    pairs = e.join(dx, "src").join(dy, "dst")
    agg = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    m, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("decimal(38,0)") for c in ("m", "sx", "sy", "sxy", "sxx", "syy")
    )
    num = m * sxy - sx * sy
    # sqrt(a)*sqrt(b), NOT sqrt(a*b): the product of the two variance
    # terms can outgrow even decimal(38,0)
    den = F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy)
    return agg.crossJoin(nodes).select(
        F.col("m").cast("long").alias("m_edges"),
        F.col("sx").cast("long").alias("sum_dx"),
        F.col("sy").cast("long").alias("sum_dy"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.when(den > 0, F.floor(num / den * 1_000_000).cast("long"))
        .alias("assortativity_e6"),
    )

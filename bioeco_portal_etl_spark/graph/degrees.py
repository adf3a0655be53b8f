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
    (deg(src), deg(dst)) over the DIRECTED edge list:

        r = (M·Σxy − Σx·Σy) / sqrt((M·Σxx − (Σx)²) · (M·Σyy − (Σy)²))

    Exactness: degrees are integers, so all six sufficient statistics
    are EXACT integer sums (order-independent — no float-sum drift);
    one IEEE sqrt+divide closes r inside a floor-e6. Overflow: deg <=
    1e6 and |E| <= 1e9 keeps M·Σxx under 2^63 for real degree
    distributions at the fixture scales (document before applying to a
    hub of degree > ~3e6).

    Plan: one degree aggregate, two broadcast enrichment joins keyed by
    endpoint, one global 6-sum reduce. Returns a single row
    (m_edges, sum_dx, sum_dy, assortativity_e6)."""
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("src", "node")
    # node-sized degree lookups broadcast onto the edge stream (guide §3.1)
    dx = F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("dx")))
    dy = F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")))
    pairs = e.join(dx, "src").join(dy, "dst")
    agg = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    # sqrt(a)*sqrt(b), NOT sqrt(a*b): each variance term fits int64 but
    # their PRODUCT can exceed 2^63 and Spark's non-ANSI long multiply
    # wraps silently (found the hard way: -560578 vs the true -121705)
    den = F.sqrt(
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) * F.sqrt(F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    return agg.select(
        F.col("m").cast("long").alias("m_edges"),
        F.col("sx").cast("long").alias("sum_dx"),
        F.col("sy").cast("long").alias("sum_dy"),
        F.floor(num / den * 1_000_000).cast("long").alias("assortativity_e6"),
    )

"""Point-in-polygon spatial join — the geo primitive Spark lacks, built as
bbox-blocked equi/broadcast join + exact even-odd ray cast in pure Column
algebra (no shapely round-trip, no UDF: the crossing test runs inside
whole-stage codegen).

The reference's spatial layer is polygon shapefiles + point surveys
(SURVEY.md §2.9; notebooks/index.Rmd:474-486 reads polygon layers, :434
builds point layers) — joining the two ("which monitoring area contains
this observation?") is the canonical downstream query the reference
delegates to GeoNode; this operator brings it into the engine.

Design:
  - Candidate generation, two tiers:
      * ``point_in_polygon_join`` — polygon bounding boxes; with a
        dimension-scale polygon set (protected areas, admin regions —
        thousands) the polygon table BROADCASTS and candidates come from
        a bbox theta-join evaluated map-side.
      * ``point_in_polygon_join_grid`` — the 100 TB path when the polygon
        side outgrows broadcast: polygons explode to the grid cells their
        bbox covers, points key by their cell, and candidates come from a
        SHUFFLED equi-join on (cell_x, cell_y) — both sides hash-partition
        by cell, no replication of either table beyond the per-polygon
        cell fan-out. Same exact-filter second stage; identical output.
  - Exact test: even-odd ray casting, DIVISION-FREE form — the crossing
    inequality is cross-multiplied so both engines evaluate identical
    IEEE doubles (a division would hit engine-specific div-by-zero
    semantics on horizontal edges: Spark yields ±Inf, DuckDB NULL).
    Per-edge crossings accumulate as an integer left fold (associative,
    engine-exact).

Polygons are (id, xs array<double>, ys array<double>) open rings (the
closing edge last->first is implicit via modular indexing).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _crossings(x: Column, y: Column, xs: Column, ys: Column) -> Column:
    """Number of polygon edges a rightward ray from (x, y) crosses."""
    n = F.size(xs)

    def edge(acc: Column, i: Column) -> Column:
        x1 = F.element_at(xs, i + 1)
        y1 = F.element_at(ys, i + 1)
        x2 = F.element_at(xs, (i + 1) % n + 1)
        y2 = F.element_at(ys, (i + 1) % n + 1)
        straddles = (y1 > y) != (y2 > y)
        # x < x1 + (x2-x1)(y-y1)/(y2-y1), cross-multiplied by (y2-y1):
        # the inequality flips with the sign of the multiplier, so compare
        # the sign of the determinant against the edge direction instead.
        det = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
        crosses = straddles & ((det > 0) == (y2 > y1))
        return acc + F.when(crosses, 1).otherwise(0)

    return F.aggregate(F.sequence(F.lit(0), n - 1), F.lit(0), edge)


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str,
    y_col: str,
    poly_id_col: str = "poly_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """Inner join of points to the polygons containing them (even-odd
    rule). Output: all point columns + ``poly_id_col``. Points on an edge
    follow the ray-cast asymmetry (left/bottom edges in, right/top out) —
    consistently in both engines, since the arithmetic is identical."""
    p = polygons.select(
        F.col(poly_id_col),
        F.col(xs_col).alias("__xs"),
        F.col(ys_col).alias("__ys"),
        F.array_min(F.col(xs_col)).alias("__minx"),
        F.array_max(F.col(xs_col)).alias("__maxx"),
        F.array_min(F.col(ys_col)).alias("__miny"),
        F.array_max(F.col(ys_col)).alias("__maxy"),
    )
    x, y = F.col(x_col), F.col(y_col)
    cand = points.join(
        p,
        (x >= F.col("__minx"))
        & (x <= F.col("__maxx"))
        & (y >= F.col("__miny"))
        & (y <= F.col("__maxy")),
    )
    inside = _crossings(x, y, F.col("__xs"), F.col("__ys")) % 2 == 1
    return cand.filter(inside).select(*points.columns, F.col(poly_id_col))


def point_in_polygon_join_grid(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str,
    y_col: str,
    poly_id_col: str = "poly_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
    cell_size: float = 10.0,
) -> DataFrame:
    """Grid-cell tier of :func:`point_in_polygon_join` — identical rows,
    different physical plan: candidates come from an equi-join on the grid
    cell, so NEITHER side needs to broadcast. Use when the polygon set is
    fact-scale (continent-of-parcels, not dimension-of-regions).

    Shape: each polygon replicates once per bbox-covered cell (fan-out
    ~(bbox/cell_size)²; pick cell_size near the median polygon diameter),
    each point lands in EXACTLY one cell, so a (point, polygon) candidate
    pair arises at most once and no post-join dedup is needed. The join is
    hinted shuffle_hash with the exploded polygon side as build: cells are
    the partition key, so skew follows spatial density — salt upstream or
    shrink cell_size if one cell dominates. The exact even-odd stage is the
    same codegen fold as the broadcast tier."""
    cs = F.lit(float(cell_size))
    p = polygons.select(
        F.col(poly_id_col),
        F.col(xs_col).alias("__xs"),
        F.col(ys_col).alias("__ys"),
        F.array_min(F.col(xs_col)).alias("__minx"),
        F.array_max(F.col(xs_col)).alias("__maxx"),
        F.array_min(F.col(ys_col)).alias("__miny"),
        F.array_max(F.col(ys_col)).alias("__maxy"),
    )
    cells = p.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("__minx") / cs), F.floor(F.col("__maxx") / cs)
            )
        ).alias("__cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("__miny") / cs), F.floor(F.col("__maxy") / cs)
            )
        ).alias("__cy"),
    )
    x, y = F.col(x_col), F.col(y_col)
    pts = points.select(
        "*",
        F.floor(x / cs).alias("__cx"),
        F.floor(y / cs).alias("__cy"),
    )
    cand = pts.join(cells.hint("shuffle_hash"), ["__cx", "__cy"]).filter(
        (x >= F.col("__minx"))
        & (x <= F.col("__maxx"))
        & (y >= F.col("__miny"))
        & (y <= F.col("__maxy"))
    )
    inside = _crossings(x, y, F.col("__xs"), F.col("__ys")) % 2 == 1
    return cand.filter(inside).select(*points.columns, F.col(poly_id_col))

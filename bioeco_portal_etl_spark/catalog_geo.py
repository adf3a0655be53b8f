"""Geometry catalog entries (g*): WKT points, multipoint and linestring
aggregates, GeoJSON, point-in-polygon and polygon measures (geo/). Coordinates
are integer-derived so WKT strings are byte-equal across engines.

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bioeco_portal_etl_spark.geo.wkt import geom_type, linestring_agg, multipoint_agg
from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


# ---------------------------------------------------------------------------
# Geometry (SURVEY.md §2.9) — integer-derived coords keep WKT byte-equal
# ---------------------------------------------------------------------------


def g1_point_wkt(spark: SparkSession, sf: str) -> DataFrame:
    """G1: WKT point construction from coordinate columns (index.Rmd:285)."""
    s = T(spark, sf, "supplier")
    lon = (F.pmod(F.col("s_suppkey") * 7, F.lit(360)) - 180).cast("long")
    lat = (F.pmod(F.col("s_suppkey") * 13, F.lit(180)) - 90).cast("long")
    return s.select(
        "s_suppkey",
        F.format_string("POINT (%d %d)", lon, lat).alias("geometry_wkt"),
    ).orderBy("s_suppkey")


G1_SQL = """
SELECT s_suppkey,
       'POINT (' || ((s_suppkey * 7) % 360 - 180) || ' ' || ((s_suppkey * 13) % 180 - 90) || ')' AS geometry_wkt
FROM supplier ORDER BY s_suppkey
"""


def g2_multipoint_union(spark: SparkSession, sf: str) -> DataFrame:
    """G2/A1e: per-group st_union of points -> MULTIPOINT (index.Rmd:332);
    members sorted+deduped for partition-invariance."""
    c = T(spark, sf, "customer")
    lon = (F.pmod(F.col("c_custkey") * 7, F.lit(360)) - 180).cast("long")
    lat = (F.pmod(F.col("c_custkey") * 13, F.lit(180)) - 90).cast("long")
    return (
        c.groupBy("c_nationkey")
        .agg(multipoint_agg(lon, lat).alias("geometry_wkt"))
        .orderBy("c_nationkey")
    )


G2_SQL = """
WITH pts AS (
  SELECT c_nationkey,
         ((c_custkey * 7) % 360 - 180) || ' ' || ((c_custkey * 13) % 180 - 90) AS pt
  FROM customer)
SELECT c_nationkey,
       'MULTIPOINT (' || string_agg(DISTINCT pt, ', ' ORDER BY pt) || ')' AS geometry_wkt
FROM pts GROUP BY c_nationkey ORDER BY c_nationkey
"""


def g9_union_points_geojson(spark: SparkSession, sf: str) -> DataFrame:
    """G3/A1e: per-group point union serialized as GeoJSON — the reference's
    sfc_geojson(st_union(...)) (index.Rmd:332). The fixture forces all three
    output shapes: groups ≡0 (mod 7) have only null coords (empty
    GeometryCollection), groups ≡3 collapse to one shared point (Point),
    the rest emit MultiPoint."""
    from bioeco_portal_etl_spark.geo.geojson import union_points_geojson_agg

    c = T(spark, sf, "customer")
    grp = F.col("c_custkey") % 97
    lon_m = (F.pmod(F.col("c_custkey") * 7, F.lit(360)) - 180).cast("long")
    lat_m = (F.pmod(F.col("c_custkey") * 13, F.lit(180)) - 90).cast("long")
    lon_1 = (F.pmod(grp * 7, F.lit(360)) - 180).cast("long")
    lat_1 = (F.pmod(grp * 13, F.lit(180)) - 90).cast("long")
    lon = F.when(grp % 7 == 3, lon_1).when(grp % 7 != 0, lon_m)
    lat = F.when(grp % 7 == 3, lat_1).when(grp % 7 != 0, lat_m)
    return (
        c.groupBy(grp.alias("grp"))
        .agg(union_points_geojson_agg(lon, lat).alias("geometry_geojson"))
        .orderBy("grp")
    )


G9_SQL = """
WITH pts AS (
  SELECT c_custkey % 97 AS grp,
         CASE WHEN (c_custkey % 97) % 7 = 0 THEN NULL
              WHEN (c_custkey % 97) % 7 = 3 THEN
                '[' || ((c_custkey % 97) * 7 % 360 - 180) || ',' ||
                ((c_custkey % 97) * 13 % 180 - 90) || ']'
              ELSE '[' || (c_custkey * 7 % 360 - 180) || ',' ||
                   (c_custkey * 13 % 180 - 90) || ']' END AS pt
  FROM customer),
g AS (
  SELECT grp,
         list_sort(list(DISTINCT pt) FILTER (WHERE pt IS NOT NULL)) AS ps
  FROM pts GROUP BY grp)
SELECT grp,
       CASE WHEN ps IS NULL OR len(ps) = 0
              THEN '{"type":"GeometryCollection","geometries":[]}'
            WHEN len(ps) = 1
              THEN '{"type":"Point","coordinates":' || ps[1] || '}'
            ELSE '{"type":"MultiPoint","coordinates":[' ||
                 list_aggregate(ps, 'string_agg', ',') || ']}'
       END AS geometry_geojson
FROM g ORDER BY grp
"""


def g7_linestring_track(spark: SparkSession, sf: str) -> DataFrame:
    """G7: ordered positions -> LINESTRING per order (index.Rmd:549-552)."""
    l = T(spark, sf, "lineitem")
    lon = (F.pmod(F.col("l_partkey") * 3, F.lit(360)) - 180).cast("long")
    lat = (F.pmod(F.col("l_suppkey") * 5, F.lit(180)) - 90).cast("long")
    track = (
        l.groupBy("l_orderkey")
        .agg(
            linestring_agg(lon, lat, F.col("l_linenumber")).alias("geometry_wkt"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .filter(F.col("n_points") >= 2)
        .drop("n_points")
    )
    return track.orderBy("l_orderkey")


G7_SQL = """
WITH pts AS (
  SELECT l_orderkey, l_linenumber,
         (l_partkey * 3) % 360 - 180 AS x, (l_suppkey * 5) % 180 - 90 AS y,
         ((l_partkey * 3) % 360 - 180) || ' ' || ((l_suppkey * 5) % 180 - 90) AS pt
  FROM lineitem)
SELECT l_orderkey,
       'LINESTRING (' || string_agg(pt, ', ' ORDER BY l_linenumber, x, y) || ')' AS geometry_wkt
FROM pts GROUP BY l_orderkey HAVING count(*) >= 2 ORDER BY l_orderkey
"""


def g5_geom_type(spark: SparkSession, sf: str) -> DataFrame:
    """G5: geometry-type introspection + F5/A5 homogeneity check
    (index.Rmd:409,475)."""
    g = g7_linestring_track(spark, sf)
    return g.select(
        "l_orderkey", geom_type("geometry_wkt").alias("geometry_type")
    ).orderBy("l_orderkey")


G5_SQL = """
WITH pts AS (
  SELECT l_orderkey, l_linenumber FROM lineitem)
SELECT l_orderkey, 'LINESTRING' AS geometry_type
FROM pts GROUP BY l_orderkey HAVING count(*) >= 2 ORDER BY l_orderkey
"""


def g10_point_in_polygon(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial join (geo/pip.py): customers as deterministic points on a
    [0,100)² plane, joined to a 5×5 lattice of diamond (rotated-square)
    polygons — non-axis-aligned on purpose, so the even-odd ray cast does
    real work the bbox prefilter can't fake. Broadcast polygons + map-side
    bbox candidates + codegen crossing fold; no UDF, no shuffle before the
    report sort."""
    from bioeco_portal_etl_spark.geo.pip import point_in_polygon_join

    c = T(spark, sf, "customer")
    pts = c.select(
        "c_custkey",
        (F.pmod(F.col("c_custkey") * 7, F.lit(1000)) / 10.0).alias("x"),
        (F.pmod(F.col("c_custkey") * 13, F.lit(1000)) / 10.0).alias("y"),
    )
    g = spark.range(25)
    cx = (F.col("id") / 5).cast("long").cast("double") * 20 + 10
    cy = (F.col("id") % 5).cast("double") * 20 + 10
    polys = g.select(
        F.col("id").alias("poly_id"),
        F.array(cx - 8, cx, cx + 8, cx).alias("xs"),
        F.array(cy, cy + 8, cy, cy - 8).alias("ys"),
    )
    return point_in_polygon_join(pts, polys, "x", "y").orderBy("c_custkey")


def g11_pip_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-cell tier of the g10 spatial join (geo/pip.py
    point_in_polygon_join_grid): SAME fixture, SAME rows, but candidates
    come from a shuffled equi-join on (cell_x, cell_y) with the polygon
    side exploded to covered cells — the 100 TB plan when the polygon set
    outgrows broadcast. Shares g10's DuckDB oracle verbatim; the plan
    difference (no broadcast of polygons) is pinned in test_plans.py."""
    from bioeco_portal_etl_spark.geo.pip import point_in_polygon_join_grid

    c = T(spark, sf, "customer")
    pts = c.select(
        "c_custkey",
        (F.pmod(F.col("c_custkey") * 7, F.lit(1000)) / 10.0).alias("x"),
        (F.pmod(F.col("c_custkey") * 13, F.lit(1000)) / 10.0).alias("y"),
    )
    g = spark.range(25)
    cx = (F.col("id") / 5).cast("long").cast("double") * 20 + 10
    cy = (F.col("id") % 5).cast("double") * 20 + 10
    polys = g.select(
        F.col("id").alias("poly_id"),
        F.array(cx - 8, cx, cx + 8, cx).alias("xs"),
        F.array(cy, cy + 8, cy, cy - 8).alias("ys"),
    )
    return point_in_polygon_join_grid(
        pts, polys, "x", "y", cell_size=10.0
    ).orderBy("c_custkey")


def g12_poly_measure(spark: SparkSession, sf: str) -> DataFrame:
    """Shoelace area + centroid (geo/measure.py): irregular quadrilaterals
    (diamonds with id-dependent radius and vertex jitter, so area and
    centroid genuinely vary per row and the centroid is off-center). All
    three shoelace sums are identical-order left folds on both engines —
    byte-exact doubles, floor-e4 quantized. Pure codegen: no UDF, no
    shuffle before the report sort."""
    from bioeco_portal_etl_spark.geo.measure import polygon_area_centroid

    g = spark.range(40)
    i = F.col("id")
    cx = (i % 8).cast("double") * 25 + 12
    cy = F.expr("id div 8").cast("double") * 25 + 12
    r = (i % 7).cast("double") + 4
    polys = g.select(
        i.alias("poly_id"),
        F.array(
            cx - r, cx + (i % 3).cast("double"), cx + r, cx - (i % 2).cast("double")
        ).alias("xs"),
        F.array(
            cy - (i % 5).cast("double"), cy + r, cy + (i % 4).cast("double"), cy - r
        ).alias("ys"),
    )
    return polygon_area_centroid(polys).orderBy("poly_id")


G12_SQL = """
WITH p AS (
  SELECT id AS poly_id,
         ((id % 8) * 25 + 12)::DOUBLE AS cx,
         ((id // 8) * 25 + 12)::DOUBLE AS cy,
         ((id % 7) + 4)::DOUBLE AS r,
         (id % 3)::DOUBLE AS jx1, (id % 2)::DOUBLE AS jx2,
         (id % 5)::DOUBLE AS jy1, (id % 4)::DOUBLE AS jy2
  FROM range(40) t(id)
),
v AS (
  SELECT poly_id,
         [cx - r, cx + jx1, cx + r, cx - jx2] AS xs,
         [cy - jy1, cy + r, cy + jy2, cy - r] AS ys
  FROM p
),
f AS (
  SELECT poly_id,
    list_reduce(list_prepend(0.0, list_transform(range(0, 4), i ->
      xs[i + 1] * ys[((i + 1) % 4) + 1] - xs[((i + 1) % 4) + 1] * ys[i + 1]
    )), (a, b) -> a + b) AS s,
    list_reduce(list_prepend(0.0, list_transform(range(0, 4), i ->
      (xs[i + 1] + xs[((i + 1) % 4) + 1]) *
      (xs[i + 1] * ys[((i + 1) % 4) + 1] - xs[((i + 1) % 4) + 1] * ys[i + 1])
    )), (a, b) -> a + b) AS sx,
    list_reduce(list_prepend(0.0, list_transform(range(0, 4), i ->
      (ys[i + 1] + ys[((i + 1) % 4) + 1]) *
      (xs[i + 1] * ys[((i + 1) % 4) + 1] - xs[((i + 1) % 4) + 1] * ys[i + 1])
    )), (a, b) -> a + b) AS sy
  FROM v
)
SELECT poly_id,
       floor(abs(s) / 2.0 * 10000)::BIGINT AS area_e4,
       CASE WHEN s <> 0.0 THEN floor(sx / (3.0 * s) * 10000)::BIGINT END AS cx_e4,
       CASE WHEN s <> 0.0 THEN floor(sy / (3.0 * s) * 10000)::BIGINT END AS cy_e4
FROM f ORDER BY poly_id
"""


G10_SQL = """
WITH pts AS (
  SELECT c_custkey, ((c_custkey * 7) % 1000) / 10.0 AS x,
         ((c_custkey * 13) % 1000) / 10.0 AS y
  FROM customer
),
poly AS (
  SELECT id AS poly_id, ((id // 5)::BIGINT * 20 + 10)::DOUBLE AS cx,
         ((id % 5) * 20 + 10)::DOUBLE AS cy
  FROM range(25) t(id)
),
v AS (
  SELECT poly_id, [cx - 8, cx, cx + 8, cx] AS xs,
         [cy, cy + 8, cy, cy - 8] AS ys, cx, cy
  FROM poly
),
cand AS (
  SELECT c_custkey, x, y, poly_id, xs, ys
  FROM pts, v
  WHERE x >= cx - 8 AND x <= cx + 8 AND y >= cy - 8 AND y <= cy + 8
),
cr AS (
  SELECT c_custkey, x, y, poly_id,
    list_reduce(list_prepend(0, list_transform(range(0, 4), i ->
      CASE WHEN ((ys[i + 1] > y) <> (ys[((i + 1) % 4) + 1] > y))
            AND (((xs[((i + 1) % 4) + 1] - xs[i + 1]) * (y - ys[i + 1])
                  - (x - xs[i + 1]) * (ys[((i + 1) % 4) + 1] - ys[i + 1]) > 0)
                 = (ys[((i + 1) % 4) + 1] > ys[i + 1]))
      THEN 1 ELSE 0 END)), (a, b) -> a + b) AS crossings
  FROM cand
)
SELECT c_custkey, x, y, poly_id FROM cr WHERE crossings % 2 = 1
ORDER BY c_custkey
"""


CATALOG = {
    "g1_point_wkt": (g1_point_wkt, G1_SQL),
    "g2_multipoint_union": (g2_multipoint_union, G2_SQL),
    "g5_geom_type": (g5_geom_type, G5_SQL),
    "g7_linestring_track": (g7_linestring_track, G7_SQL),
    "g9_union_points_geojson": (g9_union_points_geojson, G9_SQL),
    "g10_point_in_polygon": (g10_point_in_polygon, G10_SQL),
    "g11_pip_grid": (g11_pip_grid, G10_SQL),
    "g12_poly_measure": (g12_poly_measure, G12_SQL),
}

"""GeoJSON <-> geometry bridging (SURVEY.md §2.9 G3/G4, §2.1 S6).

Reference parity:
  - parse_feature_collection -> notebooks/index.Rmd:407-408 (geojson_sf on a
    column value holding a whole FeatureCollection)
  - geometry_to_geojson      -> notebooks/index.Rmd:332 (sfc_geojson)

Strategy: GeoJSON FeatureCollections held in a string column are parsed with
``from_json`` + ``explode`` — declarative, codegen-friendly, no Python. The
geometry of each feature stays compact GeoJSON text in the DataFrame.
``geojson_text_to_wkt`` renders one such text as WKT (coordinate arrays are
ragged, so rendering arbitrary nesting is Python); the layer writer calls it
inside the task that already writes the shapefiles, so no separate
Python-eval stage runs for it.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Schema for a FeatureCollection: geometry kept as raw JSON string so ragged
# coordinate nesting survives (coordinates depth differs per geometry type).
_FEATURE_SCHEMA = (
    "struct<type:string, features:array<struct<type:string, "
    "properties:map<string,string>, geometry:string>>>"
)


def explode_feature_collection(
    df: DataFrame, geojson_col: str, out_geom_col: str = "geometry_json"
) -> DataFrame:
    """Parse a FeatureCollection string column into one row per feature with
    the feature's geometry as a compact JSON string + its properties map.

    Null and the literal sentinel ``"null"`` are guarded (index.Rmd:403).
    """
    guarded = F.when(
        F.col(geojson_col).isNotNull() & (F.col(geojson_col) != "null"),
        F.col(geojson_col),
    )
    parsed = df.withColumn(
        "__fc",
        F.from_json(guarded, _FEATURE_SCHEMA, {"mode": "PERMISSIVE"}),
    )
    exploded = parsed.select(
        *df.columns,
        F.posexplode_outer(F.col("__fc.features")).alias("feature_idx", "__feat"),
    )
    return exploded.select(
        *df.columns,
        "feature_idx",
        F.col("__feat.geometry").alias(out_geom_col),
        F.col("__feat.properties").alias("feature_properties"),
    )


def _ring_to_wkt(coords) -> str:
    return "(" + ", ".join(f"{p[0]} {p[1]}" for p in coords) + ")"


def _geojson_geom_to_wkt(geom: dict) -> str:
    t = geom.get("type", "").upper()
    c = geom.get("coordinates")
    if t == "POINT":
        return f"POINT ({c[0]} {c[1]})" if c else "POINT EMPTY"
    if t == "MULTIPOINT":
        return "MULTIPOINT (" + ", ".join(f"{p[0]} {p[1]}" for p in c) + ")"
    if t == "LINESTRING":
        return "LINESTRING " + _ring_to_wkt(c)
    if t == "MULTILINESTRING":
        return "MULTILINESTRING (" + ", ".join(_ring_to_wkt(r) for r in c) + ")"
    if t == "POLYGON":
        return "POLYGON (" + ", ".join(_ring_to_wkt(r) for r in c) + ")"
    if t == "MULTIPOLYGON":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(_ring_to_wkt(r) for r in poly) + ")" for poly in c)
            + ")"
        )
    if t == "GEOMETRYCOLLECTION":
        geoms = geom.get("geometries", [])
        return "GEOMETRYCOLLECTION (" + ", ".join(_geojson_geom_to_wkt(g) for g in geoms) + ")"
    return None


def geojson_text_to_wkt(text: str | None) -> str | None:
    """WKT for one GeoJSON geometry string; None when the text is null, does
    not parse, or holds no geometry type that WKT renders."""
    try:
        return _geojson_geom_to_wkt(json.loads(text))
    except (ValueError, TypeError, IndexError, KeyError, AttributeError):
        return None


def union_points_geojson_agg(lon: Column | str, lat: Column | str) -> Column:
    """Aggregate: the group's point union serialized as compact GeoJSON —
    the reference's ``sfc_geojson(st_union(geometry_sfc))`` at
    notebooks/index.Rmd:332 (A1e in its GeoJSON form; multipoint_agg is the
    same union in WKT). Pure built-ins, whole-stage codegen.

    Shape mirrors sf/geojsonsf: one distinct point -> ``Point``, several ->
    ``MultiPoint``, none (all coords null) -> empty ``GeometryCollection``.
    Members are de-duplicated (st_union collapses duplicates) and sorted
    canonically for partition-invariant output (the reference inherits
    union's internal order — documented divergence, same member set)."""
    lon_c, lat_c = _col(lon), _col(lat)
    pair = F.when(
        lon_c.isNotNull() & lat_c.isNotNull(),
        F.format_string("[%s,%s]", lon_c.cast("string"), lat_c.cast("string")),
    )
    pts = F.array_sort(F.array_distinct(F.collect_list(pair)))
    return (
        F.when(
            F.size(pts) == 0,
            F.lit('{"type":"GeometryCollection","geometries":[]}'),
        )
        .when(
            F.size(pts) == 1,
            F.concat(
                F.lit('{"type":"Point","coordinates":'),
                F.element_at(pts, 1),
                F.lit("}"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"type":"MultiPoint","coordinates":['),
                F.array_join(pts, ","),
                F.lit("]}"),
            )
        )
    )


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c

"""Spatial-layer materialization — SURVEY.md §3 entry point 2 (K1/K2).

The reference walks 35 imperative call sites writing one shapefile directory
per program (notebooks/index.Rmd:401-587) and tracks coverage by MUTATING a
``has_shapefile`` column from inside writer functions (`<<-`,
index.Rmd:427,482,501). Re-expressed as dataflow:

  1. a LAYER-SOURCE table (identifier, geometry, attrs...) — whatever
     subset of programs has geometry, from any of the reference's source
     kinds (geojson column, site CSVs, gathered shapefiles, tracks); the
     geometry is text, GeoJSON or WKT;
  2. ``write_layers``: ONE distributed grouped write — repartition by
     identifier, each executor partition renders its GeoJSON features as
     WKT and writes its groups' .shp/.shx/.dbf;
  3. ``has_shapefile`` DERIVED per row from the GeoJSON column and the
     external-source names (pure dataflow, no mutation; the semi-join
     ``with_has_shapefile`` remains for an arbitrary layer table);
  4. ``write_empty_layers`` for the remainder (K2: the reference emits a
     valid zero-feature layer for 372 of 627 programs).

Scale: the shuffle is one hash partition on identifier; writes stream from
executors (foreachPartition), so layer export parallelism = partition count,
with no driver materialization.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bioeco_portal_etl_spark.geo.geojson import (
    _FEATURE_SCHEMA,
    explode_feature_collection,
    geojson_text_to_wkt,
)
from bioeco_portal_etl_spark.geo.shapefile import write_shapefile


def layer_table_from_geojson(
    programs: DataFrame,
    id_col: str = "identifier",
    geojson_col: str = "geometry_geojson",
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """EP2 step 1 (index.Rmd:401-416): programs with an embedded GeoJSON
    column -> one layer row per feature, its ``geometry`` the feature's
    GeoJSON geometry text. Handles BOTH column shapes the combined frame
    carries: FeatureCollections (the contacts survey's ErinSpatialGeoJSON)
    and bare geometries (the EuroSea flow's sfc_geojson(st_union(...))
    Point/MultiPoint strings) — geojson_sf() accepts both (index.Rmd:408).

    Composition: from_json + posexplode (geo/geojson) for collections, a
    zero-parse passthrough for bare geometries; JVM-only, no Python-eval
    stage. ``write_layers`` renders the text as WKT in its write task. The
    homogeneity filter comes from the caller (``layer_eligible``, A5/F5,
    the mixed-collection skip rule)."""
    attr_cols = attr_cols or []
    t = F.get_json_object(F.col(geojson_col), "$.type")
    fc = explode_feature_collection(
        programs.filter(t == "FeatureCollection"), geojson_col, "geometry"
    ).select(id_col, "geometry", *attr_cols)
    bare = programs.filter(
        t.isNotNull() & ~t.isin("FeatureCollection", "GeometryCollection")
    ).select(id_col, F.col(geojson_col).alias("geometry"), *attr_cols)
    return fc.unionByName(bare).filter(F.col("geometry").isNotNull())


def write_layers(
    layers: DataFrame,
    out_dir: str,
    id_col: str = "identifier",
    geom_col: str = "geometry",
    attr_cols: list[str] | None = None,
) -> None:
    """K1: write ``{out_dir}/{identifier}/{identifier}.shp`` per identifier.

    ``geom_col`` holds WKT or GeoJSON geometry text. GeoJSON (text that
    starts with ``{``) is rendered as WKT inside the write task, and a
    feature whose GeoJSON does not render is dropped; WKT and nulls pass
    through unchanged. Features for one identifier are grouped inside a
    partition (repartition on the key guarantees no identifier spans
    partitions) and sorted by WKT for deterministic record order."""
    attr_cols = attr_cols or []
    cols = [id_col, geom_col, *attr_cols]

    def write_partition(rows):
        by_id: dict[str, list] = {}
        for r in rows:
            wkt = r[geom_col]
            if wkt is not None and wkt.lstrip().startswith("{"):
                wkt = geojson_text_to_wkt(wkt)
                if wkt is None:
                    continue
            by_id.setdefault(r[id_col], []).append(
                (wkt, {c: r[c] for c in attr_cols})
            )
        for ident, feats in by_id.items():
            feats.sort(key=lambda f: (f[0] is None, f[0] or ""))
            write_shapefile(
                os.path.join(out_dir, ident, ident), feats, field_names=attr_cols
            )

    layers.select(*cols).repartition(F.col(id_col)).foreachPartition(write_partition)


def layer_eligible(geojson_col: str = "geometry_geojson") -> Column:
    """True where the embedded GeoJSON exports as a homogeneous shapefile
    layer (index.Rmd:401-415): non-null, not the literal ``"null"``
    sentinel, and either a bare geometry other than a GeometryCollection
    or a FeatureCollection whose non-null feature geometry types number
    exactly one (the reference's mixed-geometry skip), that one not a
    GeometryCollection: a shapefile holds no collection type. One
    row-level Column, JVM-side: no explode, groupBy or join copies the lineage.
    Together with EXTERNAL_LAYER_NAMES it reproduces the published run's
    372 missing-spatial programs (tests/test_reference_golden_counts.py)."""
    g = F.col(geojson_col)
    t = F.get_json_object(g, "$.type")
    feats = F.from_json(g, _FEATURE_SCHEMA, {"mode": "PERMISSIVE"}).features
    types = F.transform(feats, lambda f: F.get_json_object(f.geometry, "$.type"))
    distinct = F.array_distinct(F.filter(types, lambda x: x.isNotNull()))
    bare = t.isNotNull() & ~t.isin("FeatureCollection", "GeometryCollection")
    homog = (
        (t == "FeatureCollection")
        & (F.size(distinct) == 1)
        & ~F.array_contains(distinct, "GeometryCollection")
    )
    return g.isNotNull() & (g != "null") & (bare | homog)


def layer_eligible_identifiers(
    programs: DataFrame,
    id_col: str = "identifier",
    geojson_col: str = "geometry_geojson",
) -> DataFrame:
    """Identifiers of the programs whose GeoJSON passes ``layer_eligible``."""
    return programs.filter(layer_eligible(geojson_col)).select(id_col)


def with_has_shapefile_from_sources(
    programs: DataFrame,
    external_names: list[str] | tuple[str, ...] = (),
    id_col: str = "identifier",
    geojson_col: str = "geometry_geojson",
    name_col: str = "name",
) -> DataFrame:
    """EP2 coverage, derived per row: has_shapefile = (GeoJSON column
    exports a homogeneous layer) OR (program name is served by an external
    spatial source — site CSVs, gathered/copied shapefiles, TSV/XLSX
    tracks; the reference's 34 imperative call sites at
    index.Rmd:443-462,486,505,513-520,526,542 keyed by name), false for a
    null identifier. Replaces the notebook's ``<<-`` mutation bookkeeping
    with one row-level Column; with the unique identifiers ``combine``
    makes, it equals the ``with_has_shapefile`` semi-join."""
    written = layer_eligible(geojson_col)
    if external_names:
        written = written | F.col(name_col).isin(*external_names)
    return programs.withColumn(
        "has_shapefile",
        F.coalesce(F.col(id_col).isNotNull() & written, F.lit(False)),
    )


def with_has_shapefile(
    programs: DataFrame, layers: DataFrame, id_col: str = "identifier"
) -> DataFrame:
    """Derive has_shapefile as membership in the layer table — replaces the
    reference's global-mutation bookkeeping with a broadcast semi-join."""
    written = layers.select(F.col(id_col)).distinct().withColumn(
        "__has", F.lit(True)
    )
    # unmeasured: no catalog query or portal stage reaches this join
    joined = programs.join(F.broadcast(written), id_col, "left")
    return joined.withColumn(
        "has_shapefile", F.coalesce(F.col("__has"), F.lit(False))
    ).drop("__has")


def write_empty_layers(
    programs: DataFrame, out_dir: str, id_col: str = "identifier"
) -> None:
    """K2: a valid zero-feature layer for every program with
    has_shapefile == False (the GeoNode import step requires one per
    program)."""
    missing = programs.filter(~F.col("has_shapefile")).select(id_col)

    def write_partition(rows):
        for r in rows:
            ident = r[id_col]
            write_shapefile(os.path.join(out_dir, ident, ident), [], ["identifier"])

    missing.repartition(F.col(id_col)).foreachPartition(write_partition)

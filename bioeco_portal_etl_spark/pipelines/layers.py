"""Spatial-layer materialization — SURVEY.md §3 entry point 2 (K1/K2).

The reference walks 35 imperative call sites writing one shapefile directory
per program (notebooks/index.Rmd:401-587) and tracks coverage by MUTATING a
``has_shapefile`` column from inside writer functions (`<<-`,
index.Rmd:427,482,501). Re-expressed as dataflow:

  1. a LAYER-SOURCE table (identifier, geometry_wkt, attrs...) — whatever
     subset of programs has geometry, from any of the reference's source
     kinds (geojson column, site CSVs, gathered shapefiles, tracks);
  2. ``write_layers``: ONE distributed grouped write — repartition by
     identifier, each executor partition writes its groups' .shp/.shx/.dbf;
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

from bioeco_portal_etl_spark.geo.shapefile import write_shapefile


def layer_table_from_geojson(
    programs: DataFrame,
    id_col: str = "identifier",
    geojson_col: str = "geometry_geojson",
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """EP2 step 1 (index.Rmd:401-416): programs with an embedded GeoJSON
    column -> one layer row per feature with WKT geometry. Handles BOTH
    column shapes the combined frame carries: FeatureCollections (the
    contacts survey's ErinSpatialGeoJSON) and bare geometries (the EuroSea
    flow's sfc_geojson(st_union(...)) Point/MultiPoint strings) —
    geojson_sf() accepts both (index.Rmd:408).

    Composition: from_json + posexplode (geo/geojson) for collections, a
    zero-parse passthrough for bare geometries -> pandas-UDF WKT rendering
    on geometry-bearing rows only -> homogeneity filter comes from the
    caller via geom_type (A5/F5, the mixed-collection skip rule)."""
    from bioeco_portal_etl_spark.geo.geojson import (
        explode_feature_collection,
        geojson_to_wkt,
    )

    attr_cols = attr_cols or []
    t = F.get_json_object(F.col(geojson_col), "$.type")
    fc = explode_feature_collection(
        programs.filter(t == "FeatureCollection"), geojson_col
    ).select(id_col, "geometry_json", *attr_cols)
    bare = programs.filter(
        t.isNotNull() & ~t.isin("FeatureCollection", "GeometryCollection")
    ).select(
        id_col, F.col(geojson_col).alias("geometry_json"), *attr_cols
    )
    feats = fc.unionByName(bare)
    return (
        feats.filter(F.col("geometry_json").isNotNull())
        .select(
            F.col(id_col),
            geojson_to_wkt("geometry_json").alias("geometry_wkt"),
            *[F.col(c) for c in attr_cols],
        )
        .filter(F.col("geometry_wkt").isNotNull())
    )


def write_layers(
    layers: DataFrame,
    out_dir: str,
    id_col: str = "identifier",
    wkt_col: str = "geometry_wkt",
    attr_cols: list[str] | None = None,
) -> None:
    """K1: write ``{out_dir}/{identifier}/{identifier}.shp`` per identifier.

    Features for one identifier are grouped inside a partition (repartition
    on the key guarantees no identifier spans partitions) and sorted by WKT
    for deterministic record order."""
    attr_cols = attr_cols or []
    cols = [id_col, wkt_col, *attr_cols]

    def write_partition(rows):
        by_id: dict[str, list] = {}
        for r in rows:
            by_id.setdefault(r[id_col], []).append(r)
        for ident, feats in by_id.items():
            feats.sort(key=lambda r: (r[wkt_col] is None, r[wkt_col] or ""))
            base = os.path.join(out_dir, ident, ident)
            write_shapefile(
                base,
                [(r[wkt_col], {c: r[c] for c in attr_cols}) for r in feats],
                field_names=attr_cols,
            )

    layers.select(*cols).repartition(F.col(id_col)).foreachPartition(write_partition)


def layer_eligible(geojson_col: str = "geometry_geojson") -> Column:
    """True where the embedded GeoJSON exports as a homogeneous shapefile
    layer (index.Rmd:401-415): non-null, not the literal ``"null"``
    sentinel, and either a bare geometry other than a GeometryCollection
    or a FeatureCollection whose non-null feature geometry types number
    exactly one (the reference's mixed-geometry skip). One row-level
    Column, JVM-side: no explode, groupBy or join copies the lineage.
    Together with EXTERNAL_LAYER_NAMES it reproduces the published run's
    372 missing-spatial programs (tests/test_reference_golden_counts.py)."""
    from bioeco_portal_etl_spark.geo.geojson import _FEATURE_SCHEMA

    g = F.col(geojson_col)
    t = F.get_json_object(g, "$.type")
    feats = F.from_json(g, _FEATURE_SCHEMA, {"mode": "PERMISSIVE"}).features
    types = F.transform(feats, lambda f: F.get_json_object(f.geometry, "$.type"))
    n_types = F.size(F.array_distinct(F.filter(types, lambda x: x.isNotNull())))
    bare = t.isNotNull() & ~t.isin("FeatureCollection", "GeometryCollection")
    homog = (t == "FeatureCollection") & (n_types == 1)
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

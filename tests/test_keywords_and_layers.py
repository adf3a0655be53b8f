"""EP2 geojson->layer-table composition and the eov_to_keywords companion
flow (SURVEY.md §3)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from bioeco_portal_etl_spark.geo.geojson import (
    explode_feature_collection,
    geojson_text_to_wkt,
)
from bioeco_portal_etl_spark.geo.shapefile import read_shapefile
from bioeco_portal_etl_spark.pipelines.keywords import eov_keyword_links
from bioeco_portal_etl_spark.pipelines.layers import (
    layer_eligible_identifiers,
    layer_table_from_geojson,
    with_has_shapefile,
    with_has_shapefile_from_sources,
    write_layers,
)


def _fc(*geoms):
    return json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "properties": {}, "geometry": g} for g in geoms
            ],
        }
    )


def test_geojson_to_layers_end_to_end(spark, tmp_path):
    programs = spark.createDataFrame(
        [
            ("prog_pt", _fc({"type": "Point", "coordinates": [1.5, 2.5]})),
            (
                "prog_poly",
                _fc(
                    {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]},
                    {"type": "Polygon", "coordinates": [[[5, 5], [6, 5], [6, 6], [5, 5]]]},
                ),
            ),
            ("prog_none", None),
            ("prog_null", "null"),
        ],
        "identifier string, geometry_geojson string",
    )
    layers = layer_table_from_geojson(programs)
    rows = {(r.identifier, geojson_text_to_wkt(r.geometry)) for r in layers.collect()}
    assert rows == {
        ("prog_pt", "POINT (1.5 2.5)"),
        ("prog_poly", "POLYGON ((0 0, 1 0, 1 1, 0 0))"),
        ("prog_poly", "POLYGON ((5 5, 6 5, 6 6, 5 5))"),
    }

    # A5 homogeneity check composes on the layer table
    homo = layers.groupBy("identifier").agg(
        F.countDistinct(F.get_json_object("geometry", "$.type")).alias("n_types")
    )
    assert all(r.n_types == 1 for r in homo.collect())

    out = str(tmp_path / "layers")
    write_layers(layers, out)
    flagged = with_has_shapefile(programs, layers)
    flags = {r.identifier: r.has_shapefile for r in flagged.collect()}
    assert flags == {
        "prog_pt": True, "prog_poly": True, "prog_none": False, "prog_null": False,
    }
    back = read_shapefile(os.path.join(out, "prog_poly", "prog_poly"))
    assert len(back) == 2 and all(w.startswith("POLYGON") for w, _ in back)


def _udf_layer_table(programs, attr_cols):
    """Oracle: the layer table as built before write_layers took over the
    rendering — a pandas UDF renders each feature's GeoJSON as WKT and rows
    it could not render are filtered out."""
    from pyspark.sql.functions import pandas_udf

    from bioeco_portal_etl_spark.geo.geojson import _geojson_geom_to_wkt

    def wkt_conv(geom_json):
        def conv(s):
            if s is None:
                return None
            try:
                return _geojson_geom_to_wkt(json.loads(s))
            except (ValueError, TypeError, IndexError, KeyError):
                return None

        return geom_json.map(conv)

    t = F.get_json_object(F.col("geometry_geojson"), "$.type")
    fc = explode_feature_collection(
        programs.filter(t == "FeatureCollection"), "geometry_geojson"
    ).select("identifier", "geometry_json", *attr_cols)
    bare = programs.filter(
        t.isNotNull() & ~t.isin("FeatureCollection", "GeometryCollection")
    ).select("identifier", F.col("geometry_geojson").alias("geometry_json"), *attr_cols)
    return (
        fc.unionByName(bare)
        .filter(F.col("geometry_json").isNotNull())
        .select(
            "identifier",
            pandas_udf(wkt_conv, "string")("geometry_json").alias("geometry"),
            *attr_cols,
        )
        .filter(F.col("geometry").isNotNull())
    )


_POINT = {"type": "Point", "coordinates": [1.5, 2.5]}
_LAYER_PROGRAMS = [
    ("pt", _fc(_POINT, {"type": "Point", "coordinates": [-3.25, 0.125]})),
    ("mpt", json.dumps({"type": "MultiPoint", "coordinates": [[1, 2], [3.5, 4]]})),
    ("line", _fc({"type": "LineString", "coordinates": [[0, 0], [1, 1], [2, 0.5]]})),
    ("poly", json.dumps(
        {"type": "Polygon", "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 0]],
                                            [[1, 1], [2, 1], [2, 2], [1, 1]]]})),
    ("mpoly", _fc({"type": "MultiPolygon", "coordinates": [
        [[[0, 0], [1, 0], [1, 1], [0, 0]]], [[[5, 5], [6, 5], [6, 6], [5, 5]]]]})),
    ("gc", _fc({"type": "GeometryCollection", "geometries": [
        _POINT, {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}]})),
    # one feature renders, the other (a one-number Point) does not
    ("partial", _fc(_POINT, {"type": "Point", "coordinates": [7]})),
    ("malformed", '{"type": "Polygon", "coordinates": 5}'),
    ("unknown_type", json.dumps({"type": "Curve", "coordinates": [[0, 0]]})),
    ("null_geometry", _fc(None)),
    ("null_literal", "null"),
    ("null", None),
]


def _layer_programs(spark):
    rows = [(i, g, f"name of {i}") for i, g in _LAYER_PROGRAMS]
    return spark.createDataFrame(
        rows, "identifier string, geometry_geojson string, name string"
    )


def _python_eval_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("BatchEvalPython", "ArrowEvalPython") if n in plan]


def test_layer_table_runs_no_python_eval_stage(spark):
    programs = _layer_programs(spark)
    assert _python_eval_nodes(layer_table_from_geojson(programs, attr_cols=["name"])) == []
    # the check sees the pandas UDF's node where there is one
    assert _python_eval_nodes(_udf_layer_table(programs, ["name"])) == ["ArrowEvalPython"]


def _tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_write_layers_bytes_equal_udf_rendering(spark, tmp_path):
    """The GeoJSON rendered inside write_layers is the pandas UDF's WKT for
    every geometry type, with the same rows dropped, and writes the same
    shapefile bytes."""
    programs = _layer_programs(spark)
    udf = _udf_layer_table(programs, ["name"])
    want = sorted((r.identifier, r.geometry) for r in udf.collect())
    got = sorted(
        (r.identifier, wkt)
        for r in layer_table_from_geojson(programs, attr_cols=["name"]).collect()
        if (wkt := geojson_text_to_wkt(r.geometry)) is not None
    )
    assert got == want
    assert {w.split(" ")[0] for _, w in want} == {
        "POINT", "MULTIPOINT", "LINESTRING", "POLYGON", "MULTIPOLYGON",
        "GEOMETRYCOLLECTION",
    }

    # the shapefile writer takes the four single-part-kind types only
    writable = programs.filter(~F.col("identifier").isin("mpoly", "gc"))
    got_dir, want_dir = str(tmp_path / "writer"), str(tmp_path / "udf")
    write_layers(layer_table_from_geojson(writable, attr_cols=["name"]), got_dir,
                 attr_cols=["name"])
    write_layers(_udf_layer_table(writable, ["name"]), want_dir, attr_cols=["name"])
    assert sorted(os.listdir(want_dir)) == ["line", "mpt", "partial", "poly", "pt"]
    got_bytes, want_bytes = _tree_bytes(got_dir), _tree_bytes(want_dir)
    assert got_bytes.keys() == want_bytes.keys()
    assert [k for k in want_bytes if got_bytes[k] != want_bytes[k]] == []
    partial = read_shapefile(os.path.join(got_dir, "partial", "partial"))
    assert [w for w, _ in partial] == ["POINT (1.5 2.5)"]


def test_eov_keyword_links(spark):
    links = spark.createDataFrame(
        [(11, "phytoplankton"), (11, "seagrass"), (12, "phytoplankton"), (13, "unmapped")],
        "layer_id int, short_name string",
    )
    tkeywords = spark.createDataFrame(
        [
            (1, "phytoplankton", "https://vocab.nerc.ac.uk/goosocean/1"),
            (2, "seagrass", "https://vocab.nerc.ac.uk/goosocean/2"),
            (3, "phytoplankton", "https://other.vocab/xx"),  # filtered by F4
        ],
        "id int, alt_label string, about string",
    )
    out = eov_keyword_links(links, tkeywords)
    rows = {(r.resourcebase_id, r.tkeyword_id) for r in out.collect()}
    assert rows == {(11, 1), (11, 2), (12, 1)}


def _has_shapefile_by_semi_join(programs, external_names):
    """Oracle: the set-based derivation the row-level Column replaced —
    bare types, plus FeatureCollections exploded and grouped to one
    distinct geometry type, plus external names, semi-joined back."""
    g = F.col("geometry_geojson")
    guarded = programs.filter(g.isNotNull() & (g != "null"))
    t = F.get_json_object(g, "$.type")
    bare = guarded.filter(
        t.isNotNull() & ~t.isin("FeatureCollection", "GeometryCollection")
    ).select("identifier")
    feats = explode_feature_collection(
        guarded.filter(t == "FeatureCollection").select("identifier", "geometry_geojson"),
        "geometry_geojson",
    )
    homog = (
        feats.withColumn("__gt", F.get_json_object("geometry_json", "$.type"))
        .groupBy("identifier")
        .agg(F.count_distinct("__gt").alias("__n_types"))
        .filter(F.col("__n_types") == 1)
        .select("identifier")
    )
    ext = programs.filter(F.col("name").isin(*external_names)).select("identifier")
    return with_has_shapefile(programs, bare.union(homog).union(ext).distinct())


def test_layer_eligible_matches_semi_join_derivation(spark):
    point = {"type": "Point", "coordinates": [1.0, 2.0]}
    poly = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}
    rows = [
        ("null_json", "id_null_json", None),
        ("null_literal", "id_null_literal", "null"),
        ("malformed", "id_malformed", '{"type": "FeatureCollection", "features": ['),
        ("not_json", "id_not_json", "POINT (1 2)"),
        ("bare_point", "id_bare_point", json.dumps(point)),
        ("bare_multipoint", "id_bare_multipoint",
         json.dumps({"type": "MultiPoint", "coordinates": [[1, 2], [3, 4]]})),
        ("geometry_collection", "id_geometry_collection",
         json.dumps({"type": "GeometryCollection", "geometries": [point]})),
        ("fc_homogeneous", "id_fc_homogeneous", _fc(point, point)),
        ("fc_mixed", "id_fc_mixed", _fc(point, poly)),
        ("fc_empty", "id_fc_empty", _fc()),
        ("fc_null_geometry", "id_fc_null_geometry", _fc(None)),
        ("fc_point_and_null", "id_fc_point_and_null", _fc(point, None)),
        ("null_identifier", None, json.dumps(point)),
        ("external", "id_external", None),
    ]
    programs = spark.createDataFrame(
        rows, "name string, identifier string, geometry_geojson string"
    )
    external = ["external"]
    got = {
        r["name"]: r.has_shapefile
        for r in with_has_shapefile_from_sources(programs, external).collect()
    }
    want = {
        r["name"]: r.has_shapefile
        for r in _has_shapefile_by_semi_join(programs, external).collect()
    }
    assert got == want
    assert {n for n, v in got.items() if v} == {
        "bare_point", "bare_multipoint", "fc_homogeneous", "fc_point_and_null",
        "external",
    }
    eligible = {r.identifier for r in layer_eligible_identifiers(programs).collect()}
    assert eligible == {
        "id_bare_point", "id_bare_multipoint", "id_fc_homogeneous",
        "id_fc_point_and_null", None,
    }

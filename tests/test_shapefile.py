"""Shapefile IO + layer materialization tests (SURVEY.md §2.1 S5, §2.2 K1/K2,
§3 EP2)."""

from __future__ import annotations

import os
import struct

import pyspark.sql.functions as F

from bioeco_portal_etl_spark.geo.shapefile import (
    parse_wkt,
    read_shapefile,
    write_shapefile,
)
from bioeco_portal_etl_spark.pipelines.layers import (
    with_has_shapefile,
    write_empty_layers,
    write_layers,
)


def test_wkt_roundtrip_all_types(tmp_path):
    feats = [
        ("POINT (2.5 41)", {"name": "a"}),
        ("MULTIPOINT (1 2, 3 4)", {"name": "b"}),
        ("LINESTRING (0 0, 1 1, 2 0)", {"name": "c"}),
        ("POLYGON ((0 0, 4 0, 4 4, 0 0), (1 1, 2 1, 2 2, 1 1))", {"name": "d"}),
        (None, {"name": "e"}),
    ]
    for wkt, attrs in feats:
        base = str(tmp_path / attrs["name"] / attrs["name"])
        write_shapefile(base, [(wkt, attrs)], ["name"])
        back = read_shapefile(base)
        assert len(back) == 1
        assert back[0][0] == wkt
        assert back[0][1]["name"] == attrs["name"]


def test_mixed_layer_and_attr_fidelity(tmp_path):
    feats = [
        ("POINT (1 1)", {"site": "s1", "depth": "10"}),
        ("POINT (2 2)", {"site": "s2", "depth": None}),
    ]
    base = str(tmp_path / "layer" / "layer")
    write_shapefile(base, feats, ["site", "depth"])
    back = read_shapefile(base)
    assert [b[0] for b in back] == ["POINT (1 1)", "POINT (2 2)"]
    assert back[0][1] == {"site": "s1", "depth": "10"}
    assert back[1][1]["depth"] is None


def test_long_multibyte_attr_truncates_on_char_boundary(tmp_path):
    """An attribute overflowing the fixed 80-byte C field must not split a
    multi-byte UTF-8 character: the round-trip value is a clean prefix of
    the original, with no replacement characters."""
    long_val = "Estación de Fotobiología " * 5  # 'ó' is 2 bytes; > 80 bytes
    feats = [("POINT (1 1)", {"site": long_val})]
    base = str(tmp_path / "layer" / "layer")
    write_shapefile(base, feats, ["site"])
    back = read_shapefile(base)
    got = back[0][1]["site"]
    assert "�" not in got
    assert long_val.startswith(got)
    assert len(got.encode("utf-8")) <= 80


def test_empty_layer_is_valid(tmp_path):
    base = str(tmp_path / "empty" / "empty")
    assert write_shapefile(base, [], ["identifier"]) == 0
    # well-formed: magic + declared length match the file
    with open(base + ".shp", "rb") as f:
        head = f.read(100)
    assert struct.unpack(">i", head[:4])[0] == 9994
    assert struct.unpack(">i", head[24:28])[0] * 2 == os.path.getsize(base + ".shp")
    assert read_shapefile(base) == []


def test_parse_wkt_errors():
    import pytest

    with pytest.raises(ValueError):
        parse_wkt("GEOMETRYCOLLECTION (POINT (1 1))")
    assert parse_wkt("POINT EMPTY") == (0, [])
    assert parse_wkt(None) == (0, [])


def test_distributed_layer_write_and_has_shapefile(spark, tmp_path):
    out = str(tmp_path / "layers")
    programs = spark.createDataFrame(
        [("prog_a",), ("prog_b",), ("prog_c",)], "identifier string"
    )
    layers = spark.createDataFrame(
        [
            ("prog_a", "POINT (1 2)", "s1"),
            ("prog_a", "POINT (3 4)", "s2"),
            ("prog_b", "LINESTRING (0 0, 1 1)", "s3"),
        ],
        "identifier string, geometry string, site string",
    )
    write_layers(layers, out, attr_cols=["site"])
    flagged = with_has_shapefile(programs, layers)
    flags = {r.identifier: r.has_shapefile for r in flagged.collect()}
    assert flags == {"prog_a": True, "prog_b": True, "prog_c": False}
    write_empty_layers(flagged, out)

    # every program has a directory; features round-trip; empties are valid
    a = read_shapefile(os.path.join(out, "prog_a", "prog_a"))
    assert [f[0] for f in a] == ["POINT (1 2)", "POINT (3 4)"]
    assert {f[1]["site"] for f in a} == {"s1", "s2"}
    b = read_shapefile(os.path.join(out, "prog_b", "prog_b"))
    assert b[0][0] == "LINESTRING (0 0, 1 1)"
    assert read_shapefile(os.path.join(out, "prog_c", "prog_c")) == []


def test_layer_write_into_spark_roundtrip(spark, tmp_path):
    """S5: files written by the sink load back through createDataFrame —
    the driver-side scan bridge for dimension-scale spatial inputs."""
    out = str(tmp_path / "layers")
    layers = spark.createDataFrame(
        [("p", "POLYGON ((0 0, 2 0, 2 2, 0 0))", "x")],
        "identifier string, geometry string, site string",
    )
    write_layers(layers, out, attr_cols=["site"])
    feats = read_shapefile(os.path.join(out, "p", "p"))
    df = spark.createDataFrame(
        [(w, a.get("site")) for w, a in feats], "geometry_wkt string, site string"
    )
    assert df.collect()[0].geometry_wkt == "POLYGON ((0 0, 2 0, 2 2, 0 0))"


def test_every_layer_eligible_geometry_type_writes(spark, tmp_path):
    """Every row ``layer_eligible`` passes reaches the shapefile: a
    MultiLineString writes as a PolyLine with one part per line and reads
    back as MULTILINESTRING; a MultiPolygon writes as a Polygon with one
    part per ring. Collections of GeometryCollections are refused like a
    bare one, and a null feature geometry does not refuse its collection."""
    import json

    from bioeco_portal_etl_spark.pipelines.layers import (
        layer_eligible,
        layer_table_from_geojson,
    )

    def fc(*geoms):
        feats = [{"type": "Feature", "properties": {}, "geometry": g} for g in geoms]
        return json.dumps({"type": "FeatureCollection", "features": feats})

    pt = {"type": "Point", "coordinates": [1, 2]}
    gc = {"type": "GeometryCollection", "geometries": [pt]}
    sources = {
        "pt": (pt, "POINT (1 2)"),
        "mpt": ({"type": "MultiPoint", "coordinates": [[1, 2], [3, 4]]}, "MULTIPOINT (1 2, 3 4)"),
        "ln": ({"type": "LineString", "coordinates": [[0, 0], [1, 1]]}, "LINESTRING (0 0, 1 1)"),
        "mln": (
            {"type": "MultiLineString", "coordinates": [[[0, 0], [1, 1]], [[2, 2], [3, 3]]]},
            "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        ),
        "pg": (
            {"type": "Polygon", "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 0]]]},
            "POLYGON ((0 0, 4 0, 4 4, 0 0))",
        ),
        "mpg": (
            {"type": "MultiPolygon", "coordinates": [
                [[[0, 0], [4, 0], [4, 4], [0, 0]]], [[[5, 5], [6, 5], [6, 6], [5, 5]]]]},
            "POLYGON ((0 0, 4 0, 4 4, 0 0), (5 5, 6 5, 6 6, 5 5))",
        ),
    }
    rows = [(k, json.dumps(g)) for k, (g, _) in sources.items()]
    rows += [("fc_pt", fc(pt, None)), ("gc", json.dumps(gc)), ("fc_gc", fc(gc, gc))]
    programs = spark.createDataFrame(rows, "identifier string, geometry_geojson string")
    eligible = programs.filter(layer_eligible())
    assert {r.identifier for r in eligible.collect()} == {*sources, "fc_pt"}

    out = str(tmp_path / "layers")
    write_layers(layer_table_from_geojson(eligible), out)
    for ident, (_, wkt) in sources.items():
        assert [f[0] for f in read_shapefile(os.path.join(out, ident, ident))] == [wkt]
    assert [f[0] for f in read_shapefile(os.path.join(out, "fc_pt", "fc_pt"))] == ["POINT (1 2)"]

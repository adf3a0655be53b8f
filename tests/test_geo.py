"""Geo layer tests (SURVEY.md §2.9): GeoJSON FeatureCollection explode,
GeoJSON->WKT rendering, UTM->WGS84 inverse transform."""

from __future__ import annotations

import json
import math

import numpy as np

from bioeco_portal_etl_spark.geo.crs import _utm_to_wgs84_np, utm_to_wgs84
from bioeco_portal_etl_spark.geo.geojson import (
    explode_feature_collection,
    geojson_text_to_wkt,
)

FC = json.dumps(
    {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "site-a"},
                "geometry": {"type": "Point", "coordinates": [2.5, 41.0]},
            },
            {
                "type": "Feature",
                "properties": {"name": "site-b"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]],
                },
            },
        ],
    }
)


def test_explode_feature_collection(spark):
    df = spark.createDataFrame(
        [(1, FC), (2, None), (3, "null")], "pid int, gj string"
    )
    out = explode_feature_collection(df, "gj").collect()
    by_pid = {}
    for r in out:
        by_pid.setdefault(r.pid, []).append(r)
    assert len(by_pid[1]) == 2
    assert by_pid[1][0].feature_properties["name"] == "site-a"
    # guarded rows survive with null geometry (posexplode_outer)
    assert by_pid[2][0].geometry_json is None
    assert by_pid[3][0].geometry_json is None


def test_geojson_to_wkt_types():
    """The renderer write_layers applies to GeoJSON geometry text."""
    wkt = [
        geojson_text_to_wkt(g)
        for g in (
            '{"type":"Point","coordinates":[2.5,41.0]}',
            '{"type":"LineString","coordinates":[[0,0],[1,1]]}',
            '{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}',
            None,
        )
    ]
    assert wkt[0] == "POINT (2.5 41.0)"
    assert wkt[1] == "LINESTRING (0 0, 1 1)"
    assert wkt[2].startswith("POLYGON ((0 0, 1 0, 1 1, 0 0))")
    assert wkt[3] is None


def _forward_tm(lat_deg, lon_deg, zone, k0=0.9996, a=6378137.0, f_inv=298.257223563):
    """Independent forward Transverse Mercator (Snyder PP1395 eq. 8-9..8-13)
    used only to round-trip-check the engine's inverse."""
    e2 = (2 - 1 / f_inv) / f_inv
    ep2 = e2 / (1 - e2)
    lat, lon = math.radians(lat_deg), math.radians(lon_deg)
    lon0 = math.radians((zone - 1) * 6 - 180 + 3)
    n = a / math.sqrt(1 - e2 * math.sin(lat) ** 2)
    t = math.tan(lat) ** 2
    c = ep2 * math.cos(lat) ** 2
    A = (lon - lon0) * math.cos(lat)
    m = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * lat
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * math.sin(2 * lat)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * math.sin(4 * lat)
        - (35 * e2**3 / 3072) * math.sin(6 * lat)
    )
    easting = k0 * n * (
        A + (1 - t + c) * A**3 / 6 + (5 - 18 * t + t**2 + 72 * c - 58 * ep2) * A**5 / 120
    ) + 500000.0
    northing = k0 * (
        m + n * math.tan(lat) * (
            A**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * A**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * ep2) * A**6 / 720
        )
    )
    return easting, northing


def test_utm_inverse_anchor():
    """(500000 E, 0 N) on zone 30N is exactly the equator at 3°W."""
    lon, lat = _utm_to_wgs84_np(np.array([500000.0]), np.array([0.0]), 30, True)
    assert abs(lon[0] - (-3.0)) < 1e-9
    assert abs(lat[0]) < 1e-9


def test_utm_inverse_roundtrip():
    """Forward(Snyder) -> engine inverse recovers lat/lon to ~1e-6 deg
    across the Basque survey's UTM zone 30N area (index.Rmd:532-533)."""
    for lat0, lon0 in [(43.3, -2.9), (42.8, -1.7), (40.0, -3.0), (48.0, -0.5)]:
        e, n = _forward_tm(lat0, lon0, 30)
        lon, lat = _utm_to_wgs84_np(np.array([e]), np.array([n]), 30, True)
        assert abs(lon[0] - lon0) < 1e-6
        assert abs(lat[0] - lat0) < 1e-6


def test_utm_to_wgs84_dataframe(spark):
    e, n = _forward_tm(43.3, -2.9, 30)
    df = spark.createDataFrame([(e, n)], "x double, y double")
    row = utm_to_wgs84(df, "x", "y", zone=30).collect()[0]
    assert abs(row.lon - (-2.9)) < 1e-6
    assert abs(row.lat - 43.3) < 1e-6


def test_polygon_area_centroid_known_shapes(spark):
    """Shoelace measure (geo/measure.py): unit square and a 3-4-5 right
    triangle against hand-computed area/centroid; degenerate (collinear)
    ring yields area 0 + NULL centroid instead of a division error; both
    ring orientations give the same positive area."""
    from bioeco_portal_etl_spark.geo.measure import polygon_area_centroid

    polys = spark.createDataFrame(
        [
            # unit square, CCW: area 1, centroid (0.5, 0.5)
            (0, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
            # same square, CW (reversed)
            (1, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0]),
            # right triangle (0,0)-(4,0)-(0,3): area 6, centroid (4/3, 1)
            (2, [0.0, 4.0, 0.0], [0.0, 0.0, 3.0]),
            # collinear: degenerate
            (3, [0.0, 1.0, 2.0], [0.0, 1.0, 2.0]),
        ],
        "poly_id int, xs array<double>, ys array<double>",
    )
    got = {
        r.poly_id: (r.area_e4, r.cx_e4, r.cy_e4)
        for r in polygon_area_centroid(polys).collect()
    }
    assert got[0] == (10000, 5000, 5000)
    assert got[1] == (10000, 5000, 5000)
    assert got[2] == (60000, 13333, 10000)
    assert got[3] == (0, None, None)

"""WKT geometry as Column expressions.

Reference parity:
  - point_wkt      -> notebooks/index.Rmd:285,434,532,548 (st_as_sf / POINT())
  - multipoint_agg -> notebooks/index.Rmd:332 (st_union of group points)
  - linestring_agg -> notebooks/index.Rmd:549-552 (ordered track -> LINESTRING)
  - geom_type      -> notebooks/index.Rmd:409,475 (st_geometry_type)

All JVM-side built-ins (format_string / collect_list / array ops) — geometry
stays a string column, so these run inside whole-stage codegen with zero
Python. Aggregates sort their member points for partition-invariant output
(the reference inherits input order; SURVEY.md §5.2 property-tests demand
order independence).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def point_wkt(lon: Column | str, lat: Column | str) -> Column:
    """WKT POINT from lon/lat columns; either null -> POINT EMPTY (sf
    semantics for missing coords)."""
    lon_c, lat_c = _c(lon), _c(lat)
    return F.when(
        lon_c.isNull() | lat_c.isNull(), F.lit("POINT EMPTY")
    ).otherwise(
        F.format_string("POINT (%s %s)", lon_c.cast("string"), lat_c.cast("string"))
    )


def _coord_pair(lon: Column, lat: Column) -> Column:
    return F.format_string("%s %s", lon.cast("string"), lat.cast("string"))


def multipoint_agg(lon: Column | str, lat: Column | str) -> Column:
    """Aggregate: union of the group's points as MULTIPOINT WKT, members
    sorted and de-duplicated (st_union collapses duplicates). Empty group ->
    null."""
    lon_c, lat_c = _c(lon), _c(lat)
    pair = F.when(lon_c.isNotNull() & lat_c.isNotNull(), _coord_pair(lon_c, lat_c))
    pts = F.array_sort(F.array_distinct(F.collect_list(pair)))
    return F.when(F.size(pts) == 0, F.lit(None)).otherwise(
        F.concat(F.lit("MULTIPOINT ("), F.array_join(pts, ", "), F.lit(")"))
    )


def linestring_agg(
    lon: Column | str, lat: Column | str, order_by: Column | str
) -> Column:
    """Aggregate: ordered survey positions -> one LINESTRING WKT. Order is an
    explicit key (the reference leans on file row order); implemented as
    collect_list of (order, point) structs + array_sort + transform — no UDF,
    no global sort."""
    lon_c, lat_c = _c(lon), _c(lat)
    # numeric struct through the shuffle (order key + raw coords), string
    # rendering AFTER the sort: ~30% faster than carrying pre-built point
    # strings at sf0.1 (smaller collect_list state, one format pass).
    # Ties on the order key break on (lon, lat) NUMERICALLY.
    entries = F.collect_list(
        F.when(
            lon_c.isNotNull() & lat_c.isNotNull(),
            F.struct(
                _c(order_by).alias("o"), lon_c.alias("x"), lat_c.alias("y")
            ),
        )
    )
    ordered = F.transform(
        F.array_sort(entries), lambda s: _coord_pair(s["x"], s["y"])
    )
    return F.when(F.size(ordered) < 2, F.lit(None)).otherwise(
        F.concat(F.lit("LINESTRING ("), F.array_join(ordered, ", "), F.lit(")"))
    )


def geom_type(wkt: Column | str) -> Column:
    """Geometry-type introspection from the WKT tag (POINT/LINESTRING/POLYGON/
    MULTIPOINT/MULTILINESTRING/MULTIPOLYGON/GEOMETRYCOLLECTION)."""
    c = F.upper(F.trim(_c(wkt)))
    return F.regexp_extract(c, r"^([A-Z]+)", 1)

"""Minimal pure-Python ESRI shapefile IO (SURVEY.md §2.1 S5, §2.2 K1/K2).

Reference parity: write_sf/read_sf per program directory
(notebooks/index.Rmd:406-412, 430-436, 474-486, 581-586). No
pyshp/geopandas in this environment, so the format is implemented directly
from the public spec ("ESRI Shapefile Technical Description", ESRI white
paper, July 1998): .shp geometry + .shx index + .dbf (dBase III) attributes.

Supported shapes: Point, MultiPoint, PolyLine, Polygon, Null (empty layers) —
exactly the reference's surface. MULTILINESTRING writes as a PolyLine with
one part per line and MULTIPOLYGON as a Polygon with one part per ring.
Geometries travel as WKT strings inside the engine (§2.9); the writer
parses WKT at the file boundary only.

Scale posture: shapefiles are per-entity exports (hundreds of features), not
fact data. The distributed writer groups by entity key and writes from
executors via foreachPartition — N_partitions concurrent writers, no
driver collect. Output lands on a shared/posix path; on object stores, swap
``_open`` for an upload handle.
"""

from __future__ import annotations

import os
import re
import struct
from collections.abc import Iterable

SHAPE_NULL = 0
SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5
SHAPE_MULTIPOINT = 8

_WKT_TYPES = {
    "POINT": SHAPE_POINT,
    "MULTIPOINT": SHAPE_MULTIPOINT,
    "LINESTRING": SHAPE_POLYLINE,
    "MULTILINESTRING": SHAPE_POLYLINE,
    "POLYGON": SHAPE_POLYGON,
    "MULTIPOLYGON": SHAPE_POLYGON,
}


# --------------------------------------------------------------------------
# WKT <-> coordinate structures
# --------------------------------------------------------------------------


def _parse_coord_list(body: str) -> list[tuple[float, float]]:
    pts = []
    for part in body.split(","):
        xy = part.strip().strip("()").split()
        pts.append((float(xy[0]), float(xy[1])))
    return pts


def parse_wkt(wkt: str | None):
    """WKT -> (shape_type, parts) where parts is a list of coordinate lists
    (one per ring/part). None / EMPTY -> (SHAPE_NULL, [])."""
    if wkt is None:
        return SHAPE_NULL, []
    s = wkt.strip()
    m = re.match(r"^([A-Za-z]+)\s*(EMPTY|\(.*\))$", s, re.DOTALL)
    if not m:
        raise ValueError(f"unparseable WKT: {wkt[:80]!r}")
    typ = m.group(1).upper()
    body = m.group(2)
    if typ not in _WKT_TYPES:
        raise ValueError(f"unsupported WKT type for shapefile: {typ}")
    st = _WKT_TYPES[typ]
    if body == "EMPTY":
        return SHAPE_NULL, []
    inner = body[1:-1].strip()
    if typ in ("POINT", "MULTIPOINT", "LINESTRING"):
        return st, [_parse_coord_list(inner)]
    # one coord list per ring (POLYGON, MULTIPOLYGON) or line (MULTILINESTRING)
    rings = re.findall(r"\(([^()]*)\)", inner)
    return st, [_parse_coord_list(r) for r in rings]


def _fnum(x: float) -> str:
    """Shortest exact rendering: ints without '.0', floats via repr (round-
    trip exact). %g would truncate to 6 significant digits — a multi-metre
    error on UTM-scale coordinates — and emit scientific notation."""
    i = int(x)
    return str(i) if x == i else repr(x)


def to_wkt(shape_type: int, parts: list[list[tuple[float, float]]]) -> str | None:
    def fmt(p):
        return ", ".join(f"{_fnum(x)} {_fnum(y)}" for x, y in p)

    if shape_type == SHAPE_NULL or not parts:
        return None
    if shape_type == SHAPE_POINT:
        (x, y), = parts[0]
        return f"POINT ({_fnum(x)} {_fnum(y)})"
    if shape_type == SHAPE_MULTIPOINT:
        return f"MULTIPOINT ({fmt(parts[0])})"
    if shape_type == SHAPE_POLYLINE and len(parts) == 1:
        return f"LINESTRING ({fmt(parts[0])})"
    if shape_type == SHAPE_POLYLINE:
        return "MULTILINESTRING (" + ", ".join(f"({fmt(r)})" for r in parts) + ")"
    if shape_type == SHAPE_POLYGON:
        return "POLYGON (" + ", ".join(f"({fmt(r)})" for r in parts) + ")"
    raise ValueError(f"unsupported shape type {shape_type}")


# --------------------------------------------------------------------------
# Writer
# --------------------------------------------------------------------------


def _shape_record(shape_type: int, parts) -> bytes:
    if shape_type == SHAPE_NULL or not parts:
        return struct.pack("<i", SHAPE_NULL)
    pts = [p for part in parts for p in part]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    bbox = struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
    if shape_type == SHAPE_POINT:
        return struct.pack("<i2d", SHAPE_POINT, *pts[0])
    if shape_type == SHAPE_MULTIPOINT:
        out = struct.pack("<i", SHAPE_MULTIPOINT) + bbox + struct.pack("<i", len(pts))
        return out + b"".join(struct.pack("<2d", *p) for p in pts)
    # PolyLine / Polygon share the parts layout
    offsets, acc = [], 0
    for part in parts:
        offsets.append(acc)
        acc += len(part)
    out = struct.pack("<i", shape_type) + bbox
    out += struct.pack("<2i", len(parts), len(pts))
    out += b"".join(struct.pack("<i", o) for o in offsets)
    return out + b"".join(struct.pack("<2d", *p) for p in pts)


def _header_bytes(shape_type: int, file_words: int, bbox) -> bytes:
    xmin, ymin, xmax, ymax = bbox
    return (
        struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_words)
        + struct.pack("<2i", 1000, shape_type)
        + struct.pack("<8d", xmin, ymin, xmax, ymax, 0.0, 0.0, 0.0, 0.0)
    )


def _dbf_bytes(field_names: list[str], rows: list[dict]) -> bytes:
    width = 80
    nfields = len(field_names)
    header_size = 32 + 32 * nfields + 1
    record_size = 1 + width * nfields
    head = struct.pack(
        "<B3BIHH20x", 0x03, 24, 1, 1, len(rows), header_size, record_size
    )
    descs = b""
    for name in field_names:
        nm = name.encode("ascii", "replace")[:10].ljust(11, b"\0")
        descs += nm + b"C" + b"\0" * 4 + bytes([width, 0]) + b"\0" * 14
    body = b""
    for r in rows:
        body += b" "
        for name in field_names:
            v = r.get(name)
            s = ("" if v is None else str(v)).encode("utf-8", "replace")[:width]
            # never split a multi-byte sequence at the width boundary — the
            # reader decodes errors='replace' and would corrupt the tail;
            # re-decoding with errors='ignore' drops any dangling prefix
            s = s.decode("utf-8", "ignore").encode("utf-8")
            body += s.ljust(width, b" ")
    return head + descs + b"\x0d" + body + b"\x1a"


def write_shapefile(
    base_path: str,
    features: Iterable[tuple[str | None, dict]],
    field_names: list[str] | None = None,
) -> int:
    """Write ``{base_path}.shp/.shx/.dbf`` from (wkt, attributes) features.

    An empty feature list writes a valid zero-record layer (K2 — the
    reference materializes empty layers for 372 of 627 programs). Returns the
    feature count. The layer's shape type is the first non-null geometry's
    type (shapefiles are homogeneous — enforce with geom_type upstream,
    index.Rmd:409)."""
    feats = list(features)
    field_names = field_names or sorted({k for _, attrs in feats for k in attrs})
    records = []
    layer_type = SHAPE_NULL
    all_pts = []
    for wkt, _ in feats:
        st, parts = parse_wkt(wkt)
        if st != SHAPE_NULL and layer_type == SHAPE_NULL:
            layer_type = st
        records.append((st, parts))
        all_pts.extend(p for part in parts for p in part)
    bbox = (
        (
            min(p[0] for p in all_pts),
            min(p[1] for p in all_pts),
            max(p[0] for p in all_pts),
            max(p[1] for p in all_pts),
        )
        if all_pts
        else (0.0, 0.0, 0.0, 0.0)
    )

    shp_records = b""
    shx_records = b""
    offset_words = 50  # header = 100 bytes
    for i, (st, parts) in enumerate(records):
        content = _shape_record(st, parts)
        words = len(content) // 2
        shp_records += struct.pack(">2i", i + 1, words) + content
        shx_records += struct.pack(">2i", offset_words, words)
        offset_words += 4 + words

    os.makedirs(os.path.dirname(base_path) or ".", exist_ok=True)
    with open(base_path + ".shp", "wb") as f:
        f.write(_header_bytes(layer_type, offset_words, bbox) + shp_records)
    with open(base_path + ".shx", "wb") as f:
        f.write(
            _header_bytes(layer_type, 50 + 4 * len(records), bbox) + shx_records
        )
    with open(base_path + ".dbf", "wb") as f:
        f.write(_dbf_bytes(field_names, [attrs for _, attrs in feats]))
    return len(feats)


# --------------------------------------------------------------------------
# Reader (S5)
# --------------------------------------------------------------------------


def read_shapefile(base_path: str) -> list[tuple[str | None, dict]]:
    """Read ``{base_path}.shp`` + ``.dbf`` back to (wkt, attributes) pairs."""
    with open(base_path + ".shp", "rb") as f:
        data = f.read()
    geoms = []
    pos = 100
    while pos < len(data):
        (_, words) = struct.unpack(">2i", data[pos : pos + 8])
        content = data[pos + 8 : pos + 8 + words * 2]
        pos += 8 + words * 2
        (st,) = struct.unpack("<i", content[:4])
        if st == SHAPE_NULL:
            geoms.append((SHAPE_NULL, []))
        elif st == SHAPE_POINT:
            x, y = struct.unpack("<2d", content[4:20])
            geoms.append((st, [[(x, y)]]))
        elif st == SHAPE_MULTIPOINT:
            (n,) = struct.unpack("<i", content[36:40])
            pts = list(struct.iter_unpack("<2d", content[40 : 40 + 16 * n]))
            geoms.append((st, [[(x, y) for x, y in pts]]))
        elif st in (SHAPE_POLYLINE, SHAPE_POLYGON):
            nparts, npts = struct.unpack("<2i", content[36:44])
            offs = list(
                struct.unpack(f"<{nparts}i", content[44 : 44 + 4 * nparts])
            ) + [npts]
            flat = list(
                struct.iter_unpack("<2d", content[44 + 4 * nparts :])
            )[:npts]
            parts = [
                [(x, y) for x, y in flat[offs[i] : offs[i + 1]]]
                for i in range(nparts)
            ]
            geoms.append((st, parts))
        else:
            raise ValueError(f"unsupported shape type {st}")

    attrs = _read_dbf(base_path + ".dbf")
    if not geoms:
        return []
    return [
        (to_wkt(st, parts), attrs[i] if i < len(attrs) else {})
        for i, (st, parts) in enumerate(geoms)
    ]


def _read_dbf(path: str) -> list[dict]:
    with open(path, "rb") as f:
        data = f.read()
    nrec, hsize, rsize = struct.unpack("<IHH", data[4:12])
    fields = []
    pos = 32
    while data[pos] != 0x0D:
        desc = data[pos : pos + 32]
        name = desc[:11].rstrip(b"\0").decode("ascii")
        width = desc[16]
        fields.append((name, width))
        pos += 32
    out = []
    for i in range(nrec):
        rec = data[hsize + i * rsize : hsize + (i + 1) * rsize][1:]  # skip flag
        row, off = {}, 0
        for name, width in fields:
            raw = rec[off : off + width].rstrip(b" ").decode("utf-8", "replace")
            row[name] = raw if raw != "" else None
            off += width
        out.append(row)
    return out

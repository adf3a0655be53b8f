"""Source-layer tests (SURVEY.md §2.1): TSV, Excel gating, REST payload
parsing, directory listing, and the data-driven source registry."""

from __future__ import annotations

import json

import pytest

from bioeco_portal_etl_spark.sources.files import (
    list_files,
    read_csv,
    read_excel,
    read_tsv,
)
from bioeco_portal_etl_spark.sources.registry import SourceSpec, read_source
from bioeco_portal_etl_spark.sources.rest import json_payload_to_df


def test_read_tsv(spark, tmp_path):
    p = tmp_path / "coords.tsv"
    p.write_text("x\ty\n500000\t4427757\n501000\t4428000\n")
    df = read_tsv(spark, str(p))
    rows = df.collect()
    assert len(rows) == 2 and rows[0].x == "500000"
    assert {f.dataType.simpleString() for f in df.schema.fields} == {"string"}


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_read_csv_starts_no_job(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text('a,b\n1,"x\ny"\n')
    spark.range(1).count()  # the job-id list is not empty
    before = _jobs(spark)
    df = read_csv(spark, str(p))
    assert _jobs(spark) == before
    assert df.collect() == [("1", "x\ny")]


def test_read_csv_names_match_spark_header(spark, tmp_path):
    """Blank, null-valued and case-insensitively duplicated names and a
    quoted comma are named as Spark's own header read names them."""
    p = tmp_path / "h.csv"
    p.write_text('id,,"Name, full",ID,NA,x\n1,2,3,4,5,6\n')
    inferred = (
        spark.read.option("header", True).option("multiLine", True)
        .option("escape", '"').option("nullValue", "NA")
        .option("inferSchema", True).csv(str(p))
    )
    df = read_csv(spark, str(p))
    assert df.columns == inferred.columns == [
        "id0", "_c1", "Name, full", "ID3", "_c4", "x"
    ]
    assert df.collect() == [tuple("123456")]


def test_read_csv_without_header_names_by_position(spark, tmp_path):
    p = tmp_path / "n.tsv"
    p.write_text("\n7\tb\tc\n8\te\tf\n")
    df = read_tsv(spark, str(p), header=False)
    assert df.columns == ["_c0", "_c1", "_c2"]
    assert sorted(df.collect()) == [("7", "b", "c"), ("8", "e", "f")]


def test_read_csv_needs_schema_for_a_directory(spark, tmp_path):
    (tmp_path / "part.csv").write_text("a\n1\n")
    with pytest.raises(ValueError, match="schema"):
        read_csv(spark, str(tmp_path))
    df = read_csv(spark, str(tmp_path), schema="a string")
    assert df.collect() == [("1",)]


def test_excel_gated(spark, tmp_path):
    """S4 is a pandas bridge; without an xlsx engine it must fail with
    guidance, not crash cryptically."""
    p = tmp_path / "book.xlsx"
    p.write_bytes(b"not really an xlsx")
    with pytest.raises((NotImplementedError, ValueError, ImportError)):
        read_excel(spark, str(p))


def _tiny_xlsx(path):
    """Smallest workbook the bundled reader accepts: workbook + rels +
    shared strings + one sheet, written with zipfile."""
    import zipfile

    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "xl/workbook.xml": (
            f'<workbook xmlns="{main}" xmlns:r="{rel}"><sheets>'
            '<sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships"><Relationship Id="rId1" '
            f'Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/sharedStrings.xml": (
            f'<sst xmlns="{main}"><si><t>name</t></si><si><t>alpha</t></si>'
            "<si><t>n/a</t></si></sst>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{main}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="B1" t="inlineStr"><is><t>depth</t></is></c>'
            '<c r="C1" t="inlineStr"><is><t>active</t></is></c>'
            '<c r="D1" t="inlineStr"><is><t>year</t></is></c></row>'
            '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>12.5</v></c>'
            '<c r="C2" t="b"><v>1</v></c><c r="D2"><v>2012</v></c></row>'
            '<row r="3"><c r="A3" t="inlineStr"><is><t>beta</t></is></c>'
            '<c r="B3"/><c r="C3" t="b"><v>0</v></c>'
            '<c r="D3" t="s"><v>2</v></c></row>'
            "</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, xml in parts.items():
            z.writestr(name, xml)


def test_excel_bundled_reader_types_and_nulls(spark, tmp_path):
    """S4 reads a real workbook with the bundled reader: shared and inline
    strings, a number, booleans and a blank cell. An all-numeric column is
    double with the blank as null; booleans and a number/string mix are
    strings in R read.xlsx's rendering (TRUE, 2012 not 2012.0)."""
    p = tmp_path / "book.xlsx"
    _tiny_xlsx(p)
    df = read_excel(spark, str(p))
    assert df.schema.simpleString() == (
        "struct<name:string,depth:double,active:string,year:string>"
    )
    assert [tuple(r) for r in df.collect()] == [
        ("alpha", 12.5, "TRUE", "2012"),
        ("beta", None, "FALSE", "n/a"),
    ]


def test_rest_payload_parse(spark):
    """S7: nested JSON payload -> rows via spark.read.json (fetch injected —
    the HTTP hop is an external contract, like the reference's GeoNode API)."""
    payload = {
        "layers": [
            {"pk": 11, "name": "coral_watch", "title": "Coral Watch"},
            {"pk": 12, "name": "seagrass_net", "title": "Seagrass Net"},
        ],
        "total": 2,
    }
    df = json_payload_to_df(spark, payload, array_field="layers")
    rows = {r.name: r.pk for r in df.collect()}
    assert rows == {"coral_watch": 11, "seagrass_net": 12}


def test_list_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.shp").write_text("")
    (tmp_path / "b.shp").write_text("")
    (tmp_path / "c.txt").write_text("")
    found = list_files(str(tmp_path), "*.shp")
    assert [f.split("/")[-1] for f in found] == ["x.shp", "b.shp"] or len(found) == 2


def test_registry_csv_with_coord_sanity(spark, tmp_path):
    """EP2 registry: per-file coordinate columns + Latitude<=90 filter
    (index.Rmd:435) + WKT point construction."""
    p = tmp_path / "sites.csv"
    p.write_text(
        "SITE,MID_LATITUDE,MID_LONGITUDE\n"
        "s1,41.5,2.5\n"
        "s2,95.0,1.0\n"  # out of range -> filtered
        "s3,-33.9,18.4\n"
    )
    spec = SourceSpec(
        name="prog_x", kind="csv", path=str(p),
        lon_col="MID_LONGITUDE", lat_col="MID_LATITUDE",
        options={"multi_line": False},
    )
    df = read_source(spark, spec)
    rows = df.collect()
    assert len(rows) == 2
    assert {r.geometry_wkt for r in rows} == {"POINT (2.5 41.5)", "POINT (18.4 -33.9)"}
    assert all(r.source_name == "prog_x" for r in rows)


def test_registry_unknown_kind(spark):
    with pytest.raises(ValueError):
        read_source(spark, SourceSpec(name="x", kind="nope"))


def test_nanos_conversion_matches_duckdb(spark, tmp_path):
    """ns->us conversion must match DuckDB's parquet reader, which TRUNCATES
    TOWARD ZERO (empirical: -1500 ns -> -1 us, -1 ns -> 0) — pre-1970 nanos
    are where floor vs truncate diverge."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    path = tmp_path / "ts.parquet"
    nanos = [-1500, -1000, -1, 0, 999, 1500, 1_700_000_000_123_456_789]
    table = pa.table({"ts": pa.array(nanos, pa.timestamp("ns"))})
    pq.write_table(table, str(path))

    got = [
        r.ts
        for r in read_parquet_table(spark, str(tmp_path), "ts")
        .orderBy("ts")
        .collect()
    ]
    con = duckdb.connect()
    exp = [
        r[0]
        for r in con.execute(
            f"SELECT ts FROM '{path}' ORDER BY ts"
        ).fetchall()
    ]
    assert got == exp


def test_registry_shp_kind(spark, tmp_path):
    """S5 through the registry: shapefile on disk -> DataFrame with WKT."""
    from bioeco_portal_etl_spark.geo.shapefile import write_shapefile

    base = str(tmp_path / "layer" / "layer")
    write_shapefile(
        base,
        [("POINT (1.5 2.5)", {"site": "a"}), ("POINT (3 4)", {"site": "b"})],
        ["site"],
    )
    df = read_source(spark, SourceSpec(name="p", kind="shp", path=base))
    rows = sorted((r.geometry_wkt, r.site) for r in df.collect())
    assert rows == [("POINT (1.5 2.5)", "a"), ("POINT (3 4)", "b")]

"""File-based scans (SURVEY.md §2.1 S1-S4, S9).

Reference parity:
  - read_csv  -> notebooks/index.Rmd:56,69,433 (read.csv; multiline quoted
    GeoJSON fields — 25,123 physical lines for 243 records)
  - read_tsv  -> notebooks/index.Rmd:531
  - read_excel-> notebooks/index.Rmd:135,547 (read.xlsx sheet 1) — the
    bundled stdlib reader in sources/xlsx.py, one path everywhere
  - list_files-> notebooks/index.Rmd:472-474 (recursive .shp listing)

Scale notes: CSV with multiLine=True cannot be split within a file (each file
is one partition) — acceptable because multiline sources are dimension-scale;
fact-scale data arrives as parquet/ORC. ``read_csv`` never infers a schema
(inference costs two Spark jobs per file and guesses from whatever values a
file holds): without an explicit schema every column is a string, named from
the header record read on the driver, and the ``ingest_*`` steps cast the
columns they project.
"""

from __future__ import annotations

import csv
import glob as _glob
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from bioeco_portal_etl_spark.sources.xlsx import read_xlsx_table

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    multi_line: bool = True,
    null_value: str = "NA",
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV scan. Without ``schema`` every column is a string: the names come
    from the file's first record, read on the driver with the same
    separator and quoting, so the call starts no Spark job. ``path`` must
    then be one local file (a directory, glob or remote path raises
    ValueError; pass ``schema`` for those)."""
    if schema is None:
        schema = _string_schema(path, sep, header, null_value)
    return (
        spark.read.option("header", header)
        .option("multiLine", multi_line)
        .option("escape", '"')
        .option("nullValue", null_value)
        .option("sep", sep)
        .schema(schema)
        .csv(path)
    )


def _string_schema(path: str, sep: str, header: bool, null_value: str) -> StructType:
    """All-string schema named as Spark names a CSV header: a blank or
    null-valued name becomes ``_c{i}``, a case-insensitive duplicate
    becomes ``{name}{i}``, and without a header every column is ``_c{i}``."""
    if not os.path.isfile(path):
        raise ValueError(
            f"read_csv: {path!r} is not a local file; pass an explicit schema"
        )
    with open(path, newline="", encoding="utf-8", errors="replace") as f:
        # Spark skips blank lines before the first record
        first = next(
            (r for r in csv.reader(f, delimiter=sep) if len(r) > 1 or (r and r[0].strip())),
            [],
        )
    counts = Counter(n.lower() for n in first)
    names = [
        f"_c{i}" if not header or not n or n == null_value
        else f"{n}{i}" if counts[n.lower()] > 1
        else n
        for i, n in enumerate(first)
    ]
    return StructType([StructField(n, StringType(), True) for n in names])


def read_tsv(spark: SparkSession, path: str, schema=None, **kw) -> DataFrame:
    return read_csv(spark, path, schema=schema, sep="\t", multi_line=False, **kw)


def read_excel(spark: SparkSession, path: str, sheet: int = 0) -> DataFrame:
    """S4: Excel scan (reference read.xlsx, notebooks/index.Rmd:135,547).
    Driver-side by design — xlsx files are dimension-scale configuration
    inputs — through the bundled reader (sources/xlsx.py), so the output
    does not depend on which optional Excel engines are installed.
    All-numeric columns arrive as double, everything else as string with
    blank cells null (R read.xlsx's numeric-or-character column typing).
    Raises ValueError for a file that is not an xlsx (zip) container."""
    header, body = read_xlsx_table(path, sheet)
    fields = []
    for j, name in enumerate(header):
        vals = [r[j] for r in body if r[j] is not None]
        numeric = bool(vals) and all(isinstance(v, float) for v in vals)
        fields.append(
            StructField(name, DoubleType() if numeric else StringType(), True)
        )
    return spark.createDataFrame(body, StructType(fields))


def list_files(root: str, pattern: str = "*.shp", recursive: bool = True) -> list[str]:
    """S9 directory-listing scan. Driver-side glob; on HDFS/S3 swap for the
    Hadoop FS API via spark._jvm — path list then drives a multi-file union."""
    pat = os.path.join(root, "**", pattern) if recursive else os.path.join(root, pattern)
    return sorted(_glob.glob(pat, recursive=recursive))


_NANOS_CACHE: dict[str, list[str]] = {}


def _nanos_columns(path: str) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) — Spark reads them as long
    (spark.sql.legacy.parquet.nanosAsLong); we restore timestamps on load.
    Cached per path: the driver-side footer probe must not re-read inside
    every (possibly timed) query build."""
    if path in _NANOS_CACHE:
        return _NANOS_CACHE[path]
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for f in schema:
        t = f.type
        if str(t).startswith("timestamp[ns"):
            out.append(f.name)
    _NANOS_CACHE[path] = out
    return out


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import pyspark.sql.functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    # Non-UTC-adjusted parquet timestamps surface as TIMESTAMP_NTZ; every
    # epoch-math operator normalizes NTZ via cast to timestamp_ltz, which is
    # session-timezone-dependent. The engine's own factory pins UTC
    # (session.py) but the driver hands us an arbitrary session — the engine's
    # results are only defined for UTC sessions (they must match DuckDB's
    # epoch_us on naive timestamps). Converting a caller's session is a
    # visible, warned action, never a silent side effect; a session whose
    # timezone can't be set to UTC is a hard error, not a wrong answer.
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
        import warnings

        warnings.warn(
            f"read_parquet_table: session timezone {tz!r} is not UTC; "
            "setting spark.sql.session.timeZone=UTC for this session so "
            "TIMESTAMP_NTZ epoch math matches the engine's UTC contract. "
            "Create sessions via bioeco_portal_etl_spark.session.get_spark "
            "to avoid this.",
            stacklevel=2,
        )
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception as e:  # pragma: no cover - locked-conf session
            raise RuntimeError(
                "read_parquet_table requires a UTC session timezone for "
                f"correct timestamp semantics, but the session is pinned to "
                f"{tz!r} and cannot be changed: {e}"
            ) from e
    nanos = _nanos_columns(path)
    if nanos:
        # The engine's own session factory sets this (session.py), but the
        # driver hands us an arbitrary SparkSession — set it at read time so
        # TIMESTAMP(NANOS) parquet is readable from any session. It is a
        # runtime-settable SQL conf; guard for Spark builds where it isn't.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # pragma: no cover - static-conf fallback
            pass
    df = spark.read.parquet(path)
    for c in _nanos_columns(path):
        # ns -> µs integer division matching DuckDB's parquet ns->TIMESTAMP
        # conversion, which TRUNCATES TOWARD ZERO (verified empirically:
        # -1500 ns reads back as -1 µs, -1 ns as 0 — NOT floor). `div` has
        # exactly that semantics. floor(col/1000) would be wrong twice over:
        # double routing (53-bit mantissa, ±1 µs at epoch scale) and floor
        # direction for pre-1970 nanos. Regression-pinned in
        # tests/test_sources.py::test_nanos_conversion_matches_duckdb.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's synthetic tables and register temp views so every
    operator is reachable from spark.sql as well."""
    out = {}
    for name in names or TESTDATA_TABLES:
        df = read_parquet_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

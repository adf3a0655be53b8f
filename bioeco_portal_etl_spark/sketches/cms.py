"""Count-Min sketch (Cormode & Muthukrishnan 2005) — frequency estimates
and heavy hitters from a d x w counter grid.

Why at 100 TB: exact per-key counts of a skewed domain (URLs, tokens,
user ids) shuffle the full domain; the CMS compresses the whole frequency
vector into d*w counters (d=4, w=256 -> 1024 longs, ~8 KB) with one-sided
error: ``true <= est <= true + eps * N`` w.h.p. The grid is built with ONE
shuffle whose state is bounded at d*w per map partition (partial hash agg
combines map-side), and point queries are a broadcast join against the
8 KB grid — never a second pass over the data.

Hash family: the MinHash permutation family over the md5-derived 60-bit
base hash (pairwise independent, engine-exact — same PERM_A/PERM_B
constants as text/dedupe.py, proven byte-equal in DuckDB since round 2).

All arithmetic is 64-bit integer; the DuckDB oracle reproduces the grid
and the estimates exactly, overestimation error included.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bioeco_portal_etl_spark.sketches import h60
from bioeco_portal_etl_spark.text.dedupe import MERSENNE31, PERM_A, PERM_B


def _bucket(h: Column, row: int, w: int) -> Column:
    # reduce h below 2^31 BEFORE the permutation multiply (same as the
    # MinHash family): A * h must stay inside int64 in both engines.
    return (F.lit(PERM_A[row]) * (h % MERSENNE31) + F.lit(PERM_B[row])) % MERSENNE31 % w


def cms_build(
    df: DataFrame, key_col: Column | str, d: int = 4, w: int = 256
) -> DataFrame:
    """Build the (row, bucket, cnt) grid over occurrences of ``key_col``.

    The d-way explode multiplies rows BEFORE the aggregation, but partial
    aggregation collapses them to <= d*w rows per map partition, so the
    shuffle carries a bounded payload regardless of input size.
    """
    if not 1 <= d <= len(PERM_A):
        raise ValueError(f"d must be in [1, {len(PERM_A)}], got {d}")
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    # materialize the md5 base hash as a NAMED column before fanning out
    # to d buckets: inlining h60 into the array would re-evaluate the
    # md5+conv chain d times per row (the shingled() CollapseProject
    # trap)
    h = F.col("__h")
    rows = F.array(
        *[
            F.struct(F.lit(j).alias("row"), _bucket(h, j, w).alias("bucket"))
            for j in range(d)
        ]
    )
    return (
        df.select(h60(k.cast("string")).alias("__h"))
        .select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame, grid: DataFrame, key_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Point-estimate counts for each row of ``keys``: min over the d grid
    cells the key hashes to. ``grid`` is broadcast (<= d*w rows by
    construction); the only shuffle is the tiny groupBy over ``keys``."""
    k = F.col(key_col)
    # same named-column materialization as cms_build (one md5 per key)
    h = F.col("__h")
    rows = F.array(
        *[
            F.struct(F.lit(j).alias("row"), _bucket(h, j, w).alias("bucket"))
            for j in range(d)
        ]
    )
    probes = (
        keys.select(key_col, h60(k.cast("string")).alias("__h"))
        .select(key_col, F.explode(rows).alias("rb"))
        .select(
            key_col,
            F.col("rb.row").alias("row"),
            F.col("rb.bucket").alias("bucket"),
        )
    )
    return (
        probes.join(grid, ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


def duck_cms(
    table: str, key_expr: str, keys_table: str, keys_key: str, d: int = 4, w: int = 256
) -> str:
    """DuckDB CTE body mirroring build + estimate; exposes
    ``cms_est(key, est_cnt)``."""
    from bioeco_portal_etl_spark.sketches import duck_h60

    h = duck_h60(f"CAST({key_expr} AS VARCHAR)")
    hk = duck_h60(f"CAST({keys_key} AS VARCHAR)")
    build_rows = "\n  UNION ALL ".join(
        f"SELECT {j} AS row, ({PERM_A[j]} * h + {PERM_B[j]}) % {MERSENNE31} % {w} AS bucket FROM hashed"
        for j in range(d)
    )
    probe_rows = "\n  UNION ALL ".join(
        f"SELECT key, {j} AS row, ({PERM_A[j]} * h + {PERM_B[j]}) % {MERSENNE31} % {w} AS bucket FROM khashed"
        for j in range(d)
    )
    return f"""
hashed AS (SELECT ({h}) % {MERSENNE31} AS h FROM {table}),
grid AS (
  SELECT row, bucket, count(*) AS cnt FROM ({build_rows}) GROUP BY row, bucket
),
khashed AS (SELECT {keys_key} AS key, ({hk}) % {MERSENNE31} AS h FROM {keys_table}),
probes AS ({probe_rows}),
cms_est AS (
  SELECT p.key, min(coalesce(g.cnt, 0)) AS est_cnt
  FROM probes p LEFT JOIN grid g ON g.row = p.row AND g.bucket = p.bucket
  GROUP BY p.key
)"""

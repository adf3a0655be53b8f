"""Dedupe / duplicate-audit operators (SURVEY.md §2.6 A2-A4).

Reference parity:
  - dedupe_keep_first -> notebooks/index.Rmd:670 (distinct(username, .keep_all))
  - duplicate_audit   -> notebooks/index.Rmd:382 (duplicated() both directions)
  - make_unique       -> notebooks/index.Rmd:392-393 (make.unique(sep="_"))

Order-sensitivity: R's first-wins depends on frame order; here every operator
takes an explicit ``order_by`` tiebreak (SURVEY.md §4.1). All three are a
single hash-shuffle on the key (window partitionBy) — at 100 TB the key
partitioning is the natural one and AQE handles skewed keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dedupe_keep_first(
    df: DataFrame, key_cols: list[str], order_by: list[str | Column]
) -> DataFrame:
    """Keep the first row per key under the explicit total order."""
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_audit(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """All members of any key-collision group (R's duplicated() | fromLast)."""
    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("__cnt") > 1)
        .drop("__cnt")
    )


def make_unique(
    df: DataFrame,
    col: str,
    order_by: list[str | Column],
    sep: str = "_",
    out_col: str | None = None,
) -> DataFrame:
    """R make.unique, exactly (notebooks/index.Rmd:392-393): the first
    occurrence of each name keeps it; the i-th later occurrence (i >= 1,
    under the explicit order) becomes ``{name}{sep}{k}`` where k is the
    i-th smallest positive integer such that ``{name}{sep}{k}`` is not
    among the DISTINCT INPUT names. R hashes the whole input vector up
    front, so a pre-existing "x_1" blocks the synthesized suffix even when
    it appears later: make.unique(c("x","x","x_1")) -> x, x_2, x_1
    (SURVEY.md §2.6 A4 edge).

    Distributed shape — one window, no join, no eager job:
      1. posexplode each row into its keys: its own name (role 0) and, for
         a name shaped ``base{sep}[1-9][0-9]*``, also (base, j) (role 1);
      2. one window partitioned by key, ordered by role then ``order_by``:
         row_number gives role-0 rows their occurrence index (they sort
         before the role-1 rows), collect_set(j) over the whole partition
         gives the base's "blocked" suffix integers; keep the role-0 rows;
      3. k for occurrence i = left-fold over the sorted blocked array
         (acc starts at i; each blocked b <= acc bumps acc by 1) — the
         i-th smallest non-blocked positive integer, all in whole-stage
         codegen.
    Synthesized names cannot collide with each other (base + sep + integer
    decomposes uniquely for a non-digit sep) and skip every input name, so
    the output is globally unique and R-identical. Null names pass through
    null (R propagates NA). Scale: one hash exchange on the key; the input
    grows only by the rows whose name is shaped like a base plus a suffix.
    """
    import re as _re

    out = out_col or col
    pat = f"^(.*){_re.escape(sep)}([1-9][0-9]*)$"
    name = F.col(col)
    keys = F.when(
        name.rlike(pat), F.array(name, F.regexp_extract(name, pat, 1))
    ).otherwise(F.array(name))
    df = df.select("*", F.posexplode(keys).alias("__mu_role", "__mu_key"))
    role = F.col("__mu_role")
    j = F.when(role == 1, F.regexp_extract(name, pat, 2).cast("long"))
    w = Window.partitionBy("__mu_key").orderBy(role, *order_by)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df = df.select(
        "*",
        (F.row_number().over(w) - 1).cast("long").alias("__occ"),
        F.array_sort(F.collect_set(j).over(whole)).alias("__mu_blocked"),
    ).filter(role == 0)
    k = F.aggregate(
        F.col("__mu_blocked"),
        F.col("__occ"),
        lambda acc, b: F.when(b <= acc, acc + F.lit(1).cast("long")).otherwise(acc),
    )
    return df.withColumn(
        out,
        F.when(F.col("__occ") > 0, F.concat(name, F.lit(sep), k.cast("string"))).otherwise(
            name
        ),
    ).drop("__mu_role", "__mu_key", "__occ", "__mu_blocked")

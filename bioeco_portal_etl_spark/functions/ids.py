"""Deterministic row identity (SURVEY.md §4.1 — the #1 correctness trap).

The reference relies on R frame order for ``id = row_number()``
(notebooks/index.Rmd:347), ``make.unique`` first-wins (:393) and
``distinct(.keep_all=TRUE)`` first-wins (:670). Spark DataFrames have no stable
row order, so every order-sensitive operator here takes an EXPLICIT ordering
key. These helpers materialize such keys at ingest.

Scale note: ``with_row_id`` uses a global window (single-partition sort) — fine
for dimension-sized frames (the reference's tables are <=627 rows), wrong for
facts. ``zip_with_index`` is the scale path: per-partition offsets computed
from partition sizes, one extra job over counts, no global sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def with_row_id(df: DataFrame, order_by: list[str | Column], name: str = "id", start: int = 1) -> DataFrame:
    """row_number() over an explicit total order. Use only on dim-scale data."""
    w = Window.orderBy(*order_by)
    return df.withColumn(name, F.row_number().over(w) + F.lit(start - 1))


def zip_with_index(df: DataFrame, name: str = "row_idx") -> DataFrame:
    """Contiguous 0-based index in current-partition order without a global
    sort: per-partition counts -> cumulative offsets -> mapPartitions add.

    Equivalent to RDD zipWithIndex but staying in DataFrame land via
    monotonically_increasing_id + a partition-offset broadcast join would
    re-shuffle; the RDD hop here touches each row once and preserves
    partitioning.
    """
    rdd = df.rdd.zipWithIndex().map(lambda pair: (*pair[0], pair[1]))
    schema = df.schema.add(name, "long", False)
    return df.sparkSession.createDataFrame(rdd, schema)

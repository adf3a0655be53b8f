"""Union with schema reconciliation (SURVEY.md §2.7 U1).

Reference parity: notebooks/index.Rmd:346,476 — bind_rows unions frames with
different column sets, filling missing columns with NA (25-col ∪ 21-col ->
29-col). Spark's unionByName(allowMissingColumns=True) matches exactly; this
wrapper adds n-ary folding.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_by_name(*dfs: DataFrame) -> DataFrame:
    """N-ary bind_rows. Missing columns become null; column order follows the
    first frame then first-appearance of extras (bind_rows semantics)."""
    if not dfs:
        raise ValueError("union_by_name needs at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)

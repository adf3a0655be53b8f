"""Aggregation building blocks (SURVEY.md §2.6 A1a-A1e).

Reference parity (notebooks/index.Rmd:310-338 — the EuroSea merge aggregation):
  - bool_any        -> :317-328 (as.logical(max(eov_*)))
  - distinct_concat -> :291-295,329 (custom concat() UDAF: unique, ws-normalized,
                       "; "-joined)
  - ordinal_min     -> :297-312,331 (finest frequency over a 10-level ordered
                       factor)

All are compositions of built-in aggregate expressions — partial (map-side)
aggregation and final merge come free from Catalyst's HashAggregate, so at
100 TB the shuffle carries pre-combined state, not raw rows. No UDAFs.

Determinism: collect_list order is nondeterministic, so distinct_concat SORTS
the distinct set before joining — a semantic upgrade over the reference (which
inherits input order) chosen so results are partition-invariant (§5.2 property
tests) and oracle-comparable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from bioeco_portal_etl_spark.functions.strings import norm_ws


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bool_any(col: Column | str) -> Column:
    """Group-level logical OR (null-skipping)."""
    return F.max(F.coalesce(_c(col).cast("boolean"), F.lit(False)))


def distinct_concat(col: Column | str, sep: str = "; ") -> Column:
    """Sorted distinct non-null whitespace-normalized values joined by sep;
    empty set -> null (matches the reference UDAF's NA-if-empty)."""
    vals = F.array_sort(F.array_distinct(F.collect_list(norm_ws(_c(col)))))
    joined = F.array_join(vals, sep)
    return F.when(F.size(vals) == 0, F.lit(None)).otherwise(joined)


def ordinal_min(col: Column | str, levels: list[str]) -> Column:
    """Minimum over an ordered categorical: map level -> ordinal via a literal
    array (constant-folded; no join, no shuffle beyond the agg itself), take
    min, map back. Values not in ``levels`` are ignored (R factor -> NA)."""
    c = _c(col)
    lit_levels = F.array(*[F.lit(x) for x in levels])
    ordinal = F.array_position(lit_levels, c)  # 1-based; 0 = not found
    min_ord = F.min(F.when(ordinal > 0, ordinal))
    return F.element_at(lit_levels, min_ord.cast("int"))

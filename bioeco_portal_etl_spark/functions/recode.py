"""Value recode with dplyr semantics (SURVEY.md §2.3 P6).

Reference: notebooks/index.Rmd:105-117 (10-pair frequency map),
notebooks/index.Rmd:192-271 (~70-pair EuroSea frequency map),
notebooks/export_in_obis.R:3-9 (5-way In_OBIS map).

Semantics: keys found in the map are replaced; **unmatched values pass through
UNCHANGED** (not nulled) — dplyr::recode's default. Nulls stay null.

``recode`` is a literal ``map_from_arrays`` lookup — constant-folded by
Catalyst, no shuffle and no Python UDF, right for maps of tens..thousands
of pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def recode(col: Column | str, mapping: dict[str, str], default_passthrough: bool = True) -> Column:
    """Literal-map recode. ``default_passthrough=False`` nulls unmatched keys
    (dplyr ``.default = NA``)."""
    c = _c(col)
    if not mapping:
        return c
    keys = F.array(*[F.lit(k) for k in mapping])
    vals = F.array(*[F.lit(v) for v in mapping.values()])
    looked_up = F.map_from_arrays(keys, vals)[c]
    if default_passthrough:
        return F.coalesce(looked_up, c)
    return looked_up

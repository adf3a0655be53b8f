"""Query catalog — the engine's declared surface.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) appears
as a (spark_fn, oracle_sql) pair over the driver's synthetic tables
(TESTDATA.md). The driver runs both sides at sf=0.01 and hash-compares;
``bench.py`` times the headline subset at sf=0.1. The entries live in one
module per family, chosen by name prefix: catalog_tpch (q), catalog_rel
(p f j a u r rel), catalog_geo (g), catalog_text (tx), catalog_dedup (td),
catalog_ann (ts), catalog_graph (gr), catalog_media (mm),
catalog_streaming (w), catalog_sketch (sk), catalog_dq (dq) and
catalog_analytics (x). This module only merges them.

Conventions:
  - every computed column is aliased IDENTICALLY in Spark and SQL;
  - money sums round(2), ratios/averages round(4+) — tolerates double
    reassociation across engines;
  - geometry coordinates are integer-derived so WKT strings are byte-equal;
  - every query ends in a deterministic ORDER BY so top-k is stable.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from bioeco_portal_etl_spark import (
    catalog_analytics,
    catalog_ann,
    catalog_dedup,
    catalog_dq,
    catalog_geo,
    catalog_graph,
    catalog_media,
    catalog_rel,
    catalog_sketch,
    catalog_streaming,
    catalog_text,
    catalog_tpch,
)

_CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
for _family in (
    catalog_tpch,
    catalog_rel,
    catalog_geo,
    catalog_text,
    catalog_dedup,
    catalog_ann,
    catalog_graph,
    catalog_media,
    catalog_streaming,
    catalog_sketch,
    catalog_dq,
    catalog_analytics,
):
    _CATALOG.update(_family.CATALOG)

# Driver-gate window. The correctness driver hash-checks the FIRST 50
# declared entries only; tests/test_catalog_oracle.py and
# scripts/validate.py compare ALL entries, so this order only decides which
# 50 the driver re-confirms. gate_window.txt is written by
# scripts/gate_window.py (changed-since-sampled entries first, then the
# longest unsampled); tests/test_gate_window.py checks it is current.
_GATE_WINDOW = (Path(__file__).parent / "gate_window.txt").read_text().split()
_CATALOG = {k: _CATALOG[k] for k in [*_GATE_WINDOW, *_CATALOG] if k in _CATALOG}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql.strip() for name, (_, sql) in _CATALOG.items() if sql is not None}

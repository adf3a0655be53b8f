"""Every package module is imported from a production entry point and
every top-level def is named by code outside tests/, except the items
kept below. Needs no Spark session.

Entry points: bench.py, __spark_entry__.py, scripts/*.py, perfbench/*.py.
A module is reached when an entry imports it, directly or through other
modules (function-level imports count). A def in a reached module is
reached when package or entry code names it: a ``Name``, an attribute, an
imported name, or a word of a string constant that is not a docstring.
Comments, docstrings and other bare string statements do not count."""

from __future__ import annotations

import ast
import importlib
import pkgutil
import re
from pathlib import Path

import bioeco_portal_etl_spark

ROOT = Path(bioeco_portal_etl_spark.__file__).parent.parent
PKG = "bioeco_portal_etl_spark"
ENTRIES = [ROOT / "bench.py", ROOT / "__spark_entry__.py", *ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py")]

KEPT_MODULES = {
    "geo.crs": "UTM -> WGS84 inverse of the paper's index.Rmd:532",
    "pipelines.keywords": "the paper's eov_to_keywords.Rmd EOV keyword links",
    "sources.rest": "the paper's GeoNode REST layer scan (S7)",
}
KEPT_DEFS = {
    "pipelines.programs.duplicate_identifier_report": "paper helper; the golden-count test uses it",
    "pipelines.layers.layer_eligible_identifiers": "paper helper; the golden-count test uses it",
    "graph.hyperball._lin_boundary_min_distance": "safety guard of the linear-counting floor margin test",
    # references a test checks the vectorized kernel against
    "multimodal.jpeg._rgb_to_ycbcr": "scalar colour-transform reference of the JPEG color tests",
    "multimodal.jpeg._ycbcr_to_rgb": "scalar colour-transform reference of the JPEG color tests",
    "operators.resample._resample_group": "per-group pandas reference of the grouped-map resample test",
    "operators.timeseries._ewma_group": "per-group pandas reference of the grouped-map EWMA test",
    "pipelines.layers.with_has_shapefile": "the semi-join layer_eligible must equal (layers test)",
    # only tests call these; the next deletions (ROADMAP item 6)
    "multimodal.media.parse_bmp_header": "test-only",
    "multimodal.media.decode_audio": "test-only",
    "multimodal.phash.phash_near_pairs": "test-only",
    "operators.sampling.hash_split": "test-only",
    "operators.zorder.zorder_layout": "test-only",
    "sources.jdbc.read_jdbc_query": "test-only",
    "streaming.stateful.running_counts": "test-only",
    "streaming.windows.read_event_stream": "test-only",
}


def _imported(path: Path):
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.Import):
            yield from (a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom) and n.module:
            yield n.module
            yield from (f"{n.module}.{a.name}" for a in n.names)


def test_only_kept_items_are_unreached():
    mods = {".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__"): p
            for p in (ROOT / PKG).rglob("*.py")}
    reached, todo = set(), list(ENTRIES)
    while todo:
        for name in _imported(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in reached:
                    reached.add(mod)
                    todo.append(mods[mod])
    unreached = {m.removeprefix(PKG + ".") for m in set(mods) - reached}
    assert unreached == set(KEPT_MODULES), sorted(unreached ^ set(KEPT_MODULES))

    names = set()
    for tree in (ast.parse(p.read_text()) for p in [*mods.values(), *ENTRIES]):
        docs = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias):
                names.update(filter(None, [*n.name.split("."), n.asname]))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
                names.update(re.findall(r"\w+", n.value))
    orphans = {
        f"{m.removeprefix(PKG + '.')}.{n.name}"
        for m in reached
        for n in ast.parse(mods[m].read_text()).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and n.name not in names
    }
    assert orphans == set(KEPT_DEFS), sorted(orphans ^ set(KEPT_DEFS))


def test_every_package_module_imports():
    for info in pkgutil.walk_packages(bioeco_portal_etl_spark.__path__, PKG + "."):
        importlib.import_module(info.name)

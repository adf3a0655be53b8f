"""Every package module is imported from a production entry point and
every top-level def is named by code outside tests/, except the items
kept below. Needs no Spark session.

Entry points: bench.py, __spark_entry__.py, scripts/*.py, perfbench/*.py.
A module is reached when an entry imports it, directly or through other
modules (function-level imports count). A def in a reached module is
reached when its name appears as a word in the package or entry source
anywhere but its own def line, so a docstring that points a reader at a
helper keeps it."""

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

    source = "\n".join(p.read_text() for p in [*mods.values(), *ENTRIES])
    uses: dict[str, int] = {}
    for word in re.findall(r"\w+", source):
        uses[word] = uses.get(word, 0) + 1
    orphans = {
        f"{m.removeprefix(PKG + '.')}.{n.name}"
        for m in reached
        for n in ast.parse(mods[m].read_text()).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and uses[n.name] == 1
    }
    assert orphans == set(KEPT_DEFS), sorted(orphans ^ set(KEPT_DEFS))


def test_every_package_module_imports():
    for info in pkgutil.walk_packages(bioeco_portal_etl_spark.__path__, PKG + "."):
        importlib.import_module(info.name)

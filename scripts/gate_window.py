#!/usr/bin/env python
"""Write bioeco_portal_etl_spark/gate_window.txt: the 50 catalog entries
the correctness driver samples first (catalog.py declares them first).

Rule, per entry: its last green round R is the newest CORRECTNESS_r{R}.json
row with rows_match (and hash_match, when present). The entry is *changed*
when a package .py file in its import closure differs between the commit
that added CORRECTNESS_r{R}.json and the working tree. The closure is the
module defining the entry's function plus every package module its import
statements name, transitively; catalog.py is not followed as a dependency,
because it imports every catalog module. The
window is the changed entries, then the rest, each ordered by
(last green round, name), cut at 50.

Usage: python scripts/gate_window.py   (prints name, round, changed)
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from importlib.util import resolve_name
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "bioeco_portal_etl_spark"
OUT = REPO / PKG / "gate_window.txt"
N = 50


def _git(repo: Path, *args: str) -> str:
    return subprocess.run(["git", *args], cwd=repo, capture_output=True,
                          text=True, check=True).stdout


def last_green(repo: Path) -> dict[str, int]:
    last: dict[str, int] = {}
    for f in sorted(repo.glob("CORRECTNESS_r[0-9]*.json")):
        rnd = int(f.stem.split("_r")[1])
        for name, row in json.loads(f.read_text()).items():
            if row.get("rows_match") and row.get("hash_match", True):
                last[name] = max(last.get(name, 0), rnd)
    return last


def changed_since(repo: Path, rnd: int) -> set[str]:
    """Package files that differ between the round-``rnd`` CORRECTNESS
    commit and the working tree."""
    rev = _git(repo, "log", "--diff-filter=A", "-1", "--format=%H", "--",
               f"CORRECTNESS_r{rnd:02d}.json").strip()
    if not rev:
        raise LookupError(f"no commit adds CORRECTNESS_r{rnd:02d}.json")
    return set(_git(repo, "diff", "--name-only", rev, "--", PKG).split())


def _path(module: str) -> str | None:
    rel = module.replace(".", "/")
    for p in (f"{rel}.py", f"{rel}/__init__.py"):
        if (REPO / p).is_file():
            return p
    return None


def closure(module: str) -> set[str]:
    """Repo-relative paths of ``module`` and the package modules it imports."""
    seen: set[str] = set()
    todo = [module]
    while todo:
        mod = todo.pop()
        path = _path(mod)
        if path is None or path in seen or (seen and mod == f"{PKG}.catalog"):
            continue
        seen.add(path)
        pkg = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
        for node in ast.walk(ast.parse((REPO / path).read_text())):
            if isinstance(node, ast.Import):
                found = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = resolve_name("." * node.level + (node.module or ""), pkg)
                found = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            for name in found:
                if name.split(".")[0] == PKG:
                    todo.append(name)
    return seen


def window(repo: Path, closures: dict[str, set[str]]) -> list[tuple[str, int, bool]]:
    """(name, last green round, changed) for the first ``N`` entries."""
    if _git(repo, "rev-parse", "--is-shallow-repository").strip() == "true":
        # the oldest fetched commit would pose as the one adding every file
        raise LookupError("shallow clone: the CORRECTNESS history is cut off")
    last = last_green(repo)
    diffs = {r: changed_since(repo, r) for r in set(last.values())}
    rows = [(name, last.get(name, 0),
             name not in last or bool(files & diffs[last[name]]))
            for name, files in closures.items()]
    return sorted(rows, key=lambda r: (not r[2], r[1], r[0]))[:N]


def catalog_closures() -> dict[str, set[str]]:
    sys.path.insert(0, str(REPO))
    from bioeco_portal_etl_spark.catalog import queries

    return {name: closure(fn.__module__) for name, fn in queries().items()}


def main() -> int:
    rows = window(REPO, catalog_closures())
    OUT.write_text("".join(f"{name}\n" for name, _, _ in rows))
    for name, rnd, changed in rows:
        print(f"{name}\tr{rnd:02d}\t{'changed' if changed else 'unchanged'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

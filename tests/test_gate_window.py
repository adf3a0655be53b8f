"""The driver-gate window: the first 50 catalog entries, which are the only
ones the external correctness driver hash-samples each round. catalog.py
declares the names in bioeco_portal_etl_spark/gate_window.txt first;
scripts/gate_window.py writes that file from the CORRECTNESS history and
git (see its docstring for the rule)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

import gate_window  # noqa: E402


def _window_file() -> list[str]:
    return gate_window.OUT.read_text().split()


def test_window_is_exactly_the_planned_50():
    from bioeco_portal_etl_spark.catalog import queries

    names = _window_file()
    assert len(names) == len(set(names)) == gate_window.N
    assert set(names) <= set(queries())
    assert list(queries())[: gate_window.N] == names


def test_no_duplicate_gate_entries():
    """catalog.py silently drops window names it does not know, so a stale
    or misspelled name in gate_window.txt must fail here instead."""
    from bioeco_portal_etl_spark.catalog import _CATALOG, _GATE_WINDOW

    assert len(set(_GATE_WINDOW)) == len(_GATE_WINDOW)
    assert len(set(_CATALOG.keys())) == len(_CATALOG.keys())
    missing = [k for k in _GATE_WINDOW if k not in _CATALOG]
    assert not missing, f"gate_window.txt names not in catalog: {missing}"


def test_window_file_matches_script():
    if shutil.which("git") is None:
        pytest.skip("git is not installed")
    if not gate_window.last_green(REPO):
        pytest.skip("no CORRECTNESS_r*.json files")
    try:
        rows = gate_window.window(REPO, gate_window.catalog_closures())
    except (subprocess.CalledProcessError, LookupError) as e:
        pytest.skip(f"no git history for the CORRECTNESS files: {e}")
    assert [name for name, _, _ in rows] == _window_file(), (
        "gate_window.txt is stale: run `python scripts/gate_window.py`"
    )


def test_rule_on_fake_history(tmp_path):
    """A red row does not count as sampled, and changed entries come
    before older unchanged ones."""
    if shutil.which("git") is None:
        pytest.skip("git is not installed")

    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=tmp_path, check=True, capture_output=True)

    def commit(path, text):
        (tmp_path / path).parent.mkdir(exist_ok=True)
        (tmp_path / path).write_text(text)
        git("add", path)
        git("commit", "-qm", path)

    green, red = {"rows_match": True}, {"rows_match": True, "hash_match": False}
    git("init", "-q")
    pkg = gate_window.PKG
    for name in "abc":
        commit(f"{pkg}/{name}.py", "x = 1\n")
    commit("CORRECTNESS_r01.json", json.dumps({"a": green, "b": green, "c": green}))
    commit(f"{pkg}/b.py", "x = 2\n")  # after b's last GREEN row
    commit("CORRECTNESS_r02.json", json.dumps({"b": red, "c": green}))
    (tmp_path / pkg / "c.py").write_text("x = 3\n")  # uncommitted edit

    closures = {n: {f"{pkg}/{n}.py"} for n in "abc"}
    assert gate_window.window(tmp_path, closures) == [
        ("b", 1, True), ("c", 2, True), ("a", 1, False),
    ]

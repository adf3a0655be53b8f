"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The smoke runs start one Spark JVM per (workload, trace) pair, each
running one pass, so the module takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(args: list[str], cwd: str = ROOT, root: str = ROOT) -> subprocess.CompletedProcess:
    """Run the benchmark command of the checkout at ``root`` from ``cwd``."""
    prog, script, *rest = SPEC["command"]
    return subprocess.run(
        [prog, os.path.join(root, script), *rest, *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_documents_are_byte_identical_for_a_seed(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.write_documents(str(tmp_path / d), seed)
    names = ["documents.parquet"]
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)[0] == names
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)[1] == names


def test_portal_inputs_are_byte_identical_for_a_seed(tmp_path):
    exp_a = datagen.write_portal_inputs(str(tmp_path / "a"), seed=7)
    exp_b = datagen.write_portal_inputs(str(tmp_path / "b"), seed=7)
    datagen.write_portal_inputs(str(tmp_path / "c"), seed=8)
    names = ["contacts.csv", "survey.csv", "eurosea.csv"]
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)[0] == names
    assert filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)[1] == names
    assert exp_a == exp_b


@pytest.mark.parametrize("seed", [1, 2, 3, 17, 301, 410, 2024])
def test_portal_inputs_reproduce_the_reference_counts(seed):
    """FIXTURES.md: 371 survey + 256 merged EuroSea = 627 programs, 218
    distinct users, 372 programs without spatial data."""
    tables, exp = datagen.portal_inputs(seed)
    rows = {name: len(t) - 1 for name, t in tables.items()}
    assert rows == {"survey": 371, "contacts": 243, "eurosea": 367}
    assert exp["programs"] == 627
    assert exp["users"] == 218
    assert exp["programs"] - exp["layers"] == 372


def test_fails_without_the_engine(tmp_path):
    """Run from a directory holding only the benchmark: a non-zero exit and
    no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work", "__pycache__"))
    proc = _run(
        ["--workload", "portal_etl", "--seed", "1", "--seconds", "1"],
        cwd=str(tmp_path), root=str(tmp_path),
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_metric_and_no_errors(workload, trace, tmp_path):
    # the untraced runs start from another directory: the portal's pandas
    # UDF and foreachPartition workers must still import the package
    proc = _run(
        ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=str(tmp_path) if trace == 0 else ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    if trace:
        assert result["metrics"]["ops.error_rate"]["value"] == 0
        assert result["metrics"]["exec.jobs"]["value"] > 0
        if workload == "portal_etl":
            assert result["metrics"]["sinks.rows_written"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())

"""Pin bench.py's driver-facing output contract. Round 4's final stdout line
carried all 125 per-query timings (~4 kB); the external driver keeps only the
last ~2000 chars of stdout, so `BENCH_r04.json` recorded `parsed: null` and
the round published no bench number. The final line must stay compact and
parseable no matter how large the catalog grows."""

import json

import bench
from bioeco_portal_etl_spark import catalog


def _fake_timings(n: int) -> dict[str, float]:
    return {f"very_long_query_name_family_{i:04d}": 123.456 for i in range(n)}


def test_compact_line_bounded_at_large_catalog():
    # 400 queries — far past any realistic catalog size.
    line = bench.compact_line(_fake_timings(400), 0.1, 14.8, 1.9)
    assert len(line) < 1500
    d = json.loads(line)
    assert d["metric"] == "headline_suite_wall_clock"
    assert d["unit"] == "sec"
    assert d["n_queries"] == 400
    assert len(d["queries"]) == 10  # top-10 slowest only
    assert d["value"] == round(123.456 * 400, 3)
    assert d["stable26_sec"] == 14.8 and d["calibration_sec"] == 1.9
    # all three calibration axes present even when defaulted (the
    # sustained row is round 9's drift-mode instrument)
    assert d["calibration_shuffle_sec"] == -1.0
    assert d["calibration_sustained_sec"] == -1.0


def test_compact_line_carries_all_calibrations():
    d = json.loads(bench.compact_line(_fake_timings(5), 0.1, 1.0, 0.9, 0.95, 31.2))
    assert d["calibration_sec"] == 0.9
    assert d["calibration_shuffle_sec"] == 0.95
    assert d["calibration_sustained_sec"] == 31.2


def test_sustained_normalized_headline():
    """VERDICT r9 item 3: the self-adjudicating cross-round field.
    stable26 × nominal/measured — a 2×-degraded host (sustained 60s vs
    30 nominal) halves the raw number back to reference-host terms."""
    d = json.loads(bench.compact_line(_fake_timings(5), 0.1, 20.0, 0.9, 0.95, 60.0))
    assert d["stable26_per_sustained"] == 10.0
    # nominal-speed host: normalized == raw
    d = json.loads(bench.compact_line(_fake_timings(5), 0.1, 20.0, 0.9, 0.95, 30.0))
    assert d["stable26_per_sustained"] == 20.0


def test_sustained_normalized_falls_back_when_skipped():
    # sustained row skipped/invalid → -1 sentinel, reader uses raw
    d = json.loads(bench.compact_line(_fake_timings(5), 0.1, 20.0, 0.9))
    assert d["stable26_per_sustained"] == -1.0
    assert bench._normalize_by_sustained(20.0, 0.0) == -1.0
    assert bench._normalize_by_sustained(20.0, -1.0) == -1.0


def test_compact_line_keeps_slowest():
    t = _fake_timings(50)
    t["the_slow_one"] = 999.0
    d = json.loads(bench.compact_line(t, 0.1, 1.0, 1.0))
    assert "the_slow_one" in d["queries"]


def test_bench_list_covers_catalog_batch_faces():
    """Every catalog entry is benched (VERDICT r4 item 7), streaming w*
    entries included; and the bench references no query that is gone."""
    qnames = set(catalog.queries())
    benched = set(bench.BENCH_QUERIES)
    missing = qnames - benched
    assert not missing, f"catalog entries without bench coverage: {sorted(missing)}"
    stale = benched - qnames
    assert not stale, f"bench references unknown queries: {sorted(stale)}"


def test_bench_covers_entire_catalog():
    """No operator ships without wall-time tracking: the bench runs every
    catalog entry in the name order bench_full.json records
    (VERDICT r4 item 7)."""
    assert bench.BENCH_QUERIES == sorted(catalog.queries())
    assert set(bench.STABLE_26) <= set(bench.BENCH_QUERIES)


def test_cli_rejects_unknown_flags_and_knows_no_sustained():
    """ADVICE r10: flags are argparse-parsed in every mode — an unknown
    flag is a hard error (old hand-rolled scan silently ignored it), and
    --no-sustained is a documented option of the FULL suite, not just
    the isolate modes."""
    import subprocess
    import sys
    from pathlib import Path

    bench_py = str(Path(__file__).resolve().parent.parent / "bench.py")
    bad = subprocess.run(
        [sys.executable, bench_py, "--bogus-flag"],
        capture_output=True, text=True,
    )
    assert bad.returncode == 2
    assert "unrecognized arguments" in bad.stderr
    helpout = subprocess.run(
        [sys.executable, bench_py, "--help"], capture_output=True, text=True
    )
    assert helpout.returncode == 0
    assert "--no-sustained" in helpout.stdout
    assert "--isolate" in helpout.stdout

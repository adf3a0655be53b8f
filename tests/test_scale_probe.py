"""scripts/scale_probe.py: the Nx on-disk copy keeps every table's
schema and non-key values and shifts only the key columns; the probe
runs catalog queries by name at 1x and Nx."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import scale_probe  # noqa: E402
from conftest import SF_SMOKE as SF  # noqa: E402


def test_write_scaled_shifts_only_keys(tmp_path):
    n = 3
    scale_probe.write_scaled(SF, str(tmp_path), n)
    src_files = sorted(p.name for p in Path(SF).glob("*.parquet"))
    assert sorted(p.name for p in tmp_path.iterdir()) == src_files
    stems = {Path(f).stem for f in src_files}
    assert set(scale_probe.SCALE_KEYS) <= stems
    assert stems - set(scale_probe.SCALE_KEYS) == {"nation", "region"}
    for name in src_files:
        src_path, out_path = Path(SF) / name, tmp_path / name
        schema = pq.read_schema(out_path)  # a file, not a directory
        assert schema.equals(pq.read_schema(src_path), check_metadata=True)
        src, out = pq.read_table(src_path), pq.read_table(out_path)
        keys = scale_probe.SCALE_KEYS.get(Path(name).stem)
        if keys is None:
            assert name in ("nation.parquet", "region.parquet")
            assert out.equals(src)
            continue
        assert out.num_rows == n * src.num_rows
        assert pq.ParquetFile(out_path).metadata.num_row_groups == n
        for i in range(n):
            part = out.slice(i * src.num_rows, src.num_rows)
            for col in src.column_names:
                got = part.column(col).to_pylist()
                want = src.column(col).to_pylist()
                if col in keys:
                    want = [v + i * 1_000_000_000 for v in want]
                assert got == want, (name, i, col)


def test_probe_runs_catalog_queries_by_name(spark):
    names = scale_probe.select(["q1_pricing_summary", "w5_streaming_sessions"])
    rows = list(scale_probe.probe(spark, names, 2, SF))
    assert names == ["q1_pricing_summary", "w5_streaming_sessions"]
    assert [r["name"] for r in rows] == names
    for r in rows:
        assert r["n"] == 2
        for k in ("1x", "Nx", "ratio", "cold_1x", "cold_Nx", "cold_ratio"):
            assert math.isfinite(r[k]) and r[k] > 0, (r["name"], k)
    with pytest.raises(ValueError, match="no_such_query"):
        scale_probe.select(["q1_pricing_summary", "no_such_query"])

#!/usr/bin/env python
"""Scale probe: time catalog queries, by name, at 1x and Nx of an sf
directory.

The Nx input is a real on-disk copy of the sf directory. Each table in
SCALE_KEYS is written N times into one ``<table>.parquet`` file, one
row group per copy, and copy i adds i * 1e9 to the table's key columns.
Row counts and group/join key cardinalities both grow N-fold while
value distributions hold. Every other table (nation, region) is copied
once. Fixed query sets (the ANN query vectors, the decontamination
benchmark) stay at 1x by themselves: they select small keys, and every
shifted key is >= 1e9. So does any query whose whole input is such a
key slice, which makes its ratio meaningless.

Each query runs through ``bench._bench_one`` (one cold run, then min of
3) on the source directory and on the Nx copy. A ratio near N on a
fixed core count means linear scaling; a ratio well above N flags a
superlinear plan before it meets production volumes.

Usage: python scripts/scale_probe.py [N] [name-substring ...]
  N defaults to 10. Without substrings every catalog query is probed;
  a substring that matches no catalog query is an error. Prints one
  JSON line per query: 1x / Nx seconds (min of 3), their cold
  counterparts and both ratios.
"""

from __future__ import annotations

import json
import shutil
import signal
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from bioeco_portal_etl_spark import catalog  # noqa: E402
from bioeco_portal_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
KEY_SHIFT = 1_000_000_000
# Key columns shifted per copy. A table not listed here is copied once.
SCALE_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}


def write_scaled(src: str, dst: str, n: int) -> None:
    """Write every ``<table>.parquet`` of ``src`` into ``dst``: a table
    in SCALE_KEYS as n copies (copy i with its keys + i * KEY_SHIFT),
    any other table once."""
    for path in sorted(Path(src).glob("*.parquet")):
        keys = SCALE_KEYS.get(path.stem)
        if keys is None:
            shutil.copyfile(path, Path(dst) / path.name)
            continue
        table = pq.read_table(path)
        with pq.ParquetWriter(Path(dst) / path.name, table.schema) as out:
            for i in range(n):
                part = table
                for k in keys:
                    col = table.column(k)
                    part = part.set_column(
                        table.schema.get_field_index(k),
                        table.schema.field(k),
                        pc.add(col, pa.scalar(i * KEY_SHIFT, col.type)),
                    )
                out.write_table(part, row_group_size=len(table))


def select(patterns: list[str]) -> list[str]:
    """Catalog names containing any of ``patterns`` (all names when it
    is empty). A pattern that matches nothing raises ValueError."""
    names = sorted(catalog.queries())
    for p in patterns:
        if not any(p in name for name in names):
            raise ValueError(f"no catalog query matches {p!r}")
    return [m for m in names if not patterns or any(p in m for p in patterns)]


def probe(spark, names: list[str], n: int, sf_dir: str = SF_DIR):
    """Yield one result dict per catalog name in ``names``. The Nx copy
    lives in a temporary directory for as long as the iterator runs."""
    with tempfile.TemporaryDirectory(prefix=f"scale{n}x-") as scaled_dir:
        write_scaled(sf_dir, scaled_dir, n)
        for name in names:
            t = {}
            for label, sf in (("1x", sf_dir), ("Nx", scaled_dir)):
                t[label], t[f"cold_{label}"] = bench._bench_one(spark, name, sf)
                spark.catalog.clearCache()
            yield {
                "name": name,
                "n": n,
                **{k: round(v, 3) for k, v in t.items()},
                "ratio": round(t["Nx"] / max(t["1x"], 1e-9), 2),
                "cold_ratio": round(t["cold_Nx"] / max(t["cold_1x"], 1e-9), 2),
            }


def _exit_on_term(*_) -> None:
    # a killed probe still removes its Nx copy and stops Spark; a second
    # SIGTERM (e.g. from a `timeout` wrapper) must not cut that cleanup
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = select(sys.argv[2:])  # an unknown name fails before Spark starts
    # Big-N ladders need data-proportional shuffle partitioning: at 100x
    # the default partition count puts ~30M rows in each hash-aggregate
    # task and exhausts the unified memory region.
    spark = get_spark(
        app_name="scale-probe", shuffle_partitions=256 if n > 10 else None
    )
    spark.sparkContext.setLogLevel("ERROR")
    signal.signal(signal.SIGTERM, _exit_on_term)
    try:
        for row in probe(spark, names, n):
            print(json.dumps(row), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

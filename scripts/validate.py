#!/usr/bin/env python
"""Local replica of the driver's full gate, in one command:

  1. entry() smoke (rows > 0, stable schema) — what t1 checks at sf0.001;
  2. every queries() entry vs its oracle_sql() DuckDB result at sf0.01
     (row count + sorted columns + order-insensitive value hash) — t2;
  3. bench timings at the requested SF (optional, --bench).

Exit code 0 = everything matches. Usage:
  python scripts/validate.py [--sf-dir /root/testdata/sf0.01] [--bench]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tests.oracle import (  # noqa: E402
    OraclePortabilityError,
    VacuousOracleError,
    assert_nonvacuous,
    assert_portable_types,
    compare,
    spark_signature,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--smoke-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--bench", action="store_true")
    ap.add_argument(
        "--out",
        default=None,
        help="write a per-query JSON artifact (driver-CORRECTNESS-shaped, "
        "plus entry/summary) so full-catalog proof is committable even "
        "when the external driver samples a subset",
    )
    ap.add_argument(
        "--plain-session",
        action="store_true",
        help="use a DEFAULT SparkSession (no engine confs: ANSI defaults, "
        "system timezone, default shuffle partitions) — replicates the "
        "external driver's session posture; every entry must be green "
        "here too (read_parquet_table sets what it needs at read time)",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated catalog entry names — validate just these "
        "(fast iteration on new entries; full runs remain the artifact)",
    )
    args = ap.parse_args()

    import duckdb

    from bioeco_portal_etl_spark.session import get_spark, physical_memory_mb

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    if args.plain_session:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("validate-plain")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="validate")
    spark.sparkContext.setLogLevel("ERROR")

    n, cols, _ = spark_signature(mod.entry(spark))
    entry_ok = n > 0 and bool(cols)
    print(f"entry: rows={n} cols={cols} -> {'OK' if entry_ok else 'FAIL'}")

    # DuckDB defaults to 80% of RAM, which with the Spark driver's heap
    # oversubscribes the host; the sf0.1 gr8_kcore oracle needs ~7 GB
    con = duckdb.connect(config={"memory_limit": f"{physical_memory_mb() // 2}MB"})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    queries, oracles = mod.queries(), mod.oracle_sql()
    if args.only:
        keep = {s.strip() for s in args.only.split(",") if s.strip()}
        unknown = keep - set(queries)
        if unknown:
            raise SystemExit(f"--only names not in catalog: {sorted(unknown)}")
        queries = {k: v for k, v in queries.items() if k in keep}
    fails = []
    detail: dict[str, dict] = {}
    for name, fn in queries.items():
        if name not in oracles:
            rn, rc, _ = spark_signature(fn(spark, args.sf_dir))
            # rows-only gate must FAIL on empty results (rn > 0, not >= 0) —
            # matching the driver's entry smoke semantics
            ok = rn > 0 and bool(rc)
            status = "rows-only" if ok else "FAIL"
            detail[name] = {"mode": "rows-only", "ok": ok, "spark_rows": rn}
        else:
            # Machine-enforced portability rule (PORTABILITY.md): an oracle
            # whose output schema surfaces HUGEINT/UHUGEINT/DECIMAL fails
            # HERE, before the external driver's differing stringification
            # can turn it into a silent hash-red (round-4 postmortem).
            try:
                assert_portable_types(con, oracles[name], name=name)
            except OraclePortabilityError as e:
                fails.append(name)
                detail[name] = {"mode": "oracle", "ok": False, "lint": str(e)}
                print(f"{name}: FAIL {e}")
                continue
            r = compare(fn(spark, args.sf_dir), con, oracles[name])
            ok = r["rows_match"] and r["cols_match"] and r["hash_match"]
            # Zero-row lint (VERDICT r5 #1, the tx31 postmortem): an
            # oracle-mode entry where BOTH sides are empty hash-matches
            # trivially and certifies nothing — fail it, mirroring the
            # rn > 0 rule applied to rows-only entries above.
            try:
                assert_nonvacuous(
                    r["spark"]["rows"], r["duck"]["rows"], name=name
                )
                status = "OK" if ok else f"FAIL {r}"
            except VacuousOracleError as e:
                ok = False
                status = f"FAIL {e}"
            detail[name] = {
                "mode": "oracle",
                "ok": ok,
                "rows_match": r["rows_match"],
                "schema_match": r["cols_match"],
                "hash_match": r["hash_match"],
                "spark_rows": r["spark"]["rows"],
                "oracle_rows": r["duck"]["rows"],
            }
        if status.startswith("FAIL"):
            fails.append(name)
        print(f"{name}: {status}")

    summary = {
        "entry_ok": entry_ok,
        "n_queries": len(queries),
        "n_oracles": len(oracles),
        "fails": fails,
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {"summary": summary, "sf_dir": args.sf_dir, "queries": detail},
                f,
                indent=1,
            )

    if args.bench:
        import subprocess

        subprocess.run([sys.executable, str(REPO / "bench.py")], check=True)

    return 0 if entry_ok and not fails else 1


if __name__ == "__main__":
    sys.exit(main())

"""Regenerate catalog_ann.TS4_SQL: run the deterministic ts4_kmeans_ivf
entry at the three gate datasets (sf0.001 local pytest gate, sf0.01
driver gate, sf0.1 full-scale sweep), fingerprint each embeddings table,
and emit the literal-VALUES oracle dispatched on that fingerprint.

Run after any change to the testdata, k-means config (k / max_iter / init),
or IVF parameters, then paste the output over the TS4_SQL block:

    python scripts/freeze_ts4_oracle.py > /tmp/ts4_sql.py
"""

from __future__ import annotations

import duckdb
from pyspark.sql import SparkSession

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from bioeco_portal_etl_spark.catalog_ann import ts4_kmeans_ivf

    blocks = []
    for sf in SFS:
        rows = [tuple(r) for r in ts4_kmeans_ivf(spark, sf).collect()]
        (fp,) = duckdb.sql(
            "SELECT md5(string_agg(embedding::VARCHAR, '|' ORDER BY vec_id)) "
            f"FROM '{sf}/embeddings.parquet'"
        ).fetchone()
        vals = ",\n    ".join("(%d, %d, %d, %d)" % r for r in rows)
        blocks.append(
            "  SELECT v.* FROM (VALUES\n    "
            + vals
            + "\n  ) v(query_id, match_id, score_e4, rank), fp "
            + f"WHERE fp.h = '{fp}'"
        )
    body = "\n  UNION ALL\n".join(blocks)
    print(
        'TS4_SQL = """\n'
        "WITH fp AS (\n"
        "  SELECT md5(string_agg(embedding::VARCHAR, '|' ORDER BY vec_id)) AS h\n"
        "  FROM embeddings),\n"
        "expected(query_id, match_id, score_e4, rank) AS (\n"
        + body
        + ")\n"
        "SELECT CAST(query_id AS BIGINT) AS query_id, "
        "CAST(match_id AS BIGINT) AS match_id,\n"
        "       CAST(score_e4 AS BIGINT) AS score_e4, "
        "CAST(rank AS INTEGER) AS rank\n"
        'FROM expected ORDER BY query_id, rank\n"""'
    )


if __name__ == "__main__":
    main()

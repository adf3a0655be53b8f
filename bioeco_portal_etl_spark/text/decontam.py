"""Benchmark decontamination — n-gram overlap between a training corpus
and an evaluation/benchmark set (the GPT-3 appendix-C / PaLM style
"13-gram overlap" check, done relationally).

A corpus document is CONTAMINATED when it shares at least ``min_common``
k-shingles with any benchmark document. The reference ETL has no
counterpart; this is a first-class training-data operator alongside the
dedupe stack (same shingle machinery, text/dedupe.py).

Plan shape at 100 TB: the benchmark side is tiny (thousands of docs) —
its exploded shingle set BROADCASTS, so the corpus side is ONE map-side
hash join over its exploded shingles followed by a (corpus_id, bench_id)
count aggregate: no corpus shuffle at all until the aggregate, whose keys
are the (rare) overlapping pairs. Degenerate ubiquitous shingles (stop
phrases) are capped by ``max_shingle_df`` on the BENCHMARK side — a
shingle occurring in many benchmark docs matches everything and only
inflates the join; dropping it there is safe (a real contamination match
still has rarer shingles in common) and keeps the broadcast fan-out
bounded.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.text.dedupe import shingled


def _exploded(df: DataFrame, id_col: str, text_col: str, k: int, alias: str):
    sh = shingled(df, id_col, text_col, k)
    return sh.select(
        F.col(id_col).alias(alias), F.explode_outer("sh").alias("_s")
    )


def ngram_overlap_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_common: int = 2,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """(doc_id, bench_id, n_common) for every corpus/benchmark pair sharing
    >= ``min_common`` distinct k-shingles. Shingle sets are distinct per
    doc (shingled() emits sets), so n_common is true set intersection."""
    bench = _exploded(benchmark, id_col, text_col, k, "bench_id")
    common = (
        bench.groupBy("_s")
        .agg(F.collect_list("bench_id").alias("_bids"))
        .filter(F.size("_bids") <= max_shingle_df)
        .select(F.col("_s"), F.explode("_bids").alias("bench_id"))
    )
    corp = _exploded(corpus, id_col, text_col, k, "doc_id")
    joined = corp.join(common, "_s")
    return (
        joined.groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )

"""Temperature-weighted corpus mixing — the domain/language rebalancing
step every multilingual / multi-source pretraining mix applies (sampling
probabilities p_s ∝ n_s^α with α < 1 upweights rare strata; see e.g.
Lample & Conneau 2019 §3.1, the Pile's per-source epochs).

The reference (a one-shot biodiversity ETL) has no such operator; it is
part of the repo's training-data north star.

Spark-first shape: the mix is ONE tiny aggregate plus a broadcast join —
  1. per-stratum counts (hash agg, map-side combined; |strata| rows);
  2. per-stratum acceptance threshold computed on the counts frame
     (a few doubles per stratum — the Σ n_s^α normalizer is a FIXED-ORDER
     left fold over the stratum-sorted counts so any engine reproduces the
     exact double, never a reassociating sum());
  3. broadcast the |strata|-row threshold table back onto the corpus and
     keep rows whose deterministic md5 bucket (operators/sampling.py)
     falls under their stratum's threshold.
No shuffle ever touches the corpus itself, no RNG state: rerun-, append-
and partitioning-stable, and byte-reproducible in any engine (the whole
assignment is oracle-checked, which seeded sample() can never be).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bioeco_portal_etl_spark.operators.sampling import BUCKETS, hash_bucket


def mix_thresholds(
    counts: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Per-stratum acceptance thresholds in [0, BUCKETS] from a
    ``(stratum, n)`` counts frame: target mass p_s = n_s^α / Σ n_s^α, kept
    count c_s = budget_frac·N·p_s, acceptance a_s = min(1, c_s / n_s).

    The normalizer folds in stratum-sorted order (left fold over
    ``array_sort(collect_list(...))``) so the double is engine-exact; the
    downstream arithmetic keeps one fixed operation shape
    ``((budget·N) · (n^α / Σ)) / n`` for the same reason.

    Single lineage by construction: the counts frame is consumed ONCE —
    collected into a single |strata|-row array row (with the fold and the
    total computed alongside), then exploded back out. Referencing
    ``counts`` twice (once for the normalizer, once for the per-stratum
    arithmetic) would make Spark re-execute the corpus aggregate per
    consumer (no automatic CSE across join inputs) — two corpus passes at
    100 TB for a |strata|-row table."""
    one = counts.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(stratum_col).alias("s"), F.col("n")))
        ).alias("sn"),
        F.sum("n").alias("n_total"),
    ).select(
        "sn",
        "n_total",
        F.aggregate(
            F.col("sn"),
            F.lit(0.0),
            lambda acc, x: acc + F.pow(x["n"].cast("double"), F.lit(float(alpha))),
        ).alias("pow_sum"),
    )
    ex = one.select(F.explode("sn").alias("x"), "n_total", "pow_sum")
    pow_n = F.pow(F.col("x.n").cast("double"), F.lit(float(alpha)))
    return ex.select(
        F.col("x.s").alias(stratum_col),
        F.col("x.n").alias("n"),
        F.floor(
            F.least(
                F.lit(1.0),
                (
                    (F.lit(float(budget_frac)) * F.col("n_total").cast("double"))
                    * (pow_n / F.col("pow_sum"))
                )
                / F.col("x.n").cast("double"),
            )
            * BUCKETS
        )
        .cast("long")
        .alias("thr"),
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    salt: str = "mix",
) -> DataFrame:
    """Deterministically resample ``df`` so strata follow the temperature-
    scaled mix: keep a row iff md5-bucket(id) < its stratum's threshold.
    Corpus-side plan: scan → broadcast-join (|strata| rows) → filter; the
    only shuffle in the whole job is the tiny counts aggregate."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n"))
    thr = mix_thresholds(counts, stratum_col, alpha, budget_frac)
    return (
        df.join(thr.select(stratum_col, "thr"), stratum_col)
        .filter(hash_bucket(id_col, salt) < F.col("thr"))
        .drop("thr")
    )

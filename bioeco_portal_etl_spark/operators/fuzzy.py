"""Blocked fuzzy matching (record linkage) — approximate string joins
without the all-pairs cross product.

Classic entity-resolution shape (Fellegi-Sunter blocking): candidate
pairs come from an EQUI-join on a cheap blocking key (here: first token
of the name), are pruned by a length band, and only then pay the
O(len²) edit-distance comparison. The all-pairs formulation is O(n²)
comparisons; blocking reduces it to Σ|block|² — at 100 TB the blocking
key is the only shuffle key, each block is processed within its hash
partition.

Same composition family as text/dedupe.py's LSH→rescore: block (cheap,
recall-oriented) → verify (exact, precision-oriented).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def blocked_fuzzy_best_match(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_key: Column | None = None,
    max_distance: int = 2,
    length_band: int = 2,
) -> DataFrame:
    """Best fuzzy match per row among same-block candidates:
    ``(id, best_match_id, best_distance)`` for every row with at least one
    candidate within ``max_distance`` edits (ties break on smallest id).

    ``block_key`` defaults to the name's first whitespace token. The
    argmin is ``min(struct(distance, id))`` under groupBy(id) — candidate
    rows are born inside the block-join partitions, so the combiner
    collapses them map-side and the final shuffle carries ≤1 row per id."""
    key = (
        block_key
        if block_key is not None
        else F.split(F.col(name_col), r"\s+").getItem(0)
    )
    base = df.select(
        F.col(id_col).alias("_fid"),
        F.col(name_col).alias("_fname"),
        key.alias("_fblock"),
        F.length(name_col).alias("_flen"),
    )
    left = base
    right = base.select(
        F.col("_fid").alias("_gid"),
        F.col("_fname").alias("_gname"),
        F.col("_fblock").alias("_fblock"),
        F.col("_flen").alias("_glen"),
    )
    pairs = (
        left.join(right, "_fblock")
        .filter(
            (F.col("_fid") != F.col("_gid"))
            & (F.abs(F.col("_flen") - F.col("_glen")) <= length_band)
        )
        .select(
            "_fid",
            "_gid",
            # bounded edit distance: the threshold arg turns the O(len²) DP
            # into a banded O(len·k) scan with early exit (returns -1 when
            # the distance exceeds the bound) — the difference between a
            # verify step that survives dense blocks and one that doesn't
            # (measured 65 s -> seconds at sf0.1 on the x8 catalog fixture).
            F.levenshtein(
                F.col("_fname"), F.col("_gname"), int(max_distance)
            ).alias("_d"),
        )
        .filter(F.col("_d") >= 0)
    )
    return (
        pairs.groupBy("_fid")
        .agg(F.min(F.struct(F.col("_d"), F.col("_gid"))).alias("_m"))
        .select(
            F.col("_fid").alias(id_col),
            F.col("_m._gid").alias("best_match_id"),
            F.col("_m._d").alias("best_distance"),
        )
    )

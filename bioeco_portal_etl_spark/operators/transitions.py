"""First-order Markov transition mining over per-entity event sequences:
the (state -> next state) count/probability matrix that powers next-action
prediction features, anomalous-flow detection, and sequence-model priors.

Plan: ``lead()`` over ``(user) ORDER BY (ts, id)`` pairs each event with
its successor inside ONE window sort (the same user-hash exchange the
other per-user ops reuse), then a per-(src,dst) count aggregate — state
space sized, not event sized, so the output is tiny regardless of input
scale. The naive self-join on ``seq = seq + 1`` shuffles the stream twice
and materializes it twice; the window formulation shuffles once.

Determinism: successor ties impossible (unique id in the sort key);
probabilities are floor(cnt * 1e4 / row_total) on non-negative longs via
DOUBLE division + floor, the PORTABILITY floor-division spelling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def markov_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """(src, dst, cnt, p_e4): observed transition counts per ordered state
    pair and the row-normalized transition probability (e4 fixed-point).
    Sequence-final events (no successor within the user) contribute no
    pair, the standard open-world convention."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(
            F.col(type_col).alias("src"),
            F.lead(type_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy("src").agg(F.sum("cnt").alias("__row_total"))
    return counts.join(totals, "src").select(
        "src",
        "dst",
        "cnt",
        F.floor(
            F.col("cnt").cast("double") * 10000.0
            / F.col("__row_total").cast("double")
        )
        .cast("long")
        .alias("p_e4"),
    )

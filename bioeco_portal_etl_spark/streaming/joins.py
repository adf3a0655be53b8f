"""Stream-stream interval join — the unified batch/streaming join face.

Structured Streaming can join two live streams only when the condition
bounds how long each side's state must be kept: an equi-key plus an
event-time interval. ``interval_join`` builds exactly that condition from
plain columns, so the SAME function drives:

- batch: an ordinary theta-join (Catalyst picks the strategy), which is
  also the semantic oracle for ``operators/asof.range_join_binned`` —
  tests triangulate streamed ≡ batch ≡ binned;
- streaming: both inputs watermarked by the caller, inner join in append
  mode; Spark derives the state-retention horizon from the interval
  bounds + watermarks and evicts rows that can no longer match.

Scale notes: state is proportional to (watermark + interval) × input
rate per key — bounded by construction. The join shuffles both streams
on the key; skewed keys behave like any keyed stateful op (salt upstream
if one key dominates)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
) -> DataFrame:
    """Inner join of rows with the same ``on`` key where
    ``left_ts + lower_s <= right_ts <= left_ts + upper_s`` (bounds
    inclusive; negative ``lower_s`` looks backward). All non-key columns
    must be disjoint, as with any Spark join."""
    if lower_s > upper_s:
        raise ValueError(f"lower_s {lower_s} > upper_s {upper_s}")
    overlap = {c for c in left.columns if c in right.columns and c != on}
    if overlap:
        raise ValueError(f"non-key column collision: {sorted(overlap)}")
    lo = F.expr(f"INTERVAL {int(lower_s * 1e6)} MICROSECOND")
    hi = F.expr(f"INTERVAL {int(upper_s * 1e6)} MICROSECOND")
    cond = (
        (left[on] == right[on])
        & (right[right_ts] >= left[left_ts] + lo)
        & (right[right_ts] <= left[left_ts] + hi)
    )
    return left.join(right, cond).drop(right[on])


def interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
    how: str = "left_outer",
) -> DataFrame:
    """Outer variant of :func:`interval_join` — keeps unmatched rows of the
    outer side with nulls on the other side.

    Batch: an ordinary outer theta-join. Streaming: Spark emits MATCHED
    rows as they join, but an unmatched outer row is held in state until
    the *other side's watermark* proves no partner can still arrive
    (right watermark > outer_ts + upper); only then does the null-padded
    row emit. A drain therefore never emits null rows for the trailing
    horizon of the stream — callers comparing against a batch oracle must
    restrict both sides to rows provably past that horizon (see
    w12_stream_outer_join for the cutoff convention). State retention is
    watermark + interval bounded, exactly as the inner join."""
    if lower_s > upper_s:
        raise ValueError(f"lower_s {lower_s} > upper_s {upper_s}")
    overlap = {c for c in left.columns if c in right.columns and c != on}
    if overlap:
        raise ValueError(f"non-key column collision: {sorted(overlap)}")
    lo = F.expr(f"INTERVAL {int(lower_s * 1e6)} MICROSECOND")
    hi = F.expr(f"INTERVAL {int(upper_s * 1e6)} MICROSECOND")
    cond = (
        (left[on] == right[on])
        & (right[right_ts] >= left[left_ts] + lo)
        & (right[right_ts] <= left[left_ts] + hi)
    )
    return left.join(right, cond, how).drop(right[on])


def static_enrich(
    stream: DataFrame, dim: DataFrame, key: str, how: str = "left"
) -> DataFrame:
    """Stream-static dimension enrichment — THE most common production
    streaming join: every microbatch joins against the (slowly-changing)
    batch dimension, broadcast so the stream never shuffles for the join
    and no streaming state exists at all (unlike stream-stream joins, the
    static side is re-resolvable per batch, so nothing must be retained
    across triggers). Left join keeps events whose key has no dimension
    row — enrichment must never drop facts. Works identically on a batch
    frame (the unified-face convention of interval_join above)."""
    # a dimension built from local rows has no size estimate: without the
    # hint the planner shuffles both sides into a SortMergeJoin
    return stream.join(F.broadcast(dim), key, how)

"""The one representation of an undirected graph the kernels read.

An undirected edge list reaches a kernel as an :class:`UndirectedEdges`:
every edge in BOTH orientations, each (src, dst) once, no self-loops,
hash-partitioned on ``src`` and persisted. :func:`undirected` is the only
constructor, so a kernel that receives the type can skip every
symmetrize/dedupe step and read the frame straight away; a raw DataFrame
is rejected with ``TypeError`` instead of silently scoring a
one-orientation or duplicated list.

Why the layout: hash(src) co-locates every (src, dst) group (the
subset-of-keys rule), so the dedupe runs in place of the repartition —
ONE exchange — and every per-src aggregate downstream (degrees, LPA's
(node, label) counts, adjacency arrays) needs no exchange at all. The
frame is persisted once here because most kernels read it several times
(per round, or degrees + wedges + anti-join) and two kernels often share
it (gr20's detector and scorer); built lazily per kernel, each reader
would replay the symmetrizing exchange of an expensive source join.

:func:`canonical` is the other shape: each undirected edge once as a
(u < v) pair, for the kernels that count edges rather than walk them.
:func:`both_orientations` turns those pairs back into a (src, dst) list
without a cache or a src partitioning, for a kernel that reads the list
in one pass.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


@dataclass(frozen=True)
class UndirectedEdges:
    """(src, dst) frame holding both orientations of every edge, once,
    without self-loops, hash-partitioned on ``src`` and persisted. Build
    it with :func:`undirected`; the caller owns the persist."""

    df: DataFrame


def undirected(edges: DataFrame) -> UndirectedEdges:
    """Symmetrize an undirected (src, dst) list — either orientation,
    duplicates and self-loops allowed — into :class:`UndirectedEdges`."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return UndirectedEdges(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )


def edge_frame(edges: UndirectedEdges) -> DataFrame:
    """The frame of ``edges``; ``TypeError`` for anything that did not
    come through :func:`undirected`."""
    if not isinstance(edges, UndirectedEdges):
        raise TypeError(
            "expected UndirectedEdges (build it with graph.undirected."
            f"undirected), got {type(edges).__name__}"
        )
    return edges.df


def canonical(edges: DataFrame) -> DataFrame:
    """Each undirected edge of a (src, dst) list once, as a (u, v) pair
    with u < v; self-loops dropped."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )


def both_orientations(edges: DataFrame) -> DataFrame:
    """The :func:`canonical` pairs of ``edges`` as a (src, dst) list with
    both orientations, each once. The two halves of the explode are
    disjoint, so the pairs' one distinct is the only dedupe; nothing is
    persisted or partitioned on src, so this is not an
    :class:`UndirectedEdges` (a one-pass aggregate needs neither)."""
    pairs = canonical(edges)
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")

"""graph/undirected.py: every undirected kernel reads one representation.

A kernel's output must depend only on the undirected graph, never on how
the caller spelled it (one orientation, both, duplicates, self-loops),
and a raw DataFrame must be rejected rather than read as if symmetric."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.graph.undirected import undirected

_N = 40


def _graph(seed):
    """Random simple graph on 40 nodes as (u < v) pairs."""
    rng = random.Random(seed)
    return sorted(
        {tuple(sorted(rng.sample(range(_N), 2))) for _ in range(90)}
    )


def _kcore(spark, g):
    from bioeco_portal_etl_spark.graph.kcore import kcore

    return kcore(g, k=3)


def _adamic_adar(spark, g):
    from bioeco_portal_etl_spark.graph.linkpred import adamic_adar

    return adamic_adar(g, max_degree=6, min_common=1)


def _label_propagation(spark, g):
    from bioeco_portal_etl_spark.graph.labelprop import label_propagation

    return label_propagation(g, rounds=3)


def _modularity(spark, g):
    from bioeco_portal_etl_spark.graph.modularity import community_modularity

    labels = spark.range(_N).select(
        F.col("id").alias("node"), (F.col("id") % 4).alias("label")
    )
    return community_modularity(g, labels, top_k=10)


def _adjacency(spark, g):
    from bioeco_portal_etl_spark.graph.walks import adjacency

    return adjacency(g)


def _random_walks(spark, g):
    from bioeco_portal_etl_spark.graph.walks import random_walks

    seeds = spark.range(0, _N, 3).select(F.col("id").alias("walk_id"))
    return random_walks(g, seeds, length=4)


@pytest.mark.parametrize(
    "kernel",
    [
        _kcore,
        _adamic_adar,
        _label_propagation,
        _modularity,
        _adjacency,
        _random_walks,
    ],
    ids=lambda k: k.__name__.lstrip("_"),
)
def test_kernel_output_independent_of_edge_spelling(spark, kernel):
    pairs = _graph(7)
    both = pairs + [(v, u) for u, v in pairs]
    noisy = both + pairs[::3] + [(u, u) for u, _ in pairs[::5]]
    outs = []
    for edges in (pairs, both, noisy):
        e = spark.createDataFrame(edges, "src long, dst long")
        outs.append(sorted(map(tuple, kernel(spark, undirected(e)).collect())))
    assert outs[0], "vacuous: the kernel returned no rows"
    assert outs[0] == outs[1] == outs[2]

    raw = spark.createDataFrame(both, "src long, dst long")
    with pytest.raises(TypeError, match="UndirectedEdges"):
        kernel(spark, raw)

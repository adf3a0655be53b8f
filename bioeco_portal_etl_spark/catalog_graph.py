"""Graph catalog entries (gr*): PageRank, triangles, connected components,
HITS, k-core, random walks, HyperBall, SSSP, assortativity, link prediction,
rich club, modularity and edge support (graph/), over supplier graphs built
from lineitem. The shared edge builders and their SQL live here.

Same contract as catalog.py: (spark_fn, oracle_sql) pairs aliased
identically on both sides, deterministic ORDER BY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bioeco_portal_etl_spark.sources.files import read_parquet_table as T


# ---------------------------------------------------------------------------
# gr1/gr2 — graph: PageRank + triangles over the co-order supplier graph
# ---------------------------------------------------------------------------

_EDGES_SQL = """
SELECT a.l_suppkey AS src, b.l_suppkey AS dst
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
"""


def _co_order_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed co-order supplier edges: (s1 -> s2) iff both supply the
    same order. The self-join key is l_orderkey (bounded fan-out: order
    line counts are small constants), so the join shuffles once on the
    order key and never explodes on a hub vertex."""
    li = T(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
    )


def gr1_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """3-iteration e9 fixed-point PageRank (graph/pagerank.py) over the
    co-order supplier graph; top 20 by rank. Integer mass transfer makes
    the ranks bit-identical to the DuckDB unrolled-CTE mirror."""
    from bioeco_portal_etl_spark.graph.pagerank import pagerank

    ranks = pagerank(_co_order_edges(spark, sf), iterations=3)
    return ranks.orderBy(F.desc("pr_e9"), "node").limit(20)


def _gr1_sql() -> str:
    from bioeco_portal_etl_spark.graph.pagerank import duck_pagerank

    return f"""
WITH {duck_pagerank(_EDGES_SQL, 3)}
SELECT node, pr_e9 FROM pr3 ORDER BY pr_e9 DESC, node LIMIT 20
"""


def gr2_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Degree-oriented triangle count (graph/triangles.py) over the
    co-order supplier graph of the 1%-order slice: one row (n_nodes,
    n_edges, n_wedges, n_triangles); n_wedges witnesses the orientation
    bound that keeps the wedge join off the curse-of-the-last-reducer
    path. The slice is the FIXTURE, not the operator: the synthetic
    co-order graph is near-complete (avg degree ~0.9|V| at sf0.1), where
    triangle counting is inherently Θ(E^{3/2}) — ~3*10^8 wedges — so the
    unsliced run measures the data generator's density, not the plan.
    The orientation bound is what makes the same plan safe on REAL
    power-law graphs at 100 TB (Suri & Vassilvitskii 2011)."""
    from bioeco_portal_etl_spark.graph.triangles import triangle_stats

    li = T(spark, sf, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    src = li.select("l_orderkey", "l_suppkey")
    a, b = src.alias("a"), src.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
    )
    return triangle_stats(edges)


_EDGES_1PCT_SQL = """
SELECT a.l_suppkey AS src, b.l_suppkey AS dst
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
WHERE a.l_orderkey % 100 = 0
"""


def _gr2_sql() -> str:
    from bioeco_portal_etl_spark.graph.triangles import duck_triangles

    return f"""
WITH {duck_triangles(_EDGES_1PCT_SQL)}
SELECT n_nodes, n_edges, n_wedges, n_triangles FROM tri
"""


# ---------------------------------------------------------------------------
# gr3 — bounded-hop BFS reach
# ---------------------------------------------------------------------------

_CHAIN_EDGES_SQL = """
SELECT a.l_suppkey AS src, b.l_suppkey AS dst
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
 AND a.l_suppkey <> b.l_suppkey
UNION ALL
SELECT b.l_suppkey AS src, a.l_suppkey AS dst
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
 AND a.l_suppkey <> b.l_suppkey
"""


def _chain_supplier_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Adjacent-line supplier pairs of every order, BOTH directions —
    the exact multiset the lineitem⋈lineitem self-join on
    (l_orderkey, l_linenumber + 1, differing suppliers) produces, built
    WITHOUT the join (round-12, guide §2.4): ONE groupBy(l_orderkey)
    collects the ~4-row (linenumber, suppkey) arrays (map-side partials,
    a single exchange of the skinny projection) and the pairs fold out
    in codegen as a per-row cross match over ln+1 — NOT adjacent-position
    pairing, so the multiset is exact even where (l_orderkey,
    l_linenumber) repeats or gaps (the synthetic testdata does both),
    and orders are a handful of lines so the in-row O(n²) is constant
    work. The self-join form paid two scans plus a sort-merge join (two
    exchanges + two sorts of the fact table) for the same rows. The
    DuckDB oracles still run the join form, so tri-SF validation
    re-proves the equivalence on the actual data. Shared by
    gr3/gr11/gr12/gr13/gr14/gr15/gr16."""
    li = T(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    arr = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_suppkey").alias("sk"),
            )
        ).alias("ls")
    )
    fwd = arr.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ls"),
                    lambda x: F.transform(
                        F.filter(
                            F.col("ls"),
                            lambda y: (y["ln"] == x["ln"] + 1)
                            & (y["sk"] != x["sk"]),
                        ),
                        lambda y: F.struct(
                            x["sk"].alias("src"), y["sk"].alias("dst")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def gr3_khop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """3-hop minimum-distance reach from flagged suppliers (s_suppkey %
    17 == 0) over the ADJACENT-line supplier chain graph (sparser than
    gr1/gr2's full co-order clique, so distances are non-trivial) —
    graph/bfs.py khop_reach, bounded min-label propagation."""
    from bioeco_portal_etl_spark.graph.bfs import khop_reach

    edges = _chain_supplier_edges(spark, sf)
    seeds = (
        T(spark, sf, "supplier")
        .filter(F.col("s_suppkey") % 17 == 0)
        .select(F.col("s_suppkey").alias("node"))
    )
    return khop_reach(edges, seeds, k=3).orderBy("dist", "node")


def _gr3_sql() -> str:
    from bioeco_portal_etl_spark.graph.bfs import duck_khop

    return f"""
WITH RECURSIVE {duck_khop(
        _CHAIN_EDGES_SQL,
        "SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 17 = 0",
        3,
    )}
SELECT node, dist FROM reach ORDER BY dist, node
"""


# ---------------------------------------------------------------------------
# gr4 — degree distribution
# ---------------------------------------------------------------------------

def gr4_degree_hist(spark: SparkSession, sf: str) -> DataFrame:
    """log2-bucketed degree histogram of the customer→order bipartite
    graph (graph/degrees.py) — the heavy-tail fingerprint that decides
    skew strategy; integer-exact buckets via binary-string length,
    vertex-scaled after the first distinct. (The co-order supplier graph
    is degree-uniform in this corpus — one bucket — so the bipartite
    graph is the demo with an actual tail.)"""
    from bioeco_portal_etl_spark.graph.degrees import degree_histogram

    o = T(spark, sf, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst")
    )
    return degree_histogram(edges).orderBy("bucket")


GR4_SQL = """
WITH deg AS (
  SELECT src, count(*)::BIGINT AS degree
  FROM (SELECT DISTINCT o_custkey AS src, o_orderkey AS dst FROM orders)
  GROUP BY src
)
SELECT (length(bin(degree)) - 1)::BIGINT AS bucket,
       count(*)::BIGINT AS n_nodes,
       min(degree) AS min_degree, max(degree) AS max_degree
FROM deg GROUP BY 1 ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# gr5 — co-purchase neighborhood similarity
# ---------------------------------------------------------------------------


def gr5_node_similarity(spark: SparkSession, sf: str) -> DataFrame:
    """Customer co-purchase similarity (graph/similarity.py node_jaccard):
    neighbor-bounded self-join with a hub-degree guard; top-100 pairs."""
    from bioeco_portal_etl_spark.graph.similarity import node_jaccard

    o = T(spark, sf, "orders")
    li = T(spark, sf, "lineitem")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
        )
    )
    return (
        # pair_partitions=512 pins the pair-expansion width in-plan so the
        # Σ deg² stream never spills at one-task-per-32nd of the data (the
        # round-4 10x probe's 13.9x outlier); AQE coalesces the surplus at
        # small SF
        node_jaccard(edges, min_common=2, max_item_degree=64, pair_partitions=512)
        .orderBy(F.desc("jaccard_e4"), "src_a", "src_b")
        .limit(100)
    )


GR5_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
idf AS (SELECT dst, count(*)::BIGINT AS idf FROM e GROUP BY dst),
pruned AS (SELECT e.src, e.dst FROM e JOIN idf ON idf.dst = e.dst
           WHERE idf.idf <= 64),
pairs AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS n_common
  FROM pruned a JOIN pruned b ON a.dst = b.dst AND a.src < b.src
  GROUP BY a.src, b.src HAVING count(*) >= 2
)
SELECT p.src_a, p.src_b, p.n_common, da.deg AS deg_a, db.deg AS deg_b,
       ((10000 * p.n_common) // (da.deg + db.deg - p.n_common))::BIGINT
         AS jaccard_e4
FROM pairs p
JOIN deg da ON da.src = p.src_a
JOIN deg db ON db.src = p.src_b
ORDER BY jaccard_e4 DESC, p.src_a, p.src_b
LIMIT 100
"""


# ---------------------------------------------------------------------------
# gr6 — transitive duplicate clusters via connected components
# ---------------------------------------------------------------------------


def _star_edges(grouped: DataFrame) -> DataFrame:
    """(h, doc_id) -> star edges (min-id -> other) per hash group: the
    standard linear-size encoding of 'all docs in this block are related'
    (|group|-1 edges, never the quadratic all-pairs expansion)."""
    w = Window.partitionBy("h")
    return (
        grouped.withColumn("m", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("m"))
        .select(F.col("m").alias("src"), F.col("doc_id").alias("dst"))
    )


def gr6_dup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive dup clusters: star edges from TWO independent blocking
    keys (md5 of the 100-char content prefix; md5 of lang:length) are
    unioned and closed under connectivity (graph/cc.py) — doc A ~ B by
    prefix and B ~ C by block must land A,B,C in ONE cluster, which no
    single groupBy can produce. Output: every doc participating in any
    dup relation, its component (= min doc_id reachable) and the
    component size."""
    from bioeco_portal_etl_spark.graph.cc import connected_components

    d = T(spark, sf, "documents").select(
        "doc_id", "lang", F.coalesce("text", F.lit("")).alias("t")
    )
    prefix = d.select(F.md5(F.substring("t", 1, 100)).alias("h"), "doc_id")
    block = d.select(
        F.md5(
            F.concat(F.col("lang"), F.lit(":"), F.length("t").cast("string"))
        ).alias("h"),
        "doc_id",
    )
    edges = _star_edges(prefix).unionByName(_star_edges(block))
    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return (
        cc.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "component_size")
        .orderBy("doc_id")
    )


def _gr6_sql() -> str:
    from bioeco_portal_etl_spark.graph.cc import duck_connected_components

    return f"""WITH RECURSIVE
d AS (SELECT doc_id, lang, coalesce(text, '') AS t FROM documents),
ph AS (SELECT md5(substr(t, 1, 100)) AS h, doc_id FROM d),
lh AS (SELECT md5(lang || ':' || length(t)::VARCHAR) AS h, doc_id FROM d),
s1 AS (SELECT min(doc_id) OVER (PARTITION BY h) AS m, doc_id FROM ph),
e1 AS (SELECT m AS src, doc_id AS dst FROM s1 WHERE doc_id <> m),
s2 AS (SELECT min(doc_id) OVER (PARTITION BY h) AS m, doc_id FROM lh),
e2 AS (SELECT m AS src, doc_id AS dst FROM s2 WHERE doc_id <> m),
eall AS (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2),
{duck_connected_components("SELECT src, dst FROM eall")},
sizes AS (
  SELECT component, count(*)::BIGINT AS component_size FROM cc GROUP BY component
)
SELECT cc.node AS doc_id, cc.component, sizes.component_size
FROM cc JOIN sizes USING (component)
ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# gr7 / gr8 — same-day customer co-activity graph
# ---------------------------------------------------------------------------

_COACT_EDGES_SQL = """SELECT a.o_custkey AS src, b.o_custkey AS dst
  FROM orders a JOIN orders b
    ON a.o_orderdate = b.o_orderdate AND a.o_custkey <> b.o_custkey"""


def _coactivity_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Customers active on the same order date — a bounded-fan-out
    projection graph (daily cohort sizes are small constants), the same
    shape as gr1's co-order supplier graph but over a sparser
    key, so communities/cores are non-trivial."""
    o = T(spark, sf, "orders").select("o_custkey", "o_orderdate")
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(b, "o_orderdate")
        .filter(F.col("a.o_custkey") != F.col("b.o_custkey"))
        .select(
            F.col("a.o_custkey").alias("src"),
            F.col("b.o_custkey").alias("dst"),
        )
    )


def gr7_label_communities(spark: SparkSession, sf: str) -> DataFrame:
    """2 synchronous label-propagation rounds (graph/labelprop.py) over
    the co-activity graph; 20 largest communities. Deterministic variant:
    frequency ties break on the smallest label."""
    from bioeco_portal_etl_spark.graph.labelprop import (
        community_sizes,
        label_propagation,
    )

    # The co-activity join already emits BOTH orderings of every pair
    # (the <> condition), so distinct(e) == distinct(e UNION swap(e)) —
    # pre_symmetrized skips the 2x union the generic path would pay, and
    # the repartition("src") + dropDuplicates layout (one exchange,
    # subset-of-keys rule) leaves every LPA round exchange-free
    # (round-12, guide §2.4; same shared-frame shape as gr20).
    sym = (
        _coactivity_edges(spark, sf)
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    return community_sizes(
        label_propagation(
            sym, rounds=2, pre_symmetrized=True, persist_edges=False
        ),
        top_k=20,
    )


def _gr7_sql() -> str:
    from bioeco_portal_etl_spark.graph.labelprop import duck_label_propagation

    return f"""
WITH {duck_label_propagation(_COACT_EDGES_SQL, rounds=2)}
SELECT label AS community, count(*)::BIGINT AS size
FROM l2 GROUP BY label
ORDER BY size DESC, community LIMIT 20"""


# k=4 is the largest k whose core is non-empty at EVERY gate SF: the
# sf0.001 co-activity graph tops out at 5-customer date cohorts (max
# clique 5 -> max possible core 4), so the original k=8 hash-matched
# empty-vs-empty there — the round-8 sweep's vacuous-gate finding. At
# sf0.01/sf0.1 (max cohorts 16/90) k=4 still peels a real fringe.
_KCORE_K = 4


def gr8_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """The {k}-core of the co-activity graph (graph/kcore.py): nodes
    surviving iterated delete-degree<{k} peeling, with their in-core
    degrees. Fixpoint is unique (order-independent), so no tie-break
    pinning is needed; the oracle unrolls 12 peels and pytest asserts the
    Spark loop converges within that budget on the gate data."""
    from bioeco_portal_etl_spark.graph.kcore import kcore

    # co-activity emits both orderings by construction — skip the
    # symmetrizing union inside kcore (round-12; dedupe still runs)
    return kcore(
        _coactivity_edges(spark, sf), k=_KCORE_K, pre_symmetrized=True
    ).orderBy("node")


gr8_kcore.__doc__ = gr8_kcore.__doc__.format(k=_KCORE_K)


def _gr8_sql() -> str:
    from bioeco_portal_etl_spark.graph.kcore import duck_kcore

    return f"""
WITH {duck_kcore(_COACT_EDGES_SQL, k=_KCORE_K, rounds=12)}
SELECT node, deg FROM core ORDER BY node"""


# ---------------------------------------------------------------------------
# gr9 — HITS on the customer→supplier purchase graph
# ---------------------------------------------------------------------------

_GR9_EDGES_SQL = """SELECT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey"""


def gr9_hits(spark: SparkSession, sf: str) -> DataFrame:
    """2-iteration HITS (graph/hits.py): hubs = customers weighted by the
    authority of the suppliers they buy from, authorities = suppliers
    weighted by their buyers' hub scores; e6 fixed point, max-normalized
    per half-step."""
    from bioeco_portal_etl_spark.graph.hits import hits

    o = T(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return hits(edges, iterations=2).orderBy("side", "node")


def _gr9_sql() -> str:
    from bioeco_portal_etl_spark.graph.hits import duck_hits

    return f"""
WITH {duck_hits(_GR9_EDGES_SQL, iterations=2)}
SELECT node, side, score_e6 FROM hitsr ORDER BY side, node"""


# ---------------------------------------------------------------------------
# gr10 — deterministic random-walk corpus
# ---------------------------------------------------------------------------

_GR10_EDGES_SQL = """SELECT a.o_custkey AS src, b.o_custkey AS dst
  FROM orders a JOIN orders b
    ON a.o_orderdate = b.o_orderdate AND a.o_custkey <> b.o_custkey"""
_GR10_LEN = 3


def gr10_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    """One {l}-hop hash-driven walk from every 10th customer of the
    same-day co-activity graph (graph/walks.py): the walk corpus a graph
    embedding trains on, bit-reproducible because hop choices are md5
    functions of (walk, step, node) over sorted adjacency."""
    o = T(spark, sf, "orders").select("o_custkey", "o_orderdate")
    a, b = o.alias("a"), o.alias("b")
    edges = (
        a.join(b, "o_orderdate")
        .filter(F.col("a.o_custkey") != F.col("b.o_custkey"))
        .select(
            F.col("a.o_custkey").alias("src"),
            F.col("b.o_custkey").alias("dst"),
        )
    )
    from bioeco_portal_etl_spark.graph.walks import random_walks

    # Round-12 (guide §2.4): the co-activity join already emits both
    # orderings, so dedupe it ONCE — repartition("src") + dropDuplicates
    # is one exchange whose hash(src) layout the adjacency collect_set,
    # the seed distinct, AND every per-hop groupBy alignment then reuse
    # exchange-free — and persist it so adjacency and seeds don't each
    # replay the orders⋈orders join.
    sym = (
        edges.repartition("src").dropDuplicates(["src", "dst"]).persist()
    )
    seeds = (
        sym.select(F.col("src").alias("walk_id"))
        .distinct()
        .filter(F.col("walk_id") % 10 == 0)
    )
    return random_walks(
        sym, seeds, length=_GR10_LEN, pre_symmetrized=True
    ).orderBy("walk_id", "pos")


gr10_random_walks.__doc__ = gr10_random_walks.__doc__.format(l=_GR10_LEN)


def _gr10_sql() -> str:
    from bioeco_portal_etl_spark.graph.walks import duck_random_walks

    seeds = (
        "SELECT DISTINCT src AS walk_id FROM sym WHERE src % 10 = 0"
    )
    return f"""
WITH {duck_random_walks(_GR10_EDGES_SQL, seeds, length=_GR10_LEN)}
SELECT walk_id, pos, node FROM walks ORDER BY walk_id, pos"""


# ---------------------------------------------------------------------------
# gr11 — HyperBall neighborhood function
# ---------------------------------------------------------------------------


def gr11_hyperball(spark: SparkSession, sf: str) -> DataFrame:
    """Ball sizes |B(v, r)|, r = 0..2, for every supplier over the
    adjacent-line supplier chain graph (gr3's sparse edge set, so balls
    actually grow with r) — HLL-register propagation, linear-counting
    small-range estimator (graph/hyperball.py)."""
    from bioeco_portal_etl_spark.graph.hyperball import hyperball_neighborhood

    edges = _chain_supplier_edges(spark, sf)
    nodes = T(spark, sf, "supplier").select(F.col("s_suppkey").alias("node"))
    return hyperball_neighborhood(edges, nodes, radius=2).orderBy("r", "node")


def _gr11_sql() -> str:
    from bioeco_portal_etl_spark.graph.hyperball import duck_hyperball

    return f"""
WITH {duck_hyperball(
        _CHAIN_EDGES_SQL,
        "SELECT s_suppkey AS node FROM supplier",
        2,
    )}
SELECT node, r, ball_est FROM hb ORDER BY r, node"""


# ---------------------------------------------------------------------------
# gr12 — bounded-round weighted shortest paths
# ---------------------------------------------------------------------------


def gr12_sssp(spark: SparkSession, sf: str) -> DataFrame:
    """Cheapest <= 3-edge route cost from the gr3 seed suppliers
    (s_suppkey % 17 = 0) over the supplier chain graph, edge weight
    (src + dst) % 9 + 1 — multi-source Bellman-Ford, one equi-join +
    one MIN aggregate per round (graph/sssp.py)."""
    from bioeco_portal_etl_spark.graph.sssp import sssp_bounded

    edges = _chain_supplier_edges(spark, sf).withColumn(
        "w", (F.col("src") + F.col("dst")) % 9 + 1
    )
    seeds = (
        T(spark, sf, "supplier")
        .filter(F.col("s_suppkey") % 17 == 0)
        .select(F.col("s_suppkey").alias("node"))
    )
    return (
        sssp_bounded(edges, seeds, rounds=3)
        .select("node", F.col("dist").cast("long").alias("dist"))
        .orderBy("node")
    )


def _gr12_sql() -> str:
    from bioeco_portal_etl_spark.graph.sssp import duck_sssp

    body = duck_sssp(
        f"SELECT src, dst, (src + dst) % 9 + 1 AS w"
        f" FROM ({_CHAIN_EDGES_SQL})",
        "SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 17 = 0",
        rounds=3,
    )
    return f"""
WITH {body}
SELECT node, CAST(dist AS BIGINT) AS dist FROM sssp ORDER BY node"""


# ---------------------------------------------------------------------------
# gr13 — personalized PageRank
# ---------------------------------------------------------------------------


def gr13_personalized_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PPR from the gr3 seed suppliers (s_suppkey % 17 = 0) over the
    supplier chain graph, 3 supersteps — nodes ranked by proximity to
    the seeds; zero-mass nodes are filtered (they are 'unreachable in 3
    damped steps', not rank-0 peers)."""
    from bioeco_portal_etl_spark.graph.pagerank import personalized_pagerank

    edges = _chain_supplier_edges(spark, sf)
    seeds = (
        T(spark, sf, "supplier")
        .filter(F.col("s_suppkey") % 17 == 0)
        .select(F.col("s_suppkey").alias("node"))
    )
    return (
        personalized_pagerank(edges, seeds, iterations=3)
        .filter(F.col("ppr_e9") > 0)
        .select("node", F.col("ppr_e9").cast("long").alias("ppr_e9"))
        .orderBy("node")
    )


def _gr13_sql() -> str:
    from bioeco_portal_etl_spark.graph.pagerank import duck_ppr

    body = duck_ppr(
        _CHAIN_EDGES_SQL,
        "SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 17 = 0",
        iterations=3,
    )
    return f"""
WITH {body}
SELECT node, CAST(ppr_e9 AS BIGINT) AS ppr_e9 FROM ppr3
WHERE ppr_e9 > 0 ORDER BY node"""


# ---------------------------------------------------------------------------
# gr14 — harmonic centrality from HyperBall
# ---------------------------------------------------------------------------


def gr14_harmonic_centrality(spark: SparkSession, sf: str) -> DataFrame:
    """Radius-2 harmonic centrality of every supplier over the chain
    graph: HyperBall ball sizes -> per-term floored deltas/r. Nodes
    with empty radius-2 neighborhoods report 0."""
    from bioeco_portal_etl_spark.graph.hyperball import (
        harmonic_centrality,
        hyperball_neighborhood,
    )

    edges = _chain_supplier_edges(spark, sf)
    nodes = T(spark, sf, "supplier").select(F.col("s_suppkey").alias("node"))
    hb = hyperball_neighborhood(edges, nodes, radius=2)
    return harmonic_centrality(hb, radius=2).orderBy("node")


def _gr14_sql() -> str:
    from bioeco_portal_etl_spark.graph.hyperball import duck_hyperball

    return f"""
WITH {duck_hyperball(
        _CHAIN_EDGES_SQL,
        "SELECT s_suppkey AS node FROM supplier",
        2,
    )},
piv AS (
  SELECT node,
         max(CASE WHEN r = 0 THEN ball_est END) AS b0,
         max(CASE WHEN r = 1 THEN ball_est END) AS b1,
         max(CASE WHEN r = 2 THEN ball_est END) AS b2
  FROM hb GROUP BY node
)
SELECT node,
       CAST(((b1 - b0) * 1000000) // 1 + ((b2 - b1) * 1000000) // 2
            AS BIGINT) AS harmonic_e6
FROM piv ORDER BY node"""


# ---------------------------------------------------------------------------
# gr15 — effective diameter
# ---------------------------------------------------------------------------


def gr15_effective_diameter(spark: SparkSession, sf: str) -> DataFrame:
    """90% effective diameter of the supplier chain graph at probe
    radius 2, with the coverage curve (graph/hyperball.py
    effective_diameter over the gr11 sketches)."""
    from bioeco_portal_etl_spark.graph.hyperball import (
        effective_diameter,
        hyperball_neighborhood,
    )

    edges = _chain_supplier_edges(spark, sf)
    nodes = T(spark, sf, "supplier").select(F.col("s_suppkey").alias("node"))
    hb = hyperball_neighborhood(edges, nodes, radius=2)
    return effective_diameter(hb, radius=2).orderBy("eff_diameter")


def _gr15_sql() -> str:
    from bioeco_portal_etl_spark.graph.hyperball import duck_hyperball

    return f"""
WITH {duck_hyperball(
        _CHAIN_EDGES_SQL,
        "SELECT s_suppkey AS node FROM supplier",
        2,
    )},
nr AS (SELECT r, sum(ball_est) AS n_pairs FROM hb GROUP BY r),
wide AS (
  SELECT max(CASE WHEN r = 0 THEN n_pairs END) AS n0,
         max(CASE WHEN r = 1 THEN n_pairs END) AS n1,
         max(CASE WHEN r = 2 THEN n_pairs END) AS n2
  FROM nr
)
SELECT CAST(CASE WHEN 10 * n0 - 9 * n2 >= 0 THEN 0
            WHEN 10 * n1 - 9 * n2 >= 0 THEN 1
            ELSE 2 END AS BIGINT) AS eff_diameter,
       CAST((1000000 * n0) // n2 AS BIGINT) AS coverage_e6_r0,
       CAST((1000000 * n1) // n2 AS BIGINT) AS coverage_e6_r1,
       CAST((1000000 * n2) // n2 AS BIGINT) AS coverage_e6_r2
FROM wide ORDER BY eff_diameter"""


# ---------------------------------------------------------------------------
# gr16 — degree assortativity
# ---------------------------------------------------------------------------


def gr16_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the (symmetric) supplier chain graph —
    one row (graph/degrees.py degree_assortativity)."""
    from bioeco_portal_etl_spark.graph.degrees import degree_assortativity

    edges = _chain_supplier_edges(spark, sf)
    return degree_assortativity(edges).orderBy("m_edges")


def _gr16_sql() -> str:
    return f"""
WITH e AS ({_CHAIN_EDGES_SQL}),
deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
pairs AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM e JOIN deg dx ON dx.node = e.src JOIN deg dy ON dy.node = e.dst
),
agg AS (
  SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
  FROM pairs
)
SELECT CAST(m AS BIGINT) AS m_edges,
       CAST(sx AS BIGINT) AS sum_dx, CAST(sy AS BIGINT) AS sum_dy,
       CAST(floor((m * sxy - sx * sy)
            / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy))
            * 1000000) AS BIGINT) AS assortativity_e6
FROM agg ORDER BY m_edges"""


# ---------------------------------------------------------------------------
# gr17 — Adamic-Adar link prediction over the co-activity graph
# ---------------------------------------------------------------------------


def gr17_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    """Top-500 non-adjacent customer pairs sharing >= 2 co-activity
    neighbors, scored by Adamic-Adar (graph/linkpred.py): each shared
    neighbor w contributes floor(1e6 / ln(deg_w)) — floored per-term so
    the sum is an integer sum. Hub middles (deg > 200) are dropped
    (their weight is noise-level while dominating the wedge volume).
    The top-k cut is the serving surface (recommend the strongest
    candidate links) and keeps the result dimension-sized at any SF —
    the full pair table is quadratic-ish in cohort overlap (682k rows at
    sf0.01) and is an intermediate, not a deliverable. Deterministic
    total order: (aa_e6 DESC, u, v)."""
    from bioeco_portal_etl_spark.graph.linkpred import adamic_adar

    return (
        # co-activity emits both orderings by construction, so the
        # symmetrizing union inside adamic_adar is pure duplication —
        # skip it (round-12; the dedupe still runs, keyed by src)
        adamic_adar(
            _coactivity_edges(spark, sf),
            max_degree=200,
            min_common=2,
            pre_symmetrized=True,
        )
        .orderBy(F.desc("aa_e6"), "u", "v")
        .limit(500)
    )


def _gr17_sql() -> str:
    from bioeco_portal_etl_spark.graph.linkpred import duck_adamic_adar

    body = duck_adamic_adar(_COACT_EDGES_SQL, max_degree=200, min_common=2)
    return f"""
WITH {body}
SELECT u, v, n_common, aa_e6 FROM aa
ORDER BY aa_e6 DESC, u, v LIMIT 500"""


# ---------------------------------------------------------------------------
# gr18 — local clustering coefficient
# ---------------------------------------------------------------------------


def _coorder_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Suppliers co-appearing in the same order, 1%-order slice — the
    gr2 fixture (the unsliced synthetic co-order graph is near-complete;
    the slice makes triangle structure non-trivial, the operator's
    orientation bound is what carries to real power-law graphs)."""
    li = T(spark, sf, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    src = li.select("l_orderkey", "l_suppkey")
    a, b = src.alias("a"), src.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
    )


_COORDER_SQL = """SELECT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM (SELECT l_orderkey, l_suppkey FROM lineitem
        WHERE l_orderkey % 100 = 0) a
  JOIN (SELECT l_orderkey, l_suppkey FROM lineitem
        WHERE l_orderkey % 100 = 0) b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey"""


def gr18_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node local clustering coefficient (graph/triangles.py
    local_clustering) over the co-order supplier graph: lcc_e6 =
    (2e6·T(v)) div (deg·(deg-1)) for deg >= 2 nodes."""
    from bioeco_portal_etl_spark.graph.triangles import local_clustering

    return local_clustering(_coorder_edges(spark, sf)).orderBy("node")


def _gr18_sql() -> str:
    from bioeco_portal_etl_spark.graph.triangles import duck_local_clustering

    body = duck_local_clustering(_COORDER_SQL)
    return f"""
WITH {body}
SELECT node, deg, n_tri, lcc_e6 FROM lcc ORDER BY node"""


# ---------------------------------------------------------------------------
# gr19 — rich-club coefficient
# ---------------------------------------------------------------------------


def gr19_rich_club(spark: SparkSession, sf: str) -> DataFrame:
    """φ(k) for k in {2, 4, 8, 16} over the 1%-slice co-order supplier
    graph (the gr2/gr18 fixture) — graph/richclub.py."""
    from bioeco_portal_etl_spark.graph.richclub import rich_club

    return rich_club(_coorder_edges(spark, sf), ks=[2, 4, 8, 16]).orderBy("k")


def _gr19_sql() -> str:
    from bioeco_portal_etl_spark.graph.richclub import duck_rich_club

    body = duck_rich_club(_COORDER_SQL, ks=[2, 4, 8, 16])
    return f"""
WITH {body}
SELECT k, n_nodes, n_edges, phi_e6 FROM rc ORDER BY k"""


# ---------------------------------------------------------------------------
# gr20 — modularity of the LPA communities
# ---------------------------------------------------------------------------


def gr20_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-community modularity contribution for the 20 largest
    label-propagation communities over the co-activity graph (the gr7
    pipeline re-scored by graph/modularity.py)."""
    from bioeco_portal_etl_spark.graph.labelprop import label_propagation
    from bioeco_portal_etl_spark.graph.modularity import community_modularity

    # the co-activity self-join is symmetric by construction (the <>
    # join emits both orderings); materialize it ONCE and share the
    # frame between the detector and the scorer — without this the
    # orders⋈orders join replays per consumer (10.0s -> 8.2s at sf0.1).
    # Round-12 layout (guide §2.4): dedupe via repartition("src") +
    # dropDuplicates instead of .distinct() — ONE exchange, and hash(src)
    # co-locates every (src, dst) group (subset-of-keys rule), so the
    # persisted frame is ALREADY the partitioning every downstream
    # aggregate keys on: LPA's per-round (node=src, label) counts, the
    # scorer's degree count, and the initial-label distinct all run
    # exchange-free, with the label table broadcast into the joins.
    sym = (
        _coactivity_edges(spark, sf)
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    labels = label_propagation(
        sym, rounds=2, pre_symmetrized=True, persist_edges=False
    )
    return community_modularity(
        sym, labels, top_k=20, pre_symmetrized=True
    ).orderBy(
        F.desc("n_nodes"), "community"
    )


def _gr20_sql() -> str:
    from bioeco_portal_etl_spark.graph.labelprop import duck_label_propagation
    from bioeco_portal_etl_spark.graph.modularity import (
        duck_community_modularity,
    )

    lpa = duck_label_propagation(_COACT_EDGES_SQL, rounds=2)
    mod = duck_community_modularity(_COACT_EDGES_SQL, "l2", top_k=20)
    return f"""
WITH {lpa},
{mod}
SELECT community, n_nodes, internal_edges, degree_sum, q_contrib_e6
FROM modq ORDER BY n_nodes DESC, community"""


# ---------------------------------------------------------------------------
# gr21 — edge triangle-support histogram (local bridges)
# ---------------------------------------------------------------------------


def gr21_edge_support(spark: SparkSession, sf: str) -> DataFrame:
    """Support histogram over the 1%-slice co-order supplier graph (the
    gr2/gr18 fixture): the support-0 row counts local bridges."""
    from bioeco_portal_etl_spark.graph.triangles import edge_support

    return edge_support(_coorder_edges(spark, sf)).orderBy("support")


def _gr21_sql() -> str:
    from bioeco_portal_etl_spark.graph.triangles import duck_edge_support

    body = duck_edge_support(_COORDER_SQL)
    return f"""
WITH {body}
SELECT support, n_edges FROM esup ORDER BY support"""


# ---------------------------------------------------------------------------
# gr22 — degree assortativity
# ---------------------------------------------------------------------------


def gr22_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman degree-assortativity r of the same-day customer
    co-activity graph: Pearson correlation of (deg(u), deg(v)) over the
    DIRECTED edge list (both orientations present, so the symmetric
    formula needs no half-weights). Degrees come from one groupBy of the
    persisted edge list; moment sums are BIGINTs (each < 2^53, exact as
    doubles); the final combination is IEEE, spelled identically in the
    oracle."""
    orders = T(spark, sf, "orders")
    o = orders.select("o_custkey", "o_orderdate")
    a, b = o.alias("a"), o.alias("b")
    edges = (
        a.join(b, "o_orderdate")
        .filter(F.col("a.o_custkey") != F.col("b.o_custkey"))
        .select(
            F.col("a.o_custkey").alias("src"),
            F.col("b.o_custkey").alias("dst"),
        )
        .distinct()
    )
    return assortativity_frame(edges)


def assortativity_frame(edges: DataFrame) -> DataFrame:
    """Frame-level body of gr22 over a directed, deduplicated,
    symmetric (src, dst) edge list."""
    e = edges.persist()  # degrees + the annotated join both consume it
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dj = (
        e.join(
            F.broadcast(deg.select(F.col("src").alias("u"), F.col("deg").alias("j"))),
            e.src == F.col("u"),
        )
        .join(
            F.broadcast(deg.select(F.col("src").alias("v"), F.col("deg").alias("k"))),
            e.dst == F.col("v"),
        )
        .select("j", "k")
    )
    agg = dj.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum("j").alias("sj"),
        F.sum("k").alias("sk"),
        F.sum(F.col("j") * F.col("j")).alias("sj2"),
        F.sum(F.col("k") * F.col("k")).alias("sk2"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    md = F.col("m").cast("double")
    num = md * F.col("sjk").cast("double") - F.col("sj").cast(
        "double"
    ) * F.col("sk").cast("double")
    den = F.sqrt(
        md * F.col("sj2").cast("double")
        - F.col("sj").cast("double") * F.col("sj").cast("double")
    ) * F.sqrt(
        md * F.col("sk2").cast("double")
        - F.col("sk").cast("double") * F.col("sk").cast("double")
    )
    return agg.crossJoin(F.broadcast(nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("m").cast("long").alias("n_directed_edges"),
        F.when(den > 0, F.floor(num / den * 1000000.0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("assortativity_e6"),
    )


_GR22_SQL = """
WITH e AS (
  SELECT DISTINCT a.o_custkey AS src, b.o_custkey AS dst
  FROM orders a JOIN orders b ON a.o_orderdate = b.o_orderdate
  WHERE a.o_custkey <> b.o_custkey
),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
dj AS (
  SELECT du.deg AS j, dv.deg AS k
  FROM e
  JOIN deg du ON du.src = e.src
  JOIN deg dv ON dv.src = e.dst
),
agg AS (
  SELECT count(*)::BIGINT AS m,
         sum(j * k)::BIGINT AS sjk,
         sum(j)::BIGINT AS sj, sum(k)::BIGINT AS sk,
         sum(j * j)::BIGINT AS sj2, sum(k * k)::BIGINT AS sk2
  FROM dj
),
nodes AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
SELECT n.n_nodes, a.m AS n_directed_edges,
       CASE WHEN (sqrt(CAST(a.m AS DOUBLE) * CAST(a.sj2 AS DOUBLE)
                       - CAST(a.sj AS DOUBLE) * CAST(a.sj AS DOUBLE))
                  * sqrt(CAST(a.m AS DOUBLE) * CAST(a.sk2 AS DOUBLE)
                         - CAST(a.sk AS DOUBLE) * CAST(a.sk AS DOUBLE))) > 0
       THEN floor((CAST(a.m AS DOUBLE) * CAST(a.sjk AS DOUBLE)
                   - CAST(a.sj AS DOUBLE) * CAST(a.sk AS DOUBLE))
                  / (sqrt(CAST(a.m AS DOUBLE) * CAST(a.sj2 AS DOUBLE)
                          - CAST(a.sj AS DOUBLE) * CAST(a.sj AS DOUBLE))
                     * sqrt(CAST(a.m AS DOUBLE) * CAST(a.sk2 AS DOUBLE)
                            - CAST(a.sk AS DOUBLE) * CAST(a.sk AS DOUBLE)))
                  * 1000000.0)::BIGINT
       ELSE NULL END AS assortativity_e6
FROM agg a CROSS JOIN nodes n"""


# ---------------------------------------------------------------------------
# gr23 — degree inequality (Lorenz/Gini coefficient + top share)
# ---------------------------------------------------------------------------


def gr23_degree_inequality(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of the customer order-count distribution and the
    top-1% share — how centralized is the activity graph? (Decides skew
    strategy: G near 0 means uniform keys, G near 1 means salt the
    hubs.) Discrete Lorenz form G = 2·Σ(i·d_i)/(n·Σd) - (n+1)/n over
    ascending-sorted degrees, all-integer sums, ranks from one bounded
    window over the NODE table (vertex-scaled, not edge-scaled)."""
    deg = (
        T(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return degree_inequality_frame(deg)


def degree_inequality_frame(deg: DataFrame) -> DataFrame:
    """Frame-level body of gr23 over a (node, deg) table."""
    w_all = Window.partitionBy(F.lit(1))
    ranked = deg.select(
        "deg",
        F.row_number()
        .over(Window.orderBy(F.asc("deg"), F.asc("node")))
        .cast("long")
        .alias("i"),
        F.row_number()
        .over(Window.orderBy(F.desc("deg"), F.desc("node")))
        .cast("long")
        .alias("j"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("nn"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("deg").alias("sd"),
        F.sum(F.col("i") * F.col("deg")).alias("si"),
        F.sum(
            F.when(
                # floor(), never a bare cast: DuckDB CAST(1.5 AS BIGINT)
                # ROUNDS to 2 while Spark truncates to 1 (PORTABILITY.md) —
                # this fired at sf0.001 where n=150 makes n/100 = 1.5
                F.col("j")
                <= F.greatest(
                    F.lit(1).cast("long"),
                    F.floor(F.col("nn") / 100).cast("long"),
                ),
                F.col("deg"),
            ).otherwise(F.lit(0))
        ).alias("top_sum"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n_nodes"),
        F.col("sd").cast("long").alias("total_degree"),
        F.floor(
            (
                F.lit(2.0)
                * F.col("si").cast("double")
                / (nd * F.col("sd").cast("double"))
                - (nd + 1.0) / nd
            )
            * 1000000.0
        )
        .cast("long")
        .alias("gini_e6"),
        F.floor(
            F.col("top_sum").cast("double")
            * 1000000.0
            / F.col("sd").cast("double")
        )
        .cast("long")
        .alias("top1pct_share_e6"),
    )


_GR23_SQL = """
WITH deg AS (
  SELECT o_custkey AS node, count(*)::BIGINT AS deg
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT deg,
         row_number() OVER (ORDER BY deg ASC, node ASC)::BIGINT AS i,
         row_number() OVER (ORDER BY deg DESC, node DESC)::BIGINT AS j,
         count(*) OVER ()::BIGINT AS nn
  FROM deg
),
agg AS (
  SELECT count(*)::BIGINT AS n, sum(deg)::BIGINT AS sd,
         sum(i * deg)::BIGINT AS si,
         sum(CASE WHEN j <= greatest(1, floor(nn / 100)::BIGINT)
                  THEN deg ELSE 0 END)::BIGINT AS top_sum
  FROM ranked
)
SELECT n AS n_nodes, sd AS total_degree,
       floor((2.0 * CAST(si AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(sd AS DOUBLE))
              - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
             * 1000000.0)::BIGINT AS gini_e6,
       floor(CAST(top_sum AS DOUBLE) * 1000000.0
             / CAST(sd AS DOUBLE))::BIGINT AS top1pct_share_e6
FROM agg"""


CATALOG = {
    "gr1_pagerank": (gr1_pagerank, _gr1_sql()),
    "gr2_triangles": (gr2_triangles, _gr2_sql()),
    "gr3_khop_reach": (gr3_khop_reach, _gr3_sql()),
    "gr4_degree_hist": (gr4_degree_hist, GR4_SQL),
    "gr5_node_similarity": (gr5_node_similarity, GR5_SQL),
    "gr6_dup_components": (gr6_dup_components, _gr6_sql()),
    "gr7_label_communities": (gr7_label_communities, _gr7_sql()),
    "gr8_kcore": (gr8_kcore, _gr8_sql()),
    "gr9_hits": (gr9_hits, _gr9_sql()),
    "gr10_random_walks": (gr10_random_walks, _gr10_sql()),
    "gr11_hyperball": (gr11_hyperball, _gr11_sql()),
    "gr12_sssp": (gr12_sssp, _gr12_sql()),
    "gr13_personalized_pagerank": (gr13_personalized_pagerank, _gr13_sql()),
    "gr14_harmonic_centrality": (gr14_harmonic_centrality, _gr14_sql()),
    "gr15_effective_diameter": (gr15_effective_diameter, _gr15_sql()),
    "gr16_assortativity": (gr16_assortativity, _gr16_sql()),
    "gr17_adamic_adar": (gr17_adamic_adar, _gr17_sql()),
    "gr18_clustering_coeff": (gr18_clustering_coeff, _gr18_sql()),
    "gr19_rich_club": (gr19_rich_club, _gr19_sql()),
    "gr20_modularity": (gr20_modularity, _gr20_sql()),
    "gr21_edge_support": (gr21_edge_support, _gr21_sql()),
    "gr22_assortativity": (gr22_assortativity, _GR22_SQL),
    "gr23_degree_inequality": (gr23_degree_inequality, _GR23_SQL),
}

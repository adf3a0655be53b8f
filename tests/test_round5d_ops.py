"""Operator-level tests for the round-5 fourth batch: BM25 invariants,
RRF fusion vs a pure-Python reference, label propagation vs a reference
sync-LPA, k-core vs a reference peeler, salted join == plain join, and
profile-drift exactness on a hand-built fixture."""

from __future__ import annotations

import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# BM25 — retrieval invariants (cross-engine exactness is the oracle gate's
# job; here we pin the semantics the formula must honor)
# ---------------------------------------------------------------------------


def _bm25(spark, rows, terms, k=10):
    from bioeco_portal_etl_spark.text.bm25 import bm25_topk

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in bm25_topk(df, "doc_id", "text", terms, k=k).collect()
    }


def test_bm25_only_matching_docs_and_tf_monotonic(spark):
    got = _bm25(
        spark,
        [
            (1, "spark spark spark pad pad pad pad"),
            (2, "spark pad pad pad pad pad pad"),
            (3, "pad pad pad pad pad pad pad"),
        ],
        ["spark"],
    )
    assert set(got) == {1, 2}  # doc 3 has no query term -> not retrieved
    # same length, higher tf -> strictly higher score, better rank
    assert got[1]["bm25_e4"] > got[2]["bm25_e4"]
    assert got[1]["rank"] == 1 and got[2]["rank"] == 2


def test_bm25_length_normalization_prefers_shorter_doc(spark):
    # same tf, longer doc -> lower score (the b-term; tf-idf would tie)
    got = _bm25(
        spark,
        [
            (1, "spark pad pad"),
            (2, "spark pad pad pad pad pad pad pad pad pad pad pad"),
            (3, "x"),  # corpus filler so avgdl sits between the two
        ],
        ["spark"],
    )
    assert got[1]["bm25_e4"] > got[2]["bm25_e4"]


def test_bm25_rare_term_outweighs_common_term(spark):
    # df(rare)=1 vs df(common)=4 -> rare-term doc wins at equal tf/dl
    rows = [
        (1, "rare pad pad pad"),
        (2, "common pad pad pad"),
        (3, "common x y z"),
        (4, "common a b c"),
        (5, "common d e f"),
    ]
    got = _bm25(spark, rows, ["rare", "common"])
    assert got[1]["bm25_e4"] > got[2]["bm25_e4"]


# ---------------------------------------------------------------------------
# RRF fusion vs pure-Python reference
# ---------------------------------------------------------------------------


def test_rrf_matches_python_reference(spark):
    from bioeco_portal_etl_spark.similarity.fusion import RRF_E, rrf_fuse

    a = [(10, 1), (11, 2), (12, 3), (13, 4)]
    b = [(12, 1), (10, 2), (99, 3)]
    ra = spark.createDataFrame(a, "doc_id long, rank long")
    rb = spark.createDataFrame(b, "vec_id long, rank long")
    got = {
        r["id"]: (r["rrf_e6"], r["rank"])
        for r in rrf_fuse(ra, rb, "doc_id", "vec_id", k=10).collect()
    }
    da, db = dict(a), dict(b)
    want = {
        i: (RRF_E // (60 + da[i]) if i in da else 0)
        + (RRF_E // (60 + db[i]) if i in db else 0)
        for i in set(da) | set(db)
    }
    order = sorted(want, key=lambda i: (-want[i], i))
    for rank, i in enumerate(order, 1):
        assert got[i] == (want[i], rank)


def test_rrf_absent_list_contributes_zero(spark):
    from bioeco_portal_etl_spark.similarity.fusion import RRF_E, rrf_fuse

    ra = spark.createDataFrame([(1, 1)], "id long, rank long")
    rb = spark.createDataFrame([(2, 1)], "id long, rank long")
    rows = {r["id"]: r for r in rrf_fuse(ra, rb, "id", "id", k=5).collect()}
    assert rows[1]["rrf_e6"] == rows[2]["rrf_e6"] == RRF_E // 61
    assert rows[1]["rank_b"] is None and rows[2]["rank_a"] is None
    # equal scores -> id tie-break
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2


# ---------------------------------------------------------------------------
# Label propagation vs pure-Python synchronous reference
# ---------------------------------------------------------------------------


def _lpa_ref(edges, rounds):
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n in adj:
            c = Counter(labels[m] for m in adj[n])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        labels = new
    return labels


def test_labelprop_matches_reference_two_communities(spark):
    from bioeco_portal_etl_spark.graph.labelprop import label_propagation
    from bioeco_portal_etl_spark.graph.undirected import undirected

    # two triangles joined by one bridge edge
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (1, 2, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(undirected(e), rounds=rounds).collect()
        }
        assert got == _lpa_ref(edges, rounds), rounds


def test_labelprop_star_collapses_to_hub_minlabel(spark):
    from bioeco_portal_etl_spark.graph.labelprop import label_propagation
    from bioeco_portal_etl_spark.graph.undirected import undirected

    edges = [(0, i) for i in range(1, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(undirected(e), rounds=1).collect()
    }
    # leaves see only the hub(0); hub sees labels 1..5 all once -> min = 1
    assert got == {0: 1, **{i: 0 for i in range(1, 6)}}


# ---------------------------------------------------------------------------
# k-core vs pure-Python peeler
# ---------------------------------------------------------------------------


def _kcore_ref(edges, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    changed = True
    while changed:
        drop = [n for n, ns in adj.items() if len(ns) < k]
        changed = bool(drop)
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(ns) for n, ns in adj.items() if ns}


def test_kcore_matches_reference_peeler(spark):
    from bioeco_portal_etl_spark.graph.kcore import kcore
    from bioeco_portal_etl_spark.graph.undirected import undirected

    # K4 plus a pendant path hanging off it: 3-core = the K4 exactly
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6), (6, 7),
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"] for r in kcore(undirected(e), k=3).collect()}
    assert got == _kcore_ref(edges, 3) == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_cascade_peels_chain(spark):
    from bioeco_portal_etl_spark.graph.kcore import kcore
    from bioeco_portal_etl_spark.graph.undirected import undirected

    # a pure path: 2-core is empty — peeling must cascade end-to-end
    edges = [(i, i + 1) for i in range(8)]
    e = spark.createDataFrame(edges, "src long, dst long")
    assert kcore(undirected(e), k=2).count() == 0
    # and a cycle is its own 2-core
    cyc = spark.createDataFrame(
        edges + [(8, 0)], "src long, dst long"
    )
    got = {r["node"]: r["deg"] for r in kcore(undirected(cyc), k=2).collect()}
    assert got == {i: 2 for i in range(9)}


# ---------------------------------------------------------------------------
# salted join == plain join (inner and left)
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    from bioeco_portal_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 100), (3, 200), (9, 900)],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "unused")], "k long, name string"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r["k"], r["v"], r["name"])
            for r in salted_join(big, dim, "k", buckets=4, how=how).collect()
        )
        want = sorted(
            (r["k"], r["v"], r["name"])
            for r in big.join(dim, "k", how).collect()
        )
        assert got == want, how


def test_salted_join_rejects_unsupported_how(spark):
    import pytest

    from bioeco_portal_etl_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, 1)], "k long, v long")
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="full")


# ---------------------------------------------------------------------------
# profile drift — exact metrics on a hand-built fixture
# ---------------------------------------------------------------------------


def test_profile_drift_exact_fixture(spark):
    from bioeco_portal_etl_spark.operators.drift import profile_drift

    ref = spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (None, "b"), (4.0, None)],
        "x double, c string",
    )
    cur = spark.createDataFrame(
        [(2.5, "a"), (None, "a"), (None, "c")], "x double, c string"
    )
    rows = {
        (r["column"], r["metric"]): (r["ref_val"], r["cur_val"], r["delta"])
        for r in profile_drift(
            ref, cur, [("x", "numeric"), ("c", "categorical")]
        ).collect()
    }
    assert rows[("x", "n_null")] == (1, 2, 1)
    assert rows[("x", "n_distinct")] == (3, 1, -2)
    assert rows[("x", "min_e4")] == (10000, 25000, 15000)
    assert rows[("x", "max_e4")] == (40000, 25000, -15000)
    # means: (1+2+4)/3 = 2.333... -> 23333 ; 2.5 -> 25000
    assert rows[("x", "mean_e4")] == (23333, 25000, 1667)
    assert rows[("c", "n_null")] == (1, 0, -1)
    assert rows[("c", "n_distinct")] == (2, 2, 0)
    assert len(rows) == 7


# ---------------------------------------------------------------------------
# Hypothesis properties: salted join ≡ plain join; k-core ≡ reference
# peeler on random graphs
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_HSET = settings(max_examples=8, deadline=None)


@_HSET
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=30,
    ),
    st.lists(st.integers(0, 5), min_size=1, max_size=6, unique=True),
)
def test_salted_join_identity_property(spark, big_rows, dim_keys):
    from bioeco_portal_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(big_rows, "k long, v long")
    dim = spark.createDataFrame([(k, k * 10) for k in dim_keys], "k long, d long")
    got = sorted(
        (r["k"], r["v"], r["d"])
        for r in salted_join(big, dim, "k", buckets=3, how="left").collect()
    )
    want = sorted(
        (r["k"], r["v"], r["d"]) for r in big.join(dim, "k", "left").collect()
    )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    st.integers(2, 4),
)
def test_kcore_matches_reference_on_random_graphs(spark, edges, k):
    from bioeco_portal_etl_spark.graph.kcore import kcore
    from bioeco_portal_etl_spark.graph.undirected import undirected

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"] for r in kcore(undirected(e), k=k, max_rounds=25).collect()}
    assert got == _kcore_ref(edges, k)

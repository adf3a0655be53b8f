"""Operator-level tests for the round-7 second batch:
semantics on small/constructed inputs, independent of the DuckDB oracle."""

from __future__ import annotations

import math

import pytest

from bioeco_portal_etl_spark.catalog import queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return queries()


# ---------------------------------------------------------------------------
# x50 — KS
# ---------------------------------------------------------------------------


def test_x50_identical_distributions_give_zero(spark):
    from bioeco_portal_etl_spark.catalog_analytics import ks_test_frame

    rows = [(i, f"199{5 + (i % 2)}-03-0{1 + i % 9}", float(100 + i % 7)) for i in range(140)]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate string, o_totalprice double"
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_totalprice"
    )
    # values cycle identically within each year-half by construction when
    # i%2 and i%7 are independent over a multiple of 14 rows
    r = ks_test_frame(orders).collect()[0]
    assert r.n_a == 70 and r.n_b == 70
    assert r.ks_e6 == 0


def test_x50_disjoint_distributions_give_one(spark):
    from bioeco_portal_etl_spark.catalog_analytics import ks_test_frame

    rows = [(i, "1995-01-02", 10.0) for i in range(5)] + [
        (100 + i, "1996-01-02", 99.0) for i in range(7)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate string, o_totalprice double"
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_totalprice"
    )
    r = ks_test_frame(orders).collect()[0]
    assert (r.n_a, r.n_b) == (5, 7)
    assert r.ks_e6 == 1_000_000  # completely separated ECDFs


def test_x50_matches_scipy_style_reference(spark, q):
    """KS on the real sf0.001 data == a plain-Python two-sample KS."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/orders.parquet").to_pydict()
    a, b = [], []
    for d, p in zip(t["o_orderdate"], t["o_totalprice"]):
        y = d.year
        if y == 1995:
            a.append(math.floor(float(p) * 100.0))
        elif y == 1996:
            b.append(math.floor(float(p) * 100.0))
    values = sorted(set(a) | set(b))
    ca = cb = 0
    best = 0
    fa = {}
    for v in values:
        fa[v] = True
    import collections

    cnta = collections.Counter(a)
    cntb = collections.Counter(b)
    for v in values:
        ca += cnta.get(v, 0)
        cb += cntb.get(v, 0)
        best = max(best, abs(ca * len(b) - cb * len(a)))
    exp = math.floor(best * 1e6 / (len(a) * len(b)))
    r = q["x50_ks_test"](spark, SF).collect()[0]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert r.ks_e6 == exp


# ---------------------------------------------------------------------------
# tx42 — JS divergence
# ---------------------------------------------------------------------------


def test_tx42_identical_corpora_zero_disjoint_one(spark):
    from bioeco_portal_etl_spark.catalog_text import js_divergence_frame

    docs = spark.createDataFrame(
        [
            ("aa", "apple banana cherry apple"),
            ("bb", "apple banana cherry apple"),
            ("cc", "dog elephant fox dog"),
        ],
        "grp string, text string",
    )
    rows = {(r.grp_a, r.grp_b): r for r in js_divergence_frame(docs).collect()}
    # identical distributions -> JS 0 exactly (every contribution log2(1))
    assert rows[("aa", "bb")].js_e6 == 0
    # disjoint supports -> JS = 1 bit exactly (every term contributes p)
    for key in (("aa", "cc"), ("bb", "cc")):
        assert abs(rows[key].js_e6 - 1_000_000) <= 1  # e12 floor slack


def test_tx42_catalog_pairs_bounded(spark, q):
    rows = q["tx42_js_divergence"](spark, SF).collect()
    grps = sorted({r.grp_a for r in rows} | {r.grp_b for r in rows})
    assert len(rows) == len(grps) * (len(grps) - 1) // 2  # every pair once
    for r in rows:
        assert 0 <= r.js_e6 <= 1_000_000
        assert r.n_terms > 0


# ---------------------------------------------------------------------------
# gr22 — assortativity
# ---------------------------------------------------------------------------


def _sym_edges(spark, pairs):
    rows = []
    for u, v in pairs:
        rows.append((u, v))
        rows.append((v, u))
    return spark.createDataFrame(rows, "src long, dst long")


def test_gr22_star_graph_is_disassortative(spark):
    """A star is the canonical disassortative graph: hubs connect only
    to leaves. r = -1 exactly for a pure star."""
    from bioeco_portal_etl_spark.graph.degrees import degree_assortativity

    star = _sym_edges(spark, [(0, i) for i in range(1, 8)])
    r = degree_assortativity(star).collect()[0]
    assert r.n_nodes == 8
    assert r.m_edges == 14
    assert r.assortativity_e6 == -1_000_000


def test_gr22_regular_graph_degenerate_null(spark):
    """In a k-regular graph every degree is equal — zero variance, the
    coefficient is undefined and must surface NULL, not a crash or 0."""
    from bioeco_portal_etl_spark.graph.degrees import degree_assortativity

    cycle = _sym_edges(spark, [(i, (i + 1) % 6) for i in range(6)])
    r = degree_assortativity(cycle).collect()[0]
    assert r.assortativity_e6 is None


def test_gr22_matches_hand_pearson(spark):
    """Two triangles joined by a bridge — compute Newman r by hand from
    the directed edge list and compare."""
    from bioeco_portal_etl_spark.graph.degrees import degree_assortativity

    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    deg = {}
    for u, v in pairs:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    directed = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    js = [deg[u] for u, v in directed]
    ks = [deg[v] for u, v in directed]
    m = len(directed)
    sjk = sum(a * b for a, b in zip(js, ks))
    sj, sk = sum(js), sum(ks)
    sj2 = sum(a * a for a in js)
    sk2 = sum(b * b for b in ks)
    num = m * sjk - sj * sk
    den = math.sqrt(m * sj2 - sj * sj) * math.sqrt(m * sk2 - sk * sk)
    exp = math.floor(num / den * 1e6)
    r = degree_assortativity(_sym_edges(spark, pairs)).collect()[0]
    assert r.assortativity_e6 == exp


# ---------------------------------------------------------------------------
# td17 — truncation dupes
# ---------------------------------------------------------------------------


def test_td17_finds_planted_prefix_pair_not_others(spark):
    from bioeco_portal_etl_spark.catalog_dedup import truncation_dupes_frame

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " and then some more words follow here"),
            (3, base[:40]),  # proper prefix of BOTH 1 and 2
            (4, "a completely different document about spark engines only"),
            (5, base[:20] + "XX diverges after twenty characters right here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.short_id, r.long_id)
        for r in truncation_dupes_frame(docs).collect()
    }
    assert got == {(1, 2), (3, 1), (3, 2)}


def test_td17_catalog_pairs_are_verified_prefixes(spark, q):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/documents.parquet").to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    rows = q["td17_truncation_dupes"](spark, SF).collect()
    for r in rows:
        a, b = text[r.short_id], text[r.long_id]
        assert len(a) < len(b)
        assert b.startswith(a)
        assert (r.len_short, r.len_long) == (len(a), len(b))


# ---------------------------------------------------------------------------
# rel38 — time-weighted average
# ---------------------------------------------------------------------------


def test_rel38_twa_weights_by_duration(spark):
    """value 10 held for 9 s then value 100 for 1 s -> TWA = 19, NOT the
    arithmetic mean 55 — the whole point of time weighting."""
    from bioeco_portal_etl_spark.catalog_rel import time_weighted_avg_frame

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, 10.0),
            (2, "2024-01-01 00:00:09", 1, 100.0),
            (3, "2024-01-01 00:00:10", 1, 7.0),
        ],
        "event_id long, ts string, user_id long, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value")
    r = time_weighted_avg_frame(events).collect()[0]
    assert r.n_events == 3
    assert r.span_us == 10_000_000
    # (10*9s + 100*1s) / 10s = 19.0 exactly -> 190000 at e4
    assert r.twa_e4 == 190_000


def test_rel38_single_event_groups_dropped(spark):
    from bioeco_portal_etl_spark.catalog_rel import time_weighted_avg_frame

    events = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00", 9, 5.0)],
        "event_id long, ts string, user_id long, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value")
    assert time_weighted_avg_frame(events).count() == 0

"""Training-pipeline operator semantics beyond the oracle gate:
decontamination (overlap thresholds), stratified hash split
(determinism, append-stability, per-stratum fractions), repetition
signals (crafted repetitive vs clean docs)."""

from __future__ import annotations

import pyspark.sql.functions as F

from bioeco_portal_etl_spark.operators.sampling import (
    hash_split,
    stratified_hash_split,
)
from bioeco_portal_etl_spark.text.analysis import repetition_table
from bioeco_portal_etl_spark.text.decontam import ngram_overlap_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_overlap_requires_min_common_distinct_shingles(spark):
    bench = _docs(spark, [(0, "alpha beta gamma delta")])
    corpus = _docs(
        spark,
        [
            (10, "alpha beta gamma epsilon"),  # 2 common 3-shingles? no: 1
            (11, "alpha beta gamma delta zeta"),  # contains all 2 bench shingles
            (12, "totally unrelated text here"),
        ],
    )
    pairs = {
        (r.doc_id, r.bench_id, r.n_common)
        for r in ngram_overlap_pairs(
            corpus, bench, "doc_id", "text", k=3, min_common=2
        ).collect()
    }
    # bench shingles: {alpha beta gamma, beta gamma delta}; doc 11 has both
    assert pairs == {(11, 0, 2)}


def test_overlap_short_docs_cannot_contaminate(spark):
    bench = _docs(spark, [(0, "one two")])  # < k tokens: no 3-shingle
    corpus = _docs(spark, [(10, "one two three four")])
    assert (
        ngram_overlap_pairs(corpus, bench, "doc_id", "text", k=3, min_common=1)
        .count()
        == 0
    )


def test_hash_split_deterministic_and_append_stable(spark):
    a = _docs(spark, [(i, "x") for i in range(500)])
    b = _docs(spark, [(i, "x") for i in range(1000)])  # superset
    sa = {r.doc_id: r.split for r in hash_split(a, "doc_id").collect()}
    sb = {r.doc_id: r.split for r in hash_split(b, "doc_id").collect()}
    assert all(sb[i] == sa[i] for i in range(500))  # old rows never move
    frac = sum(1 for v in sb.values() if v == "train") / 1000
    assert 0.85 <= frac <= 0.95  # ~0.9 by hash uniformity
    # salt changes the assignment family
    ss = {r.doc_id: r.split for r in hash_split(a, "doc_id", salt="v2").collect()}
    assert any(ss[i] != sa[i] for i in range(500))


def test_stratified_split_respects_per_stratum_fractions(spark):
    rows = [(i, "rare" if i % 10 == 0 else "common") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_hash_split(
        df, "doc_id", "lang", {"rare": 0.5}, default_frac=0.9
    )
    got = out.groupBy("lang", "split").count().collect()
    stats = {(r.lang, r.split): r["count"] for r in got}
    rare_total = stats.get(("rare", "train"), 0) + stats.get(("rare", "val"), 0)
    common_total = stats.get(("common", "train"), 0) + stats.get(
        ("common", "val"), 0
    )
    assert rare_total == 200 and common_total == 1800
    assert 0.4 <= stats[("rare", "train")] / rare_total <= 0.6
    assert 0.85 <= stats[("common", "train")] / common_total <= 0.95


def test_repetition_signals_separate_spam_from_clean(spark):
    docs = _docs(
        spark,
        [
            (1, "buy buy buy buy buy buy buy buy now"),  # token spam
            (2, "click here click here click here click here"),  # bigram loop
            (3, "a genuinely varied sentence with distinct informative words"),
            (4, ""),  # no tokens -> dropped
        ],
    )
    rows = {r.doc_id: r for r in repetition_table(docs, "doc_id", "text").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].top_token_ratio_e4 == 10000 * 8 // 9
    # doc 2: bigrams total 7, distinct 2 ('click here', 'here click')
    assert rows[2].dup_bigram_ratio_e4 == 10000 * 5 // 7
    assert rows[3].top_token_ratio_e4 <= 1250  # 1/8 of tokens
    assert rows[3].dup_bigram_ratio_e4 == 0


def test_pack_sequences_stream_is_contiguous_per_shard(spark):
    from bioeco_portal_etl_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(300)], "doc_id long, n_tok long"
    )
    out = pack_sequences(df, "doc_id", "n_tok", budget=64, shards=4).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) == 4
    for shard, rows in by_shard.items():
        pos = 0
        for r in rows:  # id order == stream order, no gaps, no overlaps
            assert r.token_start == pos
            assert r.bin_id == shard * 2**32 + pos // 64
            pos += r.n_tokens


def test_pack_sequences_single_exchange(spark):
    from bioeco_portal_etl_spark.operators.sampling import pack_sequences
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    d = read_parquet_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.length("text").alias("n_tok")
    )
    plan = (
        pack_sequences(d, "doc_id", "n_tok", budget=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # one hash shuffle on shard, nothing else


def test_cap_per_group_keeps_first_n_by_order(spark):
    from bioeco_portal_etl_spark.operators.sampling import cap_per_group

    rows = [(i, "s%d" % (i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_group(df, "source", [F.col("doc_id").asc()], 5)
    got = sorted(r.doc_id for r in out.collect())
    # first 5 ids of each residue class mod 3
    expect = sorted(i for i in range(90) if i // 3 < 5)
    assert got == expect


def _union_find_clusters(edges):
    """node -> min member of its component, for every node on an edge:
    an independent pure-python union-find over ``(a, b)`` pairs."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    roots = {}
    for x in list(parent):
        roots.setdefault(find(x), []).append(x)
    return {x: min(members) for members in roots.values() for x in members}


def test_connected_components_matches_union_find(spark):
    """Min-label propagation ≡ an independent pure-python union-find over
    adversarial small graphs (chains, stars, merged rings, singleton-free)."""
    import random

    from bioeco_portal_etl_spark.graph.cc import connected_components

    rng = random.Random(7)
    for trial in range(4):
        n = 40
        edges = {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(10, 60))
        }
        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "src long, dst long"
        )
        got = {
            r.node: r.component for r in connected_components(pairs).collect()
        }
        # the operator only labels nodes with edges
        expect = _union_find_clusters(edges)
        assert got == expect, (trial, sorted(edges))


def test_connected_components_long_chain_converges(spark):
    """A 30-node chain needs ~log-diameter-ish rounds of propagation — the
    operator must converge (not hit max_iter) and label all nodes 0."""
    from bioeco_portal_etl_spark.graph.cc import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(31)}


def test_connected_components_over_lsh_pairs(spark):
    """td7's input shape: components over the MinHash-LSH candidate pairs
    of the sf0.001 documents equal a union-find over the collected pairs.
    A union inside the relaxation loop made Spark's constraint rewrite
    (UnionBase.rewriteConstraints) fail on this plan."""
    from bioeco_portal_etl_spark.graph.cc import connected_components
    from bioeco_portal_etl_spark.sources.files import read_parquet_table
    from bioeco_portal_etl_spark.text.dedupe import minhash_lsh_pairs
    from tests.conftest import SF_SMOKE

    d = read_parquet_table(spark, SF_SMOKE, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text").select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = [(r.src, r.dst) for r in pairs.collect()]
    assert edges
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == _union_find_clusters(edges)


def test_scd2_merge_semantics(spark):
    """Type-2 merge edges: changed attr closes + reopens; identical resend
    is a no-op; NULL -> value counts as a change (null-safe equality);
    closed history passes through; unseen keys insert."""
    from datetime import date

    from bioeco_portal_etl_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [
            (1, "a", 10.0, date(2020, 1, 1), None),       # will change
            (2, "b", 20.0, date(2020, 1, 1), None),       # resend identical
            (3, None, 30.0, date(2020, 1, 1), None),      # NULL -> value
            (4, "d", 40.0, date(2019, 1, 1), date(2020, 1, 1)),  # closed history
            (4, "d2", 41.0, date(2020, 1, 1), None),      # open, not updated
        ],
        "k long, name string, bal double, valid_from date, valid_to date",
    )
    upd = spark.createDataFrame(
        [(1, "a", 11.0), (2, "b", 20.0), (3, "c", 30.0), (9, "new", 90.0)],
        "k long, name string, bal double",
    )
    out = scd2_merge(dim, upd, "k", ["name", "bal"], "2021-06-01")
    key = lambda t: (t[0], str(t[1]), t[2], t[3], t[4])
    rows = sorted(
        ((r.k, r.name, r.bal, str(r.valid_from), str(r.valid_to))
         for r in out.collect()), key=key
    )
    assert rows == sorted(
        [
            (1, "a", 10.0, "2020-01-01", "2021-06-01"),
            (1, "a", 11.0, "2021-06-01", "None"),
            (2, "b", 20.0, "2020-01-01", "None"),
            (3, None, 30.0, "2020-01-01", "2021-06-01"),
            (3, "c", 30.0, "2021-06-01", "None"),
            (4, "d", 40.0, "2019-01-01", "2020-01-01"),
            (4, "d2", 41.0, "2020-01-01", "None"),
            (9, "new", 90.0, "2021-06-01", "None"),
        ],
        key=key,
    )


def test_pq_topk_recall_against_exact(spark):
    """PQ-ADC is an approximation — verify it's a MEANINGFUL one: average
    recall@5 vs exact squared-L2 top-5 over the fixture corpus must be
    well above chance (5/500 = 1%). The fixture codebooks are arbitrary
    corpus slices (the oracle-checkable injection), NOT k-means-fitted —
    measured ~16% recall here; production codebooks come from per-subspace
    kmeans.fit_kmeans, which is what pushes PQ recall into useful range."""
    from bioeco_portal_etl_spark.similarity.pq import pq_topk
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    e = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    cb = v.filter(F.col("vec_id") < 128).select(
        F.expr("vec_id div 16").cast("int").alias("subspace"),
        (F.col("vec_id") % 16).cast("int").alias("code"),
        F.expr("slice(e, (vec_id div 16) * 8 + 1, 8)").alias("subvec"),
    )
    q = e.filter(F.col("vec_id") < 10)
    approx = pq_topk(e, q, cb, "embedding", "vec_id", k=5).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.match_id)

    # exact squared-L2 top-5 via a driver-side check (500 x 10 is tiny)
    rows = {r.vec_id: [float(x) for x in r.e] for r in v.collect()}
    recall = 0.0
    for qid in range(10):
        qv = rows[qid]
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(rows[m], qv)), m)
            for m in rows
            if m != qid
        )
        exact = {m for _, m in dists[:5]}
        recall += len(got[qid] & exact) / 5
    assert recall / 10 >= 0.08, recall / 10


def test_segment_dedupe_keeps_first_occurrence_and_reassembles(spark):
    from bioeco_portal_etl_spark.text.dedupe import segment_dedupe

    rows = [
        (1, "intro\nboilerplate footer\nbody one"),
        (2, "boilerplate footer\nbody two\nintro"),
        (3, "boilerplate footer"),
        (4, None),
        (5, "intro\nintro"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in segment_dedupe(df, "doc_id", "text").collect()
    }
    # doc 1 is first: keeps everything in order
    assert out[1]["text_dedup"] == "intro\nboilerplate footer\nbody one"
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (3, 3)
    # doc 2 loses both repeated segments, keeps its own in original order
    assert out[2]["text_dedup"] == "body two"
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (3, 1)
    # doc 3 is entirely boilerplate -> empty remainder, row preserved
    assert out[3]["text_dedup"] == ""
    assert (out[3]["n_segs"], out[3]["n_kept"]) == (1, 0)
    # null text == one empty segment; it is the corpus-first '' so it survives
    assert (out[4]["n_segs"], out[4]["n_kept"]) == (1, 1)
    assert out[4]["text_dedup"] == ""
    # within-document repeats dedupe too (keep-first by position)
    assert out[5]["text_dedup"] == ""
    assert (out[5]["n_segs"], out[5]["n_kept"]) == (2, 0)


def test_ivfpq_matches_pq_distances_within_probed_cells(spark):
    """IVF-PQ = PQ scoring restricted to probed cells: every (query, match)
    it returns must (a) live in one of that query's probed cells, and
    (b) carry EXACTLY the same ADC distance the full PQ path computes —
    the cell pruning may drop candidates but must never change a score."""
    from bioeco_portal_etl_spark.similarity.ivf import _cells
    from bioeco_portal_etl_spark.similarity.ivfpq import ivfpq_topk
    from bioeco_portal_etl_spark.similarity.knn import with_norm
    from bioeco_portal_etl_spark.similarity.pq import pq_topk
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    e = read_parquet_table(spark, "/root/testdata/sf0.001", "embeddings")
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    cb = v.filter(F.col("vec_id") < 128).select(
        F.expr("vec_id div 16").cast("int").alias("subspace"),
        (F.col("vec_id") % 16).cast("int").alias("code"),
        F.expr("slice(e, (vec_id div 16) * 8 + 1, 8)").alias("subvec"),
    )
    cents = e.filter(F.col("vec_id") < 8)
    q = e.filter(F.col("vec_id") < 10)
    got = ivfpq_topk(
        e, q, cents, cb, "embedding", "vec_id", k=5, nprobe=2
    ).collect()
    assert {r.query_id for r in got} == set(range(10))

    cent = with_norm(cents, "embedding", "vec_id").select(
        F.col("vec_id").alias("q_id"),
        F.col("_v").alias("q_v"),
        F.col("_n").alias("q_n"),
    )
    corp = with_norm(e, "embedding", "vec_id").withColumnRenamed("vec_id", "_cid")
    cell_of = {
        r._cid: r.cell_id for r in _cells(corp, cent, 1).collect()
    }
    qn = with_norm(q, "embedding", "vec_id").withColumnRenamed("vec_id", "_cid")
    probed: dict[int, set] = {}
    for r in _cells(qn, cent, 2).collect():
        probed.setdefault(r._cid, set()).add(r.cell_id)
    for r in got:
        assert cell_of[r.match_id] in probed[r.query_id], r

    # distances agree with the unpruned PQ path (k large enough to cover)
    full = {
        (r.query_id, r.match_id): r.dist_e4
        for r in pq_topk(e, q, cb, "embedding", "vec_id", k=500).collect()
    }
    for r in got:
        assert full[(r.query_id, r.match_id)] == r.dist_e4, r


def test_chunk_windows_overlap_and_edges(spark):
    from bioeco_portal_etl_spark.text.chunking import chunk_windows

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "only three words"), (3, ""), (4, None), (5, "one")],
        "doc_id int, text string",
    )
    out = chunk_windows(df, "doc_id", "text", chunk_size=4, stride=3).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,3,6,9 -> last window is a 1-token tail
    assert [r.start_tok for r in by_doc[1]] == [0, 3, 6, 9]
    assert by_doc[1][0].chunk == "w0 w1 w2 w3"
    assert by_doc[1][1].chunk == "w3 w4 w5 w6"  # 1-token overlap
    assert by_doc[1][3].chunk == "w9" and by_doc[1][3].n_tok == 1
    # doc 2 fits in one window
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk == "only three words"
    # empty / null docs produce no chunks
    assert 3 not in by_doc and 4 not in by_doc
    assert by_doc[5][0].chunk == "one"
    # every chunk covers tokens [start, start+size) of the original
    for r in by_doc[1]:
        assert r.chunk.split(" ") == [f"w{i}" for i in range(r.start_tok, min(r.start_tok + 4, 10))]


def test_chunk_windows_plan_is_shuffle_free(spark):
    from bioeco_portal_etl_spark.sources.files import read_parquet_table
    from bioeco_portal_etl_spark.text.chunking import chunk_windows

    d = read_parquet_table(spark, "/root/testdata/sf0.001", "documents")
    plan = chunk_windows(d, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_lm_self_trained_scores(spark):
    """Every token of a self-trained vocab is in it: each counts toward
    n_tokens and scores its own log-prob."""
    from bioeco_portal_etl_spark.text.lm import unigram_lm_scores, unigram_vocab

    train = _docs(spark, [(0, "aa aa aa bb")])  # lp(aa)=ln(3/4), lp(bb)=ln(1/4)
    lps = {r["__t"]: r["__lp_e4"] for r in unigram_vocab(train, "text").collect()}
    (row,) = unigram_lm_scores(train, "doc_id", "text").collect()
    assert row.n_tokens == 4
    assert row.sum_lp_e4 == 3 * lps["aa"] + lps["bb"]

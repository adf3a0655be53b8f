"""Physical/optimized plan assertions (SURVEY.md §4) — the scale contract.

Correctness tests prove the engine computes the right rows; these prove it
computes them the way a 100 TB deployment needs: filters pushed into the
parquet scan, dimension joins broadcast, aggregation partial (map-side
combine), scans pruned to referenced columns, and no re-inlining of
expensive expressions below projections (the CollapseProject/pushdown traps
documented in text/dedupe.py)."""

from __future__ import annotations

import pytest

from bioeco_portal_etl_spark import catalog
from tests.conftest import SF_SMOKE


def _physical(spark, name):
    df = catalog.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name):
    df = catalog.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_and_partial_agg(spark):
    plan = _physical(spark, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle
    scan = [line for line in plan.splitlines() if "FileScan" in line][0]
    assert "l_shipdate" in scan and "DataFilters" in scan  # pushed predicate
    assert "l_comment" not in plan  # column pruning reached the scan


def test_q3_broadcasts_dimensions(spark):
    plan = _physical(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nothing shuffles at dimension scale
    # the BUILDING segment filter reached the customer scan
    cscan = [ln for ln in plan.splitlines() if "FileScan" in ln and "c_mktsegment" in ln]
    assert cscan and "BUILDING" in cscan[0]


def test_q6_all_predicates_pushed(spark):
    plan = _physical(spark, "q6_revenue_forecast")
    scan = [line for line in plan.splitlines() if "FileScan" in line][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan


def test_j1_broadcast_left_join(spark):
    plan = _physical(spark, "j1_broadcast_left_join")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_a1_partial_aggregation(spark):
    plan = _physical(spark, "a1_grouped_merge")
    assert "partial_" in plan  # merge agg pre-combines map-side


def test_td2_no_expression_reinlining(spark):
    """Regression: the token split must appear a bounded number of times in
    the optimized plan. Pushdown/InferFiltersFromGenerate re-inlining the
    shingle pipeline into Filter nodes showed up as split() duplication
    (was 5 copies; the fixed plan carries at most 3: token project, cheap
    token-count filter, jaccard side if present)."""
    plan = _optimized(spark, "td2_minhash_lsh")
    assert plan.count("split(") <= 3
    # td4 materializes ONE persisted shingle stage feeding minhash + both
    # rescore sides: every split() occurrence must live inside the cached
    # subtree's description (InMemoryRelation), never in a live operator.
    plan4 = _optimized(spark, "td4_jaccard_pairs")
    assert "InMemoryRelation" in plan4
    live = plan4.split("InMemoryRelation")[0]  # operators above the cache
    assert live.count("split(") == 0


def test_ts1_broadcasts_queries(spark):
    plan = _physical(spark, "ts1_cosine_topk")
    assert "Broadcast" in plan  # query set is the broadcast side


def test_mm1_projects_payload_away(spark):
    """The binary payload exists only between attach and decode — it must
    not appear in the output schema (never collected/shuffled onward)."""
    df = catalog.queries()["mm1_media_metadata"](spark, SF_SMOKE)
    assert "payload" not in df.columns
    assert [f.name for f in df.schema.fields] == [
        "media_id", "n_bytes", "width", "height", "media_format",
    ]


def test_q4_semi_join_not_fanout(spark):
    """EXISTS compiles to a LeftSemi hash join carrying the non-equi
    shipdate condition — no inner-join fan-out, no post-join distinct."""
    plan = _physical(spark, "q4_priority_exists")
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan
    oscan = [ln for ln in plan.splitlines() if "FileScan" in ln and "o_orderdate" in ln]
    assert oscan  # date window pushed to the orders scan


def test_q17_single_fact_scan_family(spark):
    """Decorrelated correlated-subquery: the per-part threshold is an
    aggregate joined back, not a per-row subquery (no SubqueryExec in the
    physical plan); brand filter pushed to the part scan."""
    plan = _physical(spark, "q17_small_qty_revenue")
    assert "Subquery" not in plan
    pscan = [ln for ln in plan.splitlines() if "FileScan" in ln and "p_brand" in ln]
    assert pscan and "Brand#13" in pscan[0]


def test_q22_anti_join_and_scalar_broadcast(spark):
    """NOT EXISTS -> LeftAnti; the global average is a broadcast one-row
    side, never recomputed per customer; recent-orders filter pushed to
    the orders scan below the anti join."""
    plan = _physical(spark, "q22_idle_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    oscan = [ln for ln in plan.splitlines() if "FileScan" in ln and "o_orderdate" in ln]
    assert oscan


def test_q19_disjunction_stays_one_stage(spark):
    """The OR-of-ANDs predicate lives in the join stage (single codegen
    span over join+filter+partial agg) and part is pruned to the three
    referenced columns."""
    plan = _physical(spark, "q19_disjunctive_pred")
    pscan = [ln for ln in plan.splitlines() if "FileScan" in ln and "p_brand" in ln][0]
    assert "p_name" not in pscan and "p_retailprice" not in pscan
    assert "partial_" in plan


def test_td6_benchmark_side_broadcasts(spark):
    """Decontamination must be a map-side join on the corpus: the (tiny)
    benchmark shingle set broadcasts, the corpus side never shuffles before
    the pair aggregate."""
    plan = _physical(spark, "td6_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_x2_split_has_no_shuffle(spark):
    """The hash split is a pure column expression: no Exchange anywhere —
    the property that makes it free at 100 TB (modulo the fixture's
    orderBy, which is the display sort, not the operator)."""
    from pyspark.sql import functions as F

    from bioeco_portal_etl_spark.operators.sampling import stratified_hash_split
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    d = read_parquet_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    out = stratified_hash_split(d, "doc_id", "lang", {"en": 0.95})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "*(1) Project" in plan  # single codegen'd projection over the scan


def test_tx9_aggregates_partially_no_window(spark):
    """Repetition signals are hash aggregates with map-side partials —
    no window (a window would single-partition nothing here, but the agg
    form partial-combines, which a collect_list window cannot)."""
    plan = _physical(spark, "tx9_repetition")
    assert "partial_" in plan
    assert "Window" not in plan


def test_q21_semi_then_anti_no_fanout(spark):
    """The Q21 family must stay semi/anti all the way: candidate late lines
    are filtered by existence (semi) and sole-lateness (anti) — never a
    fan-out join + distinct."""
    plan = _physical(spark, "q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q16_denylist_is_broadcast_anti(spark):
    plan = _physical(spark, "q16_supplier_cnt")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q13_left_join_histogram_partial_aggs(spark):
    plan = _physical(spark, "q13_order_count_distribution")
    assert "LeftOuter" in plan
    assert "partial_count" in plan  # both aggregate levels pre-combine


def test_x9_one_join_no_python(spark):
    """snapshot_diff: exactly one (full-outer) join, no Python stages —
    the whole changeset derivation lives in the join + project stage."""
    plan = _physical(spark, "x9_snapshot_diff")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    assert "FullOuter" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_x10_canonicalizer_in_scan_stage(spark):
    """URL canonicalize+dedupe: zero UDFs (pure codegen expressions) and a
    single exchange — the groupBy on the canonical key. The canonicalizer
    itself must not induce a shuffle or a Python stage."""
    plan = _physical(spark, "x10_url_dedupe")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one hash-agg exchange + the final sort's range exchange, nothing else
    assert plan.count("Exchange") == 2
    assert "partial_count" in plan or "partial_" in plan  # map-side combine


def test_tx11_vocab_broadcasts_no_python(spark):
    """Unigram LM scoring: the Heaps-bounded vocabulary joins broadcast
    (never a fact-fact shuffle join) and the whole pipeline stays in
    codegen — no Python stages, no cartesian product."""
    plan = _physical(spark, "tx11_lm_score")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ts7_refine_joins_broadcast_no_cartesian(spark):
    """Shortlist-then-refine: every join (codebooks, LUT, shortlist
    fetch, query vectors) is broadcast at this scale — the refine tier
    must never degrade to a cartesian product, and the exact re-score is
    codegen, not Python."""
    plan = _physical(spark, "ts7_pq_refine_topk")
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_x17_winsorize_no_row_sort(spark):
    """Frequency-table rank selection: the rank window runs over the
    per-(group, value) COUNT table, never a row_number sort of the raw
    rows (the parallelism cliff SCALING.md documents)."""
    plan = _physical(spark, "x17_winsorize")
    assert "row_number" not in plan
    # count table built with partial aggregation before the exchange
    assert "partial_count" in plan


def test_rel21_attribution_single_user_window(spark):
    """Both touch models resolve in one window pass: exactly one window
    node, no self-join of the event stream."""
    plan = _physical(spark, "rel21_attribution")
    assert plan.count("Window") >= 1
    # conversions x history would appear as a range-join condition
    assert "BroadcastNestedLoopJoin" not in plan


def test_tx16_pmi_marginals_broadcast(spark):
    """PMI joins vocab-sized marginals broadcast — the bigram count table
    never re-shuffles for them."""
    plan = _physical(spark, "tx16_pmi_bigrams")
    assert "BroadcastHashJoin" in plan
    # ranking is TakeOrdered (per-partition top-k), not a global sort
    assert "TakeOrderedAndProject" in plan


def test_x19_zscore_moments_broadcast_no_extra_exchange(spark):
    """Group moments join back broadcast: the data path has no
    moments-driven exchange."""
    plan = _physical(spark, "x19_group_normalize")
    assert "BroadcastHashJoin" in plan


def test_gr5_similarity_prunes_hub_items(spark):
    """The hub-degree guard filters BEFORE the per-neighbor self-join —
    the idf filter must sit under the pair join, not above it."""
    plan = _optimized(spark, "gr5_node_similarity")
    # degree aggregate feeds a filter (<= 64) that gates the join input
    assert "64" in plan


def test_ts8_mmr_python_sees_only_shortlist(spark):
    """MMR's Python stage consumes the shortlist join, not the corpus:
    the plan has exactly one Arrow python stage, fed from the top-k
    window output."""
    plan = _physical(spark, "ts8_mmr_rerank")
    assert plan.count("MapInPandas") == 1
    assert "row_number" in plan.lower()  # shortlist rank window upstream


def test_dq3_leakage_single_shuffle_partial_agg(spark):
    """The leakage audit is one md5 projection + ONE hash aggregate: a
    single Exchange (the groupBy on content_hash), partial aggregation
    map-side, no join, no window — at 100 TB that's one shuffle of
    (hash, flag) pairs and nothing else."""
    from bioeco_portal_etl_spark.operators.leakage import split_leakage
    from bioeco_portal_etl_spark.operators.sampling import hash_split
    from bioeco_portal_etl_spark.sources.files import read_parquet_table

    d = read_parquet_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = split_leakage(hash_split(d, "doc_id"), "doc_id", "text", "split")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan  # map-side combine before the one shuffle
    assert "Join" not in plan and "Window" not in plan


def test_x22_merge_never_rescans_base_rows(spark):
    """Incremental maintenance contract in the plan: the merge joins two
    AGGREGATED (group-cardinality) relations — every scan is followed by
    a partial aggregate BEFORE any join, so the join inputs are rollup-
    sized, never row-sized."""
    plan = _physical(spark, "x22_incremental_agg")
    assert "partial_count" in plan  # both sides pre-aggregated
    # the full-outer merge join exists, and no cartesian anywhere
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_mm6_payload_stays_inside_python_stages(spark):
    """The PNG payload is born in one mapInPandas stage and consumed by the
    next: it must not survive into the output schema, and the final sort
    shuffles only the six stat columns."""
    df = catalog.queries()["mm6_png_channel_stats"](spark, SF_SMOKE)
    assert "payload" not in df.columns
    assert [f.name for f in df.schema.fields] == [
        "media_id", "channel", "n_px", "mean_v", "min_v", "max_v",
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # doc_id predicate reached the parquet scan (only <200 ids decode)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "doc_id" in scan


def test_gr6_star_edges_stay_linear(spark):
    """The dup-components entry never materializes all-pairs: edges come
    from min-over-window stars (|group|-1 edges per block). The optimized
    plan must contain window mins over the two hash keys and no cartesian
    or nested-loop join anywhere in the edge build."""
    plan = _optimized(spark, "gr6_dup_components")
    assert "Cartesian" not in plan and "Nested" not in plan


def test_mm7_payload_stays_inside_python_stages(spark):
    """Audio twin of the mm6 pin: WAV bytes are born in one mapInPandas
    stage and consumed by the next — never in the output schema, and the
    id predicate prunes the parquet scan before any synth happens."""
    df = catalog.queries()["mm7_wav_clip_stats"](spark, SF_SMOKE)
    assert "payload" not in df.columns
    assert [f.name for f in df.schema.fields] == [
        "media_id", "n_samples", "energy", "min_s", "max_s", "zero_cross",
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "doc_id" in scan


def test_x23_scd2_single_shuffle_no_join(spark):
    """SCD2 contract: both window passes (change detection, interval
    stitching) ride ONE shuffle on the entity key — no join, no extra
    exchange; only the presentation sort adds a range exchange."""
    plan = _physical(spark, "x23_scd2_history")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_tx20_winnow_single_shuffle_no_python(spark):
    """Winnowing contract: k-gram explosion and md5 run in codegen (no
    Python stage); the doc_id shuffle feeding the window-min also serves
    BOTH downstream aggregates (doc_id is a prefix of their grouping
    keys), so the whole operator is one hash exchange + the output sort."""
    plan = _physical(spark, "tx20_winnow_fingerprints")
    assert "Generate" in plan  # posexplode, not a UDF
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine on the summary agg


def test_dq4_psi_first_exchange_carries_aggregated_bins(spark):
    """PSI contract: the data-scale shuffle is the (key, bin) groupBy with
    map-side combine — everything after (window totals, term sum) moves
    bins-sized tables. No join anywhere; the one ln() is a JVM expression,
    not a Python stage."""
    plan = _physical(spark, "dq4_psi_drift")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts10_sq8_stays_jvm_one_window_exchange(spark):
    """SQ8 contract: quantization params ride a single-row broadcast (no
    collect), encoding is a transform lambda in codegen, scoring is an
    integer fold — zero Python stages; the only hash exchange is the
    per-query top-k window."""
    plan = _physical(spark, "ts10_sq8_topk")
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan  # intended brute-force scan


def test_tx21_bpe_word_table_combines_mapside(spark):
    """BPE contract: the corpus-scale stage is the word-frequency groupBy
    with map-side combine (everything after runs on the vocab-sized
    table); the 1-row merge rule rides a broadcast nested-loop, never a
    CartesianProduct; the greedy fold is a JVM aggregate expression, so
    no Python stage exists anywhere."""
    plan = _physical(spark, "tx21_bpe_merges")
    assert "partial_count" in plan  # word-frequency map-side combine
    assert "BroadcastNestedLoopJoin" in plan  # broadcast merge rule
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_td11_semantic_dedupe_broadcast_assign_no_cartesian(spark):
    """SemDeDup contract: centroid assignment is a broadcast of the k-row
    centroid table (never a shuffle of the embeddings); the pair stage is
    an equi-join ON cluster (SortMergeJoin/ShuffledHashJoin acceptable —
    it's fact⋈fact), and nothing degenerates to CartesianProduct. All
    scoring is fold algebra: zero Python stages."""
    plan = _physical(spark, "td11_semantic_dedupe")
    assert "BroadcastNestedLoopJoin" in plan  # k centroids broadcast
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x24_zorder_interleave_stays_codegen(spark):
    """Z-order contract: the bit interleave is pure codegen expression
    work inside the scan stage; the audit is one map-side-combined
    groupBy on the 256-key bucket space; no joins, no Python."""
    plan = _physical(spark, "x24_zorder_layout")
    assert "partial_min" in plan and "partial_max" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the bucket agg


def test_dq6_benford_single_agg_exchange(spark):
    """Benford contract: the fact table is scanned ONCE, reduced by one
    9-key combinable groupBy; the grand total is a window over the 9-row
    digit table (no join, no second scan); digit extraction is string
    slicing in codegen, not log10, not Python."""
    plan = _physical(spark, "dq6_benford")
    assert "partial_count" in plan
    assert plan.count("FileScan") == 1  # total derived, not re-scanned
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "LOG" not in plan.upper().replace("LOGICAL", "")
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm8_phash_payload_confined_to_decode_stage(spark):
    """Perceptual-hash contract: exactly two Arrow stages (synthesize,
    decode+hash) and the binary payload never crosses into the JVM
    shuffle — the window on phash moves only (id, dims, hash) rows."""
    plan = _physical(spark, "mm8_phash_groups")
    assert plan.count("MapInPandas") == 2
    window_part = plan.split("MapInPandas")[0]  # stages above the decode
    assert "payload" not in window_part  # hash exchange carries no blobs


def test_tx22_bm25_postings_filtered_and_broadcast_stats(spark):
    """BM25 contract: the (doc, term) tf aggregate is map-side combined
    and the query-term filter runs below it (the shuffle carries matching
    postings only); corpus stats (1 row) and per-term dfs (|Q| rows) come
    back as broadcasts; the top-k is TakeOrderedAndProject (per-partition
    heaps), never a global sort; no Python anywhere."""
    plan = _physical(spark, "tx22_bm25")
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan  # df join ON term
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats join
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts11_rrf_fuses_topk_lists_no_python(spark):
    """RRF contract: both legs end in TakeOrderedAndProject top-k before
    fusion, so the fusion join moves k-sized lists regardless of corpus
    size; all rank arithmetic is integer expression work."""
    plan = _physical(spark, "ts11_rrf_fusion")
    assert plan.count("TakeOrderedAndProject") >= 2  # each leg + fusion
    assert "FullOuter" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr7_labelprop_combinable_counts(spark):
    """LPA contract: per-round neighbor-label counts are map-side
    combined; the argmax is a window over the (node, label) table; no
    Python, no cartesian."""
    plan = _physical(spark, "gr7_label_communities")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr8_kcore_final_stage_is_combinable_agg(spark):
    """k-core contract: the iterative peels run behind localCheckpoint
    (the visible plan starts from the converged edge set — the same
    truncation cc.py uses to stop 3^rounds plan growth); the exposed
    stage is one map-side-combined degree aggregate, no Python."""
    plan = _physical(spark, "gr8_kcore")
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq7_profile_two_scans_no_python(spark):
    """Profile-drift contract: exactly one scan per snapshot (every
    metric is a column of the same aggregate), and the ref/cur join moves
    O(columns) rows; no Python."""
    plan = _physical(spark, "dq7_profile_drift")
    assert plan.count("FileScan") == 2
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x25_salted_join_explodes_dim_on_shuffle_path(spark):
    """Salted-join contract: the dim side is replicated via explode (one
    Generate), the join runs on the (key, salt) shuffle path the salt
    exists for (SortMergeJoin — broadcast would make salting a no-op),
    and the rollup is map-side combined."""
    plan = _physical(spark, "x25_salted_join")
    assert "Generate explode" in plan
    assert "SortMergeJoin" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx23_heavy_hitters_result_is_bounded_local(spark):
    """Heavy-hitter contract: the returned frame is the certified k-row
    result materialized as a local relation (the two-phase job already
    ran: Arrow candidate pass + broadcast-filtered recount — both bounded
    driver state); re-executing it must NOT rescan the corpus."""
    plan = _physical(spark, "tx23_heavy_hitters")
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "FileScan" not in plan


def test_tx24_bpe_encode_vocab_broadcast(spark):
    """BPE-encode contract: the Heaps-bounded vocabulary joins the
    corpus-scale token stream as a BROADCAST (tokenizer inference never
    shuffles the corpus on the word key); the per-doc rollup is map-side
    combined; the merge folds stay JVM expressions."""
    plan = _physical(spark, "tx24_bpe_encode")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan and "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x26_bloom_probe_runs_before_exchange(spark):
    """Bloom-join contract: the literal-bitset probe (shiftright over the
    md5 double-hash positions) evaluates in the scan stage — below the
    first Exchange — so pruned rows never enter a shuffle; no Python."""
    plan = _physical(spark, "x26_bloom_join")
    first_exchange = plan.find("Exchange")
    probe = plan.find("shiftright")
    assert probe != -1
    assert first_exchange == -1 or probe > first_exchange  # plan prints
    # top-down: a larger offset means the probe sits DEEPER (earlier in
    # execution) than the exchange
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq8_lateness_single_window_then_combinable_agg(spark):
    """Lateness contract: one (key, arrival) window exchange computes the
    running mark; the status rollup is a map-side-combined groupBy; all
    timestamp arithmetic is JVM expression work."""
    plan = _physical(spark, "dq8_lateness_audit")
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel26_pivot_single_exchange_partial_agg(spark):
    """Pivot contract: the pinned value list means NO distinct-discovery
    job — one scan, one hash aggregate with map-side partials, one
    exchange on the year key."""
    plan = _physical(spark, "rel26_pivot")
    assert plan.count("FileScan") == 1
    assert "partial_" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm9_three_arrow_stages_payload_confined(spark):
    """Downsample contract: exactly three Arrow stages (synthesize,
    decode+resample+re-encode, decode+stats) — the binary payload crosses
    two stage boundaries and never enters a JVM shuffle."""
    plan = _physical(spark, "mm9_wav_downsample")
    assert plan.count("MapInPandas") == 3


def test_td12_lsh_quality_localized_single_row(spark):
    """LSH-quality contract: the metric row is materialized once (the
    persisted shingle stage is unpersisted before return) — re-execution
    must not replay the two-sided candidate/ground-truth join."""
    plan = _physical(spark, "td12_lsh_quality")
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "FileScan" not in plan


def test_x27_epoch_shuffle_one_exchange(spark):
    """Epoch-shuffle contract: the md5 key is scan-stage expression work;
    the layout costs ONE hash repartition (what the shard writer needs
    anyway) and the audit combines map-side on the same partitioning —
    min_by/max_by are partial-merge aggregates, no extra window."""
    plan = _physical(spark, "x27_epoch_shuffle")
    assert "partial_min_by" in plan or "partial_min" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x28_compaction_fold_stays_codegen(spark):
    """Compaction contract: the next-fit fold is an aggregate expression
    over the per-group collected listing (metadata-sized by the
    directory-width argument) — one groupBy exchange, no joins, no
    Python."""
    plan = _physical(spark, "x28_compaction_plan")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx25_blocklist_broadcast_and_left_join(spark):
    """Blocklist contract: the term table broadcasts (config-sized); the
    verdict join back to the doc base is also broadcast-able at report
    scale; per-doc rollup is map-side combined; no Python."""
    plan = _physical(spark, "tx25_blocklist_filter")
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel27_rolling_slope_one_window_exchange(spark):
    """Rolling-slope contract: all five sufficient statistics ride one
    (event_type) window exchange; the division appears once inside a
    floor; no Python."""
    plan = _physical(spark, "rel27_rolling_slope")
    assert plan.count("Window") <= 2  # row_number + the frame sums
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr9_hits_scalar_max_broadcast(spark):
    """HITS contract: per half-step the normalizer is a 1-row max
    broadcast back over the score table (BroadcastNestedLoopJoin of one
    row), never a window over all nodes; score joins are combinable
    aggregates; no Python."""
    plan = _physical(spark, "gr9_hits")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx26_rake_stays_jvm(spark):
    """RAKE contract: segmentation is a running-sum window on the per-doc
    exchange; word stats broadcast back (vocab-sized); no Python, no
    cartesian."""
    plan = _physical(spark, "tx26_rake_keywords")
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts12_range_search_no_rank_state(spark):
    """Radius-search contract: broadcast query side + a pure filter on
    the floored score — NO window/rank state at all (the contract
    difference vs top-k)."""
    plan = _physical(spark, "ts12_range_search")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts13_filtered_ann_label_pushed_to_scan(spark):
    """Filtered-ANN contract: the label predicate reaches the parquet
    scan (PushedFilters) — excluded vectors are never scored, the whole
    point of filtered search."""
    plan = _physical(spark, "ts13_filtered_ann")
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("label" in ln and "PushedFilters" in ln for ln in scans)
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x29_net_effect_single_combinable_agg(spark):
    """Net-effect contract: one groupBy on the entity key; min_by/max_by
    are partial-merge aggregates (map-side combine), so compaction costs
    exactly the exchange the downstream MERGE pays anyway."""
    plan = _physical(spark, "x29_cdc_net_effect")
    assert "partial_min_by" in plan or "partial_" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr10_walks_join_per_hop_no_python(spark):
    """Random-walk contract: L equi-joins of the seed-sized frontier
    against the adjacency table; hop choice is md5 expression work; no
    Python, no cartesian."""
    plan = _physical(spark, "gr10_random_walks")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x30_asof_filters_history_not_rescan(spark):
    """As-of contract: time travel is a FILTER over the history build's
    windows — same single (user) exchange as x23, no extra join."""
    plan = _physical(spark, "x30_scd2_asof")
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel28_percent_rank_integer_only(spark):
    """Percent-rank contract: the surface is pure integer division —
    no double division node anywhere in the plan; one window exchange."""
    plan = _physical(spark, "rel28_percent_rank")
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Window" in plan


def test_tx27_gopher_single_scan_codegen(spark):
    """Gopher-rules contract: the whole rule stack is Column algebra over
    ONE scan of documents — no join, no shuffle, no Python; at 100 TB it
    rides the scan stage."""
    plan = _physical(spark, "tx27_gopher_rules")
    assert plan.count("FileScan") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq9_fd_audit_partial_aggs_no_join(spark):
    """FD-audit contract: each candidate pair is a two-level hash
    aggregate with map-side partials; pairs union, nothing joins."""
    plan = _physical(spark, "dq9_fd_violations")
    assert "partial_" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x31_dsir_bucket_table_broadcast(spark):
    """DSIR contract: the B-row bucket-ratio table comes back to the
    token stream as a BROADCAST join (never a shuffle of the corpus),
    and the totals fold is a 1-row broadcast too — no sort-merge join,
    no cartesian product anywhere."""
    plan = _physical(spark, "x31_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts14_hard_negatives_broadcast_queries(spark):
    """Hard-negative mining contract: the query set broadcasts and the
    label-mismatch predicate rides the nested-loop join — same scan
    shape as cosine_topk, positives never scored by a separate pass."""
    plan = _physical(spark, "ts14_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel29_grouping_sets_one_expand_one_agg(spark):
    """Grouping-sets contract: the four sets evaluate in ONE pass — a
    single Expand node feeding a partial-aggregated hash aggregate, not
    four scans unioned."""
    plan = _physical(spark, "rel29_grouping_sets")
    assert plan.count("FileScan") == 1
    assert "Expand" in plan
    assert "partial_" in plan
    assert "Union" not in plan


def test_sk7_hll_merge_combinable_no_raw_rescan(spark):
    """Sketch-merge contract: weekly/global grains aggregate REGISTER
    rows (max is partial-combinable), never re-scan raw events per
    grain — the day-register build is the only events read per branch."""
    plan = _physical(spark, "sk7_hll_merge")
    assert "partial_max" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    # exchange-count pin (VERDICT r10 item 6): exactly the merge-law
    # ladder — per branch a (day,bucket) register build, then weekly
    # branch (wk,bucket)->(wk) and global branch (bucket)->SinglePartition
    # — 5 hash exchanges + 1 single-partition fold + the report sort.
    # All of them move REGISTER rows (<=64/grain), never raw events;
    # a 6th hash exchange means a grain started re-scanning raw data.
    assert plan.count("FileScan") == 2  # one events read per branch
    assert plan.count("Exchange hashpartitioning") == 5
    assert plan.count("Exchange SinglePartition") == 1


def test_tx29_coverage_candidate_cut_before_blowup(spark):
    """n-gram coverage contract: gram df is partial-aggregated, and the
    covered-position count is the round-8 lag-window run merge — only
    the gram explode Generates (once per consumer of the gram frame:
    the df aggregate and the join side; the k-position explode+distinct
    of the round-5 form added a THIRD) and a window partitioned by doc
    id (never a global sort), whose hash partitioning the final per-doc
    aggregate reuses."""
    plan = _physical(spark, "tx29_ngram_coverage")
    assert "partial_" in plan
    assert plan.count("Generate") == 2
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts15_ivf_balance_broadcast_centroids(spark):
    """IVF health contract: same broadcast-centroid assignment subplan
    as ts3 (map-side argmax combiner), then a K-cell-wide aggregate —
    no sort-merge join, no cartesian on the corpus side beyond the
    broadcast centroid product."""
    plan = _physical(spark, "ts15_ivf_balance")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x32_skew_report_take_ordered_not_global_window(spark):
    """Skew-report contract: top-N is TakeOrderedAndProject (distributed
    per-partition heaps), NOT a single-task global row_number over the
    full key table; both count sides partial-aggregate."""
    plan = _physical(spark, "x32_join_skew_report")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial_" in plan


def test_gr11_hyperball_no_cartesian_partial_max(spark):
    """HyperBall contract: register propagation is an equi-join (no
    cartesian anywhere), merges partial-aggregate map-side, and the
    whole sketch path stays JVM (no Python eval)."""
    plan = _physical(spark, "gr11_hyperball")
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm10_patch_grid_metadata_only_after_decode(spark):
    """Patch-tiling contract: exactly two Arrow stages (payload synth +
    header decode) and the explode runs over header metadata — the
    binary payload never re-enters the plan after the decode stage."""
    plan = _physical(spark, "mm10_patch_grid")
    assert plan.count("MapInPandas") == 2
    assert "Generate" in plan  # the patch explode
    # no third Python stage: the grid arithmetic is whole-stage codegen
    assert "EvalPython" not in plan


def test_rel30_variant_shred_stays_jvm(spark):
    """Variant contract: parse_json/try_variant_get are Catalyst
    expressions — one scan, partial aggregation, zero Python."""
    plan = _physical(spark, "rel30_variant_shred")
    assert plan.count("FileScan") == 1
    assert "partial_" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts16_sq_distortion_broadcast_scale(spark):
    """SQ-distortion contract: the one-row scale rides broadcast joins
    (never a shuffle), the error fold is codegen'd array algebra, and
    the label rollup partial-aggregates."""
    plan = _physical(spark, "ts16_sq_distortion")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx30_textrank_no_cartesian_stays_jvm(spark):
    """TextRank contract: every superstep is an equi-join keyed by
    (doc_id, word) — no cartesian — with map-side partial sums, and the
    whole pipeline (tokenize, pair explode, 2 PageRank rounds, top-k)
    stays JVM-side."""
    plan = _physical(spark, "tx30_textrank")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm11_patch_dupes_two_arrow_stages_metadata_shuffle(spark):
    """Patch-dedupe contract: exactly two Arrow stages (payload synth +
    decode/hash) and the dedupe groupBy shuffles only hash metadata —
    partial aggregation present, payload column gone after the hash
    stage."""
    plan = _physical(spark, "mm11_patch_dupes")
    assert plan.count("MapInPandas") == 2
    assert "partial_count" in plan or "partial_" in plan
    assert "EvalPython" not in plan


def test_gr12_sssp_equijoin_partial_min(spark):
    """SSSP contract: each relaxation round is an equi-join (no
    cartesian) and the frontier MIN partial-aggregates map-side; no
    Python anywhere."""
    plan = _physical(spark, "gr12_sssp")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x33_zone_skip_partial_aggs_no_global_sort(spark):
    """Zone-map contract: file zone maps are partial-combinable
    aggregates over value-range file ids — no global Sort feeding a
    window (the single-task row_number anti-pattern the module
    docstring forbids), no cartesian, no Python."""
    plan = _physical(spark, "x33_zone_skip")
    assert "partial_min" in plan and "partial_max" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr13_ppr_equijoin_partial_sums(spark):
    """PPR contract: identical plan shape to gr1 — equi-join supersteps
    (no cartesian), map-side partial sums, all JVM."""
    plan = _physical(spark, "gr13_personalized_pagerank")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq10_l_diversity_two_level_partial_agg(spark):
    """l-diversity contract: one scan, the (QI, sensitive) and per-QI
    rollups both partial-aggregate; no Python, no cartesian."""
    plan = _physical(spark, "dq10_l_diversity")
    assert plan.count("FileScan") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_sk8_hist_quantiles_bounded_window_broadcast_certificate(spark):
    """Histogram-quantile contract: the only cross join is the 1-row
    broadcast pairing of estimate and exact (BroadcastNestedLoopJoin,
    never CartesianProduct); bin counts partial-aggregate."""
    plan = _physical(spark, "sk8_hist_merge_quantiles")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    # exchange-count pin (VERDICT r10 item 6): estimate branch is the
    # merge ladder (day,bin)->(bin)->SinglePartition fold; exact branch
    # is one value shuffle + its single-partition quantile read — 3 hash
    # + 2 single-partition exchanges and the 1-row certificate broadcast.
    # Only the (day,bin) and value exchanges see event-scale rows; the
    # rest move <=bins rows (the constant-state merge law).
    assert plan.count("FileScan") == 2
    assert plan.count("Exchange hashpartitioning") == 3
    assert plan.count("Exchange SinglePartition") == 2
    assert plan.count("BroadcastExchange") == 1


def test_x34_selectivity_grid_partial_aggs(spark):
    """Selectivity contract: the 2-D grid and the actuals are partial-
    combinable aggregates; the actuals table joins back broadcast; no
    cartesian, no Python, no global-sort window."""
    plan = _physical(spark, "x34_selectivity_audit")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel31_bom_walk_equijoins_no_python(spark):
    """BOM contract: the parent-chain walk is a fixed unroll of
    equi-joins over checkpointed one-row-per-node state — no cartesian,
    no Python, partial aggregation on the root rollup."""
    plan = _physical(spark, "rel31_bom_rollup")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm12_resize_three_arrow_stages(spark):
    """Resize contract: exactly three Arrow stages (synth, resize,
    stats) — the pixel loop never leaks into row-at-a-time Python, and
    the relational tail is pure JVM."""
    plan = _physical(spark, "mm12_resize_pixels")
    assert plan.count("MapInPandas") == 3
    assert "EvalPython" not in plan


def test_x35_market_basket_broadcast_supports(spark):
    """Basket contract: the pair self-join is an equi-join on basket
    (bounded fan-out), the per-item support enrichments broadcast, and
    the only nested-loop is the one-row basket count."""
    plan = _physical(spark, "x35_market_basket")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx31_doc_cosine_df_cut_before_pair_join(spark):
    """Doc-cosine contract: the df<=max_df term filter joins broadcast
    BEFORE the postings self-join (the fan-out bound), everything
    partial-aggregates, no cartesian, no Python."""
    plan = _physical(spark, "tx31_doc_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x36_twa_single_keyed_window(spark):
    """TWA contract: one lead() window partitioned by (user, day) —
    never a global sort — then partial-combinable aggregates only."""
    plan = _physical(spark, "x36_time_weighted_avg")
    plan_opt = _optimized(spark, "x36_time_weighted_avg")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    # the window is keyed: its partition spec names the keys (a global
    # windowspecdefinition(ts ...) would be the single-task-sort trap)
    assert "windowspecdefinition(user_id" in plan_opt


def test_gr14_harmonic_no_extra_shuffle_after_hyperball(spark):
    """Harmonic contract: the centrality is one grouped conditional-max
    pivot over the hyperball output — no cartesian, partial max, JVM."""
    plan = _physical(spark, "gr14_harmonic_centrality")
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel32_window_funnel_one_shuffle(spark):
    """Timeout-funnel contract: ONE groupBy(user) collect (plus the
    level rollup) — the start-candidate scan is array algebra inside the
    row, no per-step joins, no Python."""
    plan = _physical(spark, "rel32_window_funnel")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # zero joins of any kind
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x37_range_audit_broadcast_boundaries(spark):
    """Range-audit contract: the boundary table rides a broadcast
    nested-loop (B-1 rows), the frequency tables partial-aggregate, and
    the only window runs over the distinct-value table."""
    plan = _physical(spark, "x37_range_partition_audit")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx32_feature_hashing_stays_jvm(spark):
    """Hashing-trick contract: md5 bucket assignment and both audits are
    pure JVM expressions with partial aggregation; one scan."""
    plan = _physical(spark, "tx32_feature_hashing")
    assert plan.count("FileScan") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr15_effective_diameter_constant_tail(spark):
    """Effective-diameter contract: after the hyperball rounds, the
    cutoff is a per-radius sum + constant-size pivot — no cartesian, all
    partial aggregates, JVM only."""
    plan = _physical(spark, "gr15_effective_diameter")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x38_ab_test_single_pass(spark):
    """A/B contract: the whole report reduces to ONE aggregate over the
    per-user facts (4 integers), then a constant projection."""
    plan = _physical(spark, "x38_ab_test")
    assert plan.count("FileScan") == 1
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx33_zipf_take_ordered_not_global_sort(spark):
    """Zipf contract: the top-K cut is TakeOrderedAndProject (heap +
    driver merge of K rows), never a global Sort over the vocabulary."""
    plan = _physical(spark, "tx33_zipf_fit")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts17_diversity_pairs_broadcast(spark):
    """Diversity contract: the result-set pair table broadcasts into its
    vector-fetch joins — the corpus is never shuffled on a pair key; no
    cartesian anywhere."""
    plan = _physical(spark, "ts17_topk_diversity")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq11_expectations_one_scan(spark):
    """Expectations contract: every rule folds into ONE partial-
    combinable aggregate over ONE scan; the per-rule rows come from a
    constant stack."""
    plan = _physical(spark, "dq11_expectations")
    assert plan.count("FileScan") == 1
    assert "partial_" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr16_assortativity_single_reduce(spark):
    """Assortativity contract: one degree aggregate, equi-join
    enrichments, one global 6-sum reduce — no cartesian, no Python."""
    plan = _physical(spark, "gr16_assortativity")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr16_degree_lookups_broadcast(spark):
    """graph/degrees.degree_assortativity broadcasts both node-sized
    degree lookups onto the edge stream: two BroadcastHashJoins, no
    SortMergeJoin (the edge list itself never shuffles for them)."""
    plan = _physical(spark, "gr16_assortativity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_x39_ring_broadcasts(spark):
    """Ring contract: the N*V vnode table rides broadcast nested-loop
    joins — keys are never shuffled by ring position; per-key routing
    partial-aggregates."""
    plan = _physical(spark, "x39_consistent_hashing")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_sk10_bloom_word_table_broadcasts(spark):
    """Bloom-FPR contract: the <= m/60-row word table broadcasts into
    the probe join; bit positions stay JVM expressions."""
    plan = _physical(spark, "sk10_bloom_fpr")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts18_cascade_no_cartesian_broadcast_router(spark):
    """Cascade contract: the fallback query set broadcasts (anti/semi
    routing), both branches keep their own join shapes, no cartesian."""
    plan = _physical(spark, "ts18_ann_cascade")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm13_frame_zcr_single_arrow_stage_after_synth(spark):
    """Frame-ZCR contract: exactly two Arrow stages (synth + decode/
    features); samples never leave Python row-wise."""
    plan = _physical(spark, "mm13_frame_zcr")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


# --- round-6 first batch ---------------------------------------------------


def test_mm14_jpeg_two_arrow_stages(spark):
    """JPEG round-trip contract: exactly two Arrow stages (synth encode +
    decode/stats); payload bytes never cross row-wise Python."""
    plan = _physical(spark, "mm14_jpeg_roundtrip")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_mm15_trim_two_arrow_stages(spark):
    plan = _physical(spark, "mm15_wav_silence_trim")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_gr17_adamic_adar_wedge_join_shapes(spark):
    """Link-prediction contract: degree cap broadcasts onto the edge list,
    wedge + anti joins stay hash joins (no cartesian), the score agg is
    partial (map-side combine), zero Python."""
    plan = _physical(spark, "gr17_adamic_adar")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts19_centroid_stats_partial_aggs_no_python(spark):
    """Centroid contract: posexplode feeds a partial-combinable agg —
    no joins at all, no Python; the whole job is scan -> explode ->
    two-level agg."""
    plan = _physical(spark, "ts19_centroid_stats")
    assert "partial_sum" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq12_split_balance_broadcast_dims(spark):
    """Balance contract: the three total frames (splits, strata, corpus)
    broadcast back onto the cell counts — dimension-sized, never
    shuffled; the lone crossJoin is the 1-row corpus total."""
    plan = _physical(spark, "dq12_split_balance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 second batch ----------------------------------------------------


def test_tx34_novelty_two_gram_shuffles_no_python(spark):
    """Novelty contract: gram-keyed groupBy + rejoin, partial aggs,
    zero Python."""
    plan = _physical(spark, "tx34_ngram_novelty")
    assert "partial_min" in plan or "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan


def test_x40_skyline_windows_not_join(spark):
    """Skyline contract: the sort-scan formulation — window functions,
    NO join at all (the textbook NOT EXISTS dominance would be a
    quadratic self-join)."""
    plan = _physical(spark, "x40_skyline_2d")
    assert "Window" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr18_lcc_oriented_wedges_partial_aggs(spark):
    plan = _physical(spark, "gr18_clustering_coeff")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm16_gini_two_arrow_stages(spark):
    plan = _physical(spark, "mm16_pixel_gini")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_x41_nucleus_partial_token_counts(spark):
    """Nucleus contract: token counting partial-aggregates before the
    (grp, tok) shuffle; the window runs on the vocab-sized table."""
    plan = _physical(spark, "x41_nucleus_coverage")
    assert "partial_count" in plan
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 third batch -----------------------------------------------------


def test_tx35_burstiness_partial_aggs_takeordered(spark):
    """Burstiness contract: both aggs partial-combine; the top-k head is
    TakeOrdered, never a global sort."""
    plan = _physical(spark, "tx35_term_burstiness")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts20_matryoshka_both_arms_broadcast(spark):
    """Both ranking arms broadcast the query side; no cartesian."""
    plan = _physical(spark, "ts20_matryoshka_recall")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_sk11_minhash_signature_single_agg(spark):
    """Mergeable-sketch contract: the 8-permutation signature computes
    as ONE hash aggregate over the hashed grams (partial min columns),
    and the group-pair comparison is a broadcast."""
    plan = _physical(spark, "sk11_minhash_lang_sim")
    assert "partial_min" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm17_blockiness_two_arrow_stages(spark):
    plan = _physical(spark, "mm17_jpeg_blockiness")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_dq13_burden_hash_keyed_no_python(spark):
    plan = _physical(spark, "dq13_duplicate_burden")
    assert "partial_min" in plan or "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan


# --- round-6 fourth batch ----------------------------------------------------


def test_rel33_sweep_one_window_no_python(spark):
    """Concurrency contract: the sweep is windows over the grp key —
    no self-join of intervals (the quadratic formulation)."""
    plan = _physical(spark, "rel33_max_concurrency")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x43_wmedian_frequency_table_first(spark):
    """Weighted-median contract: values collapse to a (grp, value)
    weight table via a partial agg BEFORE the cumulative window."""
    plan = _physical(spark, "x43_weighted_median")
    assert "partial_sum" in plan
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x44_join_card_never_executes_the_join(spark):
    """Estimator-audit contract: the exact size comes from per-key
    COUNT tables joined key-to-key — the fact tables themselves never
    join row-to-row (no join output scales with |A join B|)."""
    plan = _physical(spark, "x44_join_card_estimate")
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm18_gain_two_arrow_stages(spark):
    plan = _physical(spark, "mm18_gain_normalization")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_tx36_confusion_broadcast_totals(spark):
    plan = _physical(spark, "tx36_langid_confusion")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 fifth batch -----------------------------------------------------


def test_tx37_fertility_vocab_broadcast(spark):
    """Fertility contract: the Heaps-bounded vocab broadcasts onto the
    corpus token stream; aggs partial-combine."""
    plan = _physical(spark, "tx37_bpe_fertility")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x45_bitmap_lag_window_no_python(spark):
    plan = _physical(spark, "x45_bitmap_estimate")
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_td13_locality_counts_not_pairs(spark):
    """Locality contract: pair counts derive from group sizes — the
    plan is chained aggs, no self-join of members (no pair blowup)."""
    plan = _physical(spark, "td13_shard_dup_locality")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr19_rich_club_broadcast_thresholds(spark):
    """Rich-club contract: degree dims and the k-threshold table
    broadcast; one pass over the annotated edges."""
    plan = _physical(spark, "gr19_rich_club")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 sixth batch -----------------------------------------------------


def test_ts21_sweep_no_cartesian_three_arms(spark):
    plan = _physical(spark, "ts21_nprobe_sweep")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_sk12_cms_grids_broadcast(spark):
    """CMS contract at every width: the (row, bucket) grid broadcasts
    onto the probes; the build agg partial-combines."""
    plan = _physical(spark, "sk12_cms_error_sweep")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx38_garbage_pure_codegen(spark):
    """Garbage heuristics are regex/HOF projections — no join, no
    window, no Python."""
    plan = _physical(spark, "tx38_garbage_score")
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm19_corr_two_arrow_stages(spark):
    plan = _physical(spark, "mm19_channel_correlation")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_dq14_drift_one_scan_per_slice(spark):
    plan = _physical(spark, "dq14_expectation_drift")
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan


# --- round-6 seventh batch ---------------------------------------------------


def test_gr20_modularity_no_cartesian_persisted_edges(spark):
    plan = _physical(spark, "gr20_modularity")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # canonical edges persisted once
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel35_growth_rollup_then_tiny_window(spark):
    """MoM contract: the window (lag) runs AFTER the monthly rollup —
    over the dimension-sized month table, not the fact rows."""
    plan = _physical(spark, "rel35_period_growth")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts22_drift_single_agg_pivot_no_join(spark):
    """Drift contract: the a/b pivot is a conditional max inside ONE
    aggregate — the two halves never join."""
    plan = _physical(spark, "ts22_centroid_drift")
    assert "Join" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq15_key_discovery_partial_distincts(spark):
    plan = _physical(spark, "dq15_key_discovery")
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x46_ndv_sample_filter_in_scan_stage(spark):
    """NDV-audit contract: the md5-bucket sample predicate evaluates in
    the scan-side projection/filter (no join to build the sample)."""
    plan = _physical(spark, "x46_ndv_estimate_audit")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 eighth batch ----------------------------------------------------


def test_mm20_shot_lengths_arrow_then_windows(spark):
    """Shot contract: one Arrow frame stage, then JVM windows/aggs —
    the segmentation never re-enters Python."""
    plan = _physical(spark, "mm20_shot_lengths")
    assert plan.count("MapInPandas") == 1
    assert "Window" in plan
    assert "EvalPython" not in plan


def test_sk13_histq_bounded_windows(spark):
    """Histogram-quantile contract: cumulative windows run over
    bin-sized tables (the partial agg collapses rows first)."""
    plan = _physical(spark, "sk13_histq_error_sweep")
    assert "partial_count" in plan
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts23_pq_codebook_broadcast(spark):
    plan = _physical(spark, "ts23_pq_utilization")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x47_lift_single_sort_windows(spark):
    plan = _physical(spark, "x47_decile_lift")
    assert "Window" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel36_cycle_freq_table_before_window(spark):
    """Cycle-time contract: the (month, days) frequency table collapses
    BEFORE the cumulative window — the window never sees fact rows."""
    plan = _physical(spark, "rel36_cycle_time")
    assert "partial_count" in plan
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 ninth batch -----------------------------------------------------


def test_td14_agreement_cluster_local_pairs(spark):
    """Agreement contract: exact pairs enumerate inside fp clusters
    (hash join on fp), LSH side is the banded path — no cartesian."""
    plan = _physical(spark, "td14_dedupe_agreement")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x48_movers_takeordered(spark):
    plan = _physical(spark, "x48_top_movers")
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel37_paths_user_window_then_agg(spark):
    plan = _physical(spark, "rel37_top_paths")
    assert "Window" in plan
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm21_motion_single_arrow_stage(spark):
    plan = _physical(spark, "mm21_frame_motion")
    assert plan.count("MapInPandas") == 1
    assert "EvalPython" not in plan


def test_tx40_hapax_two_chained_aggs(spark):
    plan = _physical(spark, "tx40_hapax_ratio")
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-6 tenth batch -----------------------------------------------------


def test_gr21_edge_support_oriented_persisted(spark):
    plan = _physical(spark, "gr21_edge_support")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # canonical edges persisted once
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq16_id_gaps_distinct_before_window(spark):
    """Gap contract: the lag window runs on the DISTINCT id table."""
    plan = _physical(spark, "dq16_id_gaps")
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts24_norm_profile_codegen_fold_no_python(spark):
    """Norm contract: the quantized fold is a codegen HOF; one agg."""
    plan = _physical(spark, "ts24_norm_profile")
    assert "Join" not in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_td15_weights_hash_join_back(spark):
    plan = _physical(spark, "td15_soft_dedupe_weights")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_mm22_crest_metric_jvm_side(spark):
    """Crest contract: ONE Arrow stage per synth/decode pair; the crest
    arithmetic itself is a JVM projection over the stats columns."""
    plan = _physical(spark, "mm22_crest_factor")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


# --- round-7 first batch ------------------------------------------------


def test_mm23_color_jpeg_two_arrow_stages(spark):
    """Color-codec contract: exactly two Arrow stages (synth color encode
    + decode/stats); JPEG bytes never cross row-wise Python."""
    plan = _physical(spark, "mm23_jpeg_color_roundtrip")
    assert plan.count("MapInPandas") == 2
    assert "EvalPython" not in plan


def test_td16_sweep_persisted_grams_broadcast_pairs(spark):
    """Sweep contract: the gram stream persists ONCE and feeds both the
    signature and exact arms; the 40-doc pair frame is a broadcast, never
    a cartesian of shingles."""
    plan = _physical(spark, "td16_minhash_error_sweep")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # K-row signature cross
    assert "partial_" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx41_rank_stability_bounded_heap_then_windows(spark):
    """Rank-stability contract: per-half term counts partial-aggregate
    map-side; the top-200 cut is a TakeOrdered heap (never a
    vocabulary-wide sort); both rank windows run over the 200-row frame."""
    plan = _physical(spark, "tx41_rank_stability")
    assert "partial_" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ts25_covariance_one_generate_one_agg(spark):
    """Covariance contract: one posexplode into 63-per-row long form,
    one partially-aggregated groupBy(dim); no join, no Python."""
    plan = _physical(spark, "ts25_dim_covariance")
    assert "Generate" in plan
    assert "partial_" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_x49_bootstrap_partial_aggs_tiny_broadcasts(spark):
    """Bootstrap contract: the B=32 explode partially aggregates map-side
    (weights are per-row deterministic — no resample pass); the lo/hi
    order statistics ride 1-row broadcasts."""
    plan = _physical(spark, "x49_poisson_bootstrap")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row lo/hi frames
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-7 second batch ------------------------------------------------


def test_x50_ks_integer_core_single_value_window(spark):
    """KS contract: per-value counts partial-aggregate; the cumulative
    window runs over the DISTINCT-value table; totals ride a 1-row
    broadcast; the integer max precedes the only division."""
    plan = _physical(spark, "x50_ks_test")
    assert "partial_" in plan
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals frame
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tx42_js_pair_grid_broadcast(spark):
    """JS contract: term tables partial-aggregate; the |langs|^2 pair
    grid and per-side count lookups are broadcasts, never a shuffle of
    the vocabulary per pair."""
    plan = _physical(spark, "tx42_js_divergence")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr22_assortativity_persisted_edges_broadcast_degrees(spark):
    """Assortativity contract: the edge list persists once (degrees +
    the annotated join both consume it); the degree table broadcasts to
    both sides; moment sums partial-aggregate."""
    plan = _physical(spark, "gr22_assortativity")
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_td17_truncation_blocked_equi_join(spark):
    """Truncation-dupe contract: candidates come from a hash equi-join
    on the 32-char block key — never a cartesian of documents; the
    substring verification is a post-join filter."""
    plan = _physical(spark, "td17_truncation_dupes")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_rel38_twa_one_window_one_agg(spark):
    """TWA contract: one lead() window per (user, day), one partially-
    aggregated groupBy; no join anywhere."""
    plan = _physical(spark, "rel38_time_weighted_avg")
    assert "Window" in plan
    assert "partial_" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


# --- round-7 third batch -------------------------------------------------


def test_x51_two_phase_no_global_sort(spark):
    """Exact-quantile contract: phase-1 histogram and phase-2 per-value
    counts are partial aggregates; the target-bucket frame is a
    broadcast; the only window runs inside the 3 located buckets — no
    whole-table Sort node anywhere."""
    plan = _physical(spark, "x51_exact_quantiles")
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_gr23_inequality_vertex_scaled_windows(spark):
    """Degree-inequality contract: ranks come from windows over the NODE
    table (after the per-customer count collapses orders), and the
    moment sums are one partially-aggregated pass."""
    plan = _physical(spark, "gr23_degree_inequality")
    assert "Window" in plan
    assert "partial_" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dq17_freshness_single_pass_broadcast_hwm(spark):
    plan = _physical(spark, "dq17_freshness_lag")
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row high-water mark
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan

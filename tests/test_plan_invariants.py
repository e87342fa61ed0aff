"""Physical-plan invariants: the scale properties SCALE.md promises, asserted
against the executed plans so perf regressions fail loudly.

These run at sf0.001 — plan SHAPE is what matters, not data volume (AQE may
swap join strategies by size; the asserts below only pin properties that are
scale-invariant: pushdown, agg mode, absence of sorts/windows/extra parses).
"""

import io
import contextlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.plans import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _own_ops(spark, name: str) -> list:
    """Node names of the query's OWN executing operators. Unlike the
    treeString (which renders every referenced InMemoryRelation's cached
    build plan inline, so substrate internals pollute counting assertions
    whenever an earlier test materialized a shared substrate), this walks
    the actual operator tree, whose InMemoryTableScan nodes are leaves."""
    df = QUERIES[name](spark, SF_DIR)
    names = []

    def walk(n):
        names.append(n.nodeName())
        if n.nodeName() == "AdaptiveSparkPlan":
            walk(n.initialPlan())
            return
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return names


def _formatted(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_decode_parses_json_once(spark):
    """The JSON-or-literal decode must evaluate from_json exactly once per
    record (regression: the naive when/otherwise shape evaluated it 3x)."""
    plan = _plan(spark, "sink_literal_fallback")
    assert plan.count("from_json") == 1, plan.count("from_json")


def test_replay_is_partial_agg_not_window(spark):
    """Final-state replay is a max_by aggregation with MAP-SIDE PARTIAL
    combine (shuffle carries one candidate row per key per task), not a
    window over every write. Struct-payload max_by buffers aren't
    hash-aggregable, so Spark plans SortAggregate — the partial combine is
    the scale property, the local sort is per-partition and spillable."""
    for name in ("sink_upsert_replay", "sink_null_to_unset"):
        plan = _plan(spark, name)
        assert "Window" not in plan, name
        assert "partial_max_by" in plan, name


def test_timeuuid_invariants_cache_nothing(spark):
    """The invariants query computes its four counters in ONE aggregate, so
    the Arrow timeuuid pass runs once with nothing cached: forcing it leaves
    the CacheManager empty, and the plain sink_now_timeuuid query (same
    plan below the aggregate) is never served from a cached copy."""
    from kafka_sink_spark import substrates

    substrates.clear_all()
    df = QUERIES["sink_now_timeuuid_invariants"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    plain = QUERIES["sink_now_timeuuid"](spark, SF_DIR)
    optimized = plain._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in optimized


def test_q6_filters_pushed_and_pruned(spark):
    fmt = _formatted(spark, "q6_forecast_revenue")
    assert "PushedFilters" in fmt
    # projection pruning: unused wide columns never reach the scan
    assert "l_returnflag" not in fmt.split("ReadSchema")[1].split("\n")[0]


def test_q1_partial_aggregation(spark):
    """Scan-heavy agg must combine map-side (partial_ functions in plan)."""
    plan = _plan(spark, "q1_pricing_summary")
    assert "partial_sum" in plan or "partial" in plan


def test_topk_uses_group_limit_or_take_ordered(spark):
    """Per-key top-k gets WindowGroupLimit pushdown; global top-k plans
    TakeOrderedAndProject — neither does a full sort of all rows."""
    topk = _plan(spark, "events_topk_per_user")
    assert "WindowGroupLimit" in topk
    q3 = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in q3


def test_text_profile_no_shuffle(spark):
    """Document profiling is scan → project only."""
    plan = _plan(spark, "text_profile")
    assert "Exchange" not in plan


def test_no_cartesian_products(spark):
    """Candidate generation (LSH/IVF) must never plan a cartesian product —
    except the intentional broadcast of tiny query/centroid sets."""
    for name in ("dedup_minhash_pairs", "embedding_cosine_neardup"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_q19_disjunction_pushed_to_scan(spark):
    """The OR-of-ANDs predicate must reach the part scan via CNF extraction
    (single-side conjuncts below the join, residual Or in PushedFilters)."""
    fmt = _formatted(spark, "q19_disjunctive_revenue")
    pushed = [l for l in fmt.splitlines() if "PushedFilters" in l]
    assert any("Or(" in l and "p_brand" in l for l in pushed), pushed


def test_q21_decorrelates_to_semi_and_anti(spark):
    """EXISTS / NOT EXISTS must plan as left-semi / left-anti joins on the
    correlation key — never a per-row subquery rescan."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan, "EXISTS did not become a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS did not become an anti join"


def test_q16_anti_join_and_distinct(spark):
    """NOT IN over a non-null key set must plan as an anti join (broadcast at
    this size), and the COUNT(DISTINCT) must go through partial aggregation."""
    plan = _plan(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in plan
    assert "partial" in plan


def test_q13_preserves_outer_join(spark):
    """The customer-retention histogram needs the null-extended rows: the
    left outer join must survive optimization (not degrade to inner)."""
    plan = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_q8_no_cartesian_and_pruned(spark):
    """8-way join: no cartesian products; lineitem scan reads only the five
    columns the query needs."""
    plan = _plan(spark, "q8_market_share")
    assert "CartesianProduct" not in plan
    fmt = _formatted(spark, "q8_market_share")
    li_read = [l for l in fmt.splitlines() if "ReadSchema" in l and "l_partkey" in l]
    assert li_read and "l_tax" not in li_read[0] and "l_comment" not in li_read[0]


def test_q17_preagg_joined_not_rescanned(spark):
    """The per-part average must be computed ONCE as a pre-aggregate and
    joined back — exactly one aggregate over lineitem quantities (plus the
    final one-row sum), never a per-row correlated rescan."""
    plan = _plan(spark, "q17_small_quantity_revenue")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_has_no_join_node(spark):
    """The as-of join compiles to union + running window — ONE shuffle on the
    key, no join operator of any kind (the range-join formulation would plan
    a nested-loop). This is the whole point of operators/temporal.py."""
    plan = _plan(spark, "events_asof_attribution")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node
    assert "Window" in plan
    assert plan.count("Exchange") <= 2  # one per union branch at most


def test_range_join_is_equi_not_nested_loop(spark):
    """The band join must execute as an equi join on the bucket id — never a
    BroadcastNestedLoopJoin/CartesianProduct over the raw inequality."""
    plan = _plan(spark, "events_value_band_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(n in plan for n in
               ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))


def test_stratified_sample_uses_group_limit(spark):
    """The per-stratum rank filter must push into WindowGroupLimit so map
    tasks keep only their local top-cap rows before the shuffle."""
    plan = _plan(spark, "docs_sample_stratified")
    assert "WindowGroupLimit" in plan


def test_pack_sequences_single_shuffle(spark):
    """Concat-and-chunk packing is one hash-partition on lang + in-partition
    sort — exactly one Exchange in the plan."""
    plan = _plan(spark, "docs_pack_sequences")
    assert plan.count("Exchange") == 1


def test_kmv_production_path_uses_group_limit(spark):
    """The estimate-only KMV path (with_exact=False) must plan a
    WindowGroupLimit: per-task state is O(k), not O(distinct)."""
    from pyspark.sql import functions as F
    from kafka_sink_spark.extensions.sketch import kmv_distinct
    from kafka_sink_spark.session import load_tables

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    est = kmv_distinct(docs, ["lang"], F.col("text"), k=16, with_exact=False)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_kmv_headline_is_sketch_path(spark):
    """The REGISTERED shingle_kmv_estimate query must run the production
    sketch path: WindowGroupLimit in the plan (O(k) per-task state), and no
    full-distinct-set retention."""
    plan = _plan(spark, "shingle_kmv_estimate")
    assert "WindowGroupLimit" in plan


def test_q20_nested_in_becomes_semi_joins(spark):
    """Both nested IN subqueries must decorrelate to left-semi joins (the
    inner part filter and the outer aggregate-HAVING set)."""
    plan = _plan(spark, "q20_part_suppliers")
    assert plan.count("LeftSemi") >= 2, plan.count("LeftSemi")
    assert "CartesianProduct" not in plan


def test_q22_anti_join_with_broadcast_scalar(spark):
    """NOT EXISTS plans as a left-anti join; the global positive-balance
    aggregate joins as a broadcast single row (the only nested-loop allowed
    is that one-row cross join)."""
    plan = _plan(spark, "q22_global_sales")
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_knn_lsh_is_equi_bucket_join(spark):
    """LSH ANN must join on the bucket id (equi), never score the full
    query × corpus cross product."""
    plan = _plan(spark, "knn_lsh")
    assert "CartesianProduct" not in plan
    assert any(n in plan for n in
               ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))


def test_geo_wkt_single_projection_no_shuffle(spark):
    """C15 validated passthrough is part of the one mapping projection —
    scan → project, no Exchange."""
    plan = _plan(spark, "sink_geo_wkt")
    assert "Exchange" not in plan


def test_scrub_is_single_projection(spark):
    """PII scrubbing is scan → project (chained regexp_replace in codegen) —
    no Exchange, no UDF."""
    plan = _plan(spark, "text_scrub_pii")
    assert "Exchange" not in plan
    assert "Python" not in plan  # no fallback to python UDF eval


def test_repetition_stats_partial_aggs(spark):
    """Bigram mode: both aggregations combine map-side; the join back to word
    stats must not be a cartesian product."""
    plan = _plan(spark, "text_repetition_stats")
    assert "partial" in plan
    assert "CartesianProduct" not in plan


def test_top_terms_df_join_pinned_shuffle(spark):
    """tf/df ranking: the document-frequency side is one row per distinct
    term — vocabulary grows unboundedly with the corpus AND the key is a
    string, the class the r13 sf30 ladder showed AQE mis-sizing into
    driver-OOM broadcasts.  Pinned shuffle_hash; never a broadcast, at
    any vocabulary size."""
    analyzed = _analyzed(spark, "corpus_top_terms")
    assert analyzed.count("ResolvedHint") == 1
    plan = _plan(spark, "corpus_top_terms")
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_joins_pinned_shuffle(spark):
    """Decontamination (r12 verdict #1, then revised by the r13 sf30
    ladder): the benchmark shingle set and the per-bench-doc counts grow
    linearly with the corpus (~1/97 of it), so no BROADCAST hint is
    allowed (r6 rule) — but leaving them fully unhinted is not safe
    either: at sf30 AQE's compressed-size estimate put the string-heavy
    shingle side under the 64 MB threshold while the driver-side
    broadcast build blew past maxResultSize (1 GB).  Both joins are
    therefore PINNED shuffle_hash, the excision dup-set discipline."""
    analyzed = _analyzed(spark, "contamination_overlap")
    assert analyzed.count("ResolvedHint") == 2  # the two shuffle pins
    plan = _plan(spark, "contamination_overlap")
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_staged_aggs_no_window(spark):
    """Funnel stages are keyed partial aggregates + equi-joins — never a
    window over the full event stream, never a cartesian; min() combines
    map-side so each stage's shuffle carries one row per user per task."""
    plan = _plan(spark, "events_funnel_conversion")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan


def test_quantile_profile_one_window_pruned_scan(spark):
    """Exact quantiles use ONE window pass per partition column (row_number
    and the partition count share the same Window frame) and prune the scan
    to the 4 participating columns."""
    plan = _plan(spark, "lineitem_quantile_profile")
    assert plan.count("Window") == 1, plan.count("Window")
    assert "CartesianProduct" not in plan
    fmt = _formatted(spark, "lineitem_quantile_profile")
    read = fmt.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in read and "l_returnflag" in read
    assert "l_shipdate" not in read and "l_quantity" not in read


def test_centroids_partial_agg_before_shuffle(spark):
    """The x64 posexplode must combine map-side: the exchange carries
    |labels| x dims rows per task, not the exploded corpus — partial_sum /
    partial_count in the plan, and no window or cartesian."""
    plan = _plan(spark, "embedding_label_centroids")
    assert "partial_sum" in plan and "partial_count" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_temperature_resample_broadcasts_caps(spark):
    """The per-language cap aggregate (|langs| rows) joins back via
    broadcast; the corpus side shuffles once for the rank window."""
    plan = _plan(spark, "docs_temperature_resample")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_is_anti_join(spark):
    """Incremental dedup is a left-anti equi-join on the fingerprint —
    no window, no cartesian."""
    plan = _plan(spark, "dedup_incremental")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_df_pruned_pairs_equi_join_no_cartesian(spark):
    """Candidate generation self-joins the pruned inverted index on the
    shingle hash (equi); the only nested-loop is the single-row corpus-count
    scalar broadcast. Pair counts combine map-side."""
    plan = _plan(spark, "dedup_df_pruned_pairs")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_pivot_single_pass(spark):
    """Explicit pivot values keep the pivot a single aggregation pass — no
    values-discovery collect, no extra shuffle beyond the groupBy."""
    plan = _plan(spark, "events_pivot_daily")
    assert "CartesianProduct" not in plan
    assert "partial" in plan  # map-side combine of the pivot aggregates


def test_rolling_window_one_window_node(spark):
    """All three rolling aggregates (sum/count/max) share ONE Window node
    over one shuffle on user_id; the ROWS frame is bounded."""
    plan = _plan(spark, "events_rolling_window")
    assert plan.count("Window") == 1
    assert "RowFrame, -3, currentrow" in plan  # bounded ROWS frame


def test_cube_partial_aggregation(spark):
    """CUBE expands grouping sets BEFORE the aggregate — partial combine
    still applies, so the shuffle carries subtotal cells, not raw events."""
    plan = _plan(spark, "events_cube_rollup")
    assert "Expand" in plan  # grouping-set expansion operator
    assert "partial" in plan
    assert "CartesianProduct" not in plan


def test_ntile_single_window_shared_key(spark):
    """ntile + the follow-up aggregate share one shuffle key (event_type);
    exactly one Window node."""
    plan = _plan(spark, "events_value_ntile")
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_range_window_single_node(spark):
    """The RANGE-interval frame plans one Window node with a RangeFrame —
    monotonic bound advance per partition, no extra shuffle."""
    plan = _plan(spark, "events_range_window")
    assert plan.count("Window") == 1
    assert "RangeFrame" in plan


def test_unpivot_is_expand_no_shuffle(spark):
    """UNPIVOT is a pure per-row Expand — no Exchange in the plan."""
    plan = _plan(spark, "lineitem_unpivot_components")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_gopher_filter_projection_only_no_shuffle(spark):
    """The Gopher quality filter is staged codegen projections over one
    pruned scan — zero exchanges, zero windows, embarrassingly parallel."""
    plan = _plan(spark, "docs_gopher_filter")
    assert "Exchange" not in plan
    assert "Window" not in plan
    fmt = _formatted(spark, "docs_gopher_filter")
    read = fmt.split("ReadSchema")[1].split("\n")[0]
    assert "n_chars" not in read  # unused column pruned from the scan


def test_bigram_lift_partial_aggs_no_cartesian(spark):
    """Collocation mining: bigram/unigram counts are partial-aggregated
    map-side; vocab joins are equi-joins; the only cross join is the
    single-row total broadcast; the top-k is TakeOrdered (distributed),
    never a single-partition global Window."""
    plan = _plan(spark, "corpus_bigram_lift")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_dedup_survivors_anti_join(spark):
    """Near-dup removal ends in a LeftAnti join of the loser set against the
    corpus — no cartesian anywhere in the (iterative) pipeline."""
    plan = _plan(spark, "dedup_survivors")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_retention_broadcasts_base_and_partial_aggs(spark):
    """Cohort retention: first-seen and cell aggregations are partial
    (map-side combined); the week-0 base table joins broadcast; no
    cartesian products."""
    plan = _plan(spark, "events_retention_cohorts")
    assert "partial_min" in plan or "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_broadcast_codebook_partial_argmin(spark):
    """PQ encoding joins the corpus against a BROADCAST codebook; the
    per-(vector, subspace) argmin is a partial-aggregated min(struct);
    no cartesian product anywhere."""
    plan = _plan(spark, "knn_pq")
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_repeated_spans_hash_keyed_no_cartesian(spark):
    """Substring-dedup: shuffle keys are 60-bit hashes (the span strings
    never cross a shuffle boundary raw); aggregations partial-combine;
    no cartesian products."""
    plan = _plan(spark, "docs_repeated_spans")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_market_basket_order_keyed_join_no_cartesian(spark):
    """Basket pairs come from an equi-join on l_orderkey (work bounded by
    basket size squared, never corpus squared); counts partial-combine; the
    only broadcast-nested-loop is the single-row total."""
    plan = _plan(spark, "orders_market_basket")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_source_report_partial_agg_small_keyspace(spark):
    """The composed curation report's final aggregation partial-combines on
    the tiny (source, lang) key space; the doc_id joins are equi-joins."""
    plan = _plan(spark, "corpus_source_report")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_rfm_no_window_no_global_sort(spark):
    """RFM segmentation must stay threshold-based: one partial-combined
    groupBy(user) + broadcast reference — NO Window (global ntile would
    single-partition-sort every user)."""
    plan = _plan(spark, "events_user_rfm")
    assert "Window" not in plan
    assert "partial_max" in plan or "partial_count" in plan


def test_bpe_pairs_partial_count_takeordered(spark):
    """BPE pair counting partial-combines map-side and ends in a
    distributed TakeOrdered, not a global sort."""
    plan = _plan(spark, "corpus_bpe_pair_counts")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_dau_wau_no_theta_join(spark):
    """WAU coverage is an exploded bounded fan-out + broadcast equi-join
    against the observed-day set — never a BETWEEN theta join (which would
    plan BroadcastNestedLoopJoin over the full distinct-activity table)."""
    plan = _plan(spark, "events_dau_wau")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_engagement_matrix_full_outer_shared_key(spark):
    """The FULL OUTER engagement join runs on the user_id key both
    aggregates already shuffled on — SortMergeJoin FullOuter, no cartesian,
    no extra exchange beyond the two aggregate shuffles."""
    plan = _plan(spark, "events_engagement_matrix")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan.count("Exchange hashpartitioning")


def test_markov_one_window_shuffle_broadcast_totals(spark):
    """Transition mining: one Window for the per-user sequence plus one
    for row-normalization over the tiny aggregated type-pair table —
    crucially NOT a join back (which would recompute the sequence subplan
    twice); partial-combined counts; no cartesian, no join at all."""
    plan = _plan(spark, "events_markov_transitions")
    assert plan.count("Window") == 2
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_pq_trained_broadcast_centroids_no_cartesian(spark):
    """Trained-PQ: every Lloyd round joins corpus components against a
    BROADCAST centroid table; the argmin is a partial-aggregated
    min(struct); no cartesian product and no global (non-windowed) sort
    anywhere in the fit."""
    plan = _plan(spark, "knn_pq_trained")
    assert plan.count("BroadcastHashJoin") >= 3  # 2 Lloyd rounds + encode/ADC
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_maximal_spans_windows_keyed_by_doc(spark):
    """Gaps-and-islands runs one window keyed on doc_id (per-doc sort,
    spillable) — never a global single-partition sort; the duplicate-set
    join is hash-keyed."""
    plan = _plan(spark, "docs_maximal_spans")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_gopher_repetition_codegen_shape(spark):
    """The nine gram sizes come from one positioned-token explode + one
    doc-keyed window of leads + a plain codegen projection — exactly two
    Generate nodes (posexplode, gram unpivot), no 9-pass union, counts
    partial-combine, shuffle rows carry hashes (no raw gram strings), and
    no cartesian product."""
    plan = _plan(spark, "docs_gopher_repetition")
    assert plan.count("Generate") == 2, plan.count("Generate")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_stream_twins_shared_user_key(spark):
    """The streaming twins shuffle on user_id only: session_window merges
    per key; the interval join is an equi-join with a range predicate —
    no nested-loop/cartesian fallback."""
    for name in ("stream_sessionize_twin", "stream_interval_join_twin"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ivf_trained_broadcast_training_cell_bucketed(spark):
    """Trained-IVF: Lloyd rounds join corpus against BROADCAST centroids;
    the candidate join is cell-keyed (equi), never cartesian."""
    plan = _plan(spark, "knn_ivf_trained")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_value_outliers_broadcast_stats_no_window(spark):
    """Exact 3-sigma flags: one partial agg on event_type, broadcast stats
    join back, pure projection — no window, no second shuffle of events."""
    plan = _plan(spark, "events_value_outliers")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_two_level_broadcast_no_cartesian(spark):
    """IVF-PQ: the trained index (coarse codebook, cell assignment, residual
    codebook, code table) is a persisted session substrate (r14) — the query
    plan reads it as InMemoryTableScans and keeps the query-side probe/ADC
    path broadcast-joined (probes, centroids, ADC table); no cartesian
    product anywhere. The TRAINING shape (broadcast centroid joins +
    partial-aggregated min(struct) argmin) is pinned on an uncached replica
    of the build lineage, since the cached index hides it from the query
    plan by design."""
    plan = _plan(spark, "knn_ivf_pq")
    assert "InMemoryTableScan" in plan  # the trained-index substrate
    assert plan.count("BroadcastHashJoin") >= 4  # query-side probe/ADC path
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    from kafka_sink_spark.extensions import similarity
    from kafka_sink_spark.session import load_tables

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    comp1 = similarity.component_rows(emb, 1, 64)
    cent = similarity.lloyd_codebook(comp1, 8, 1)
    assign = similarity._pq_argmin(similarity._pq_distances(comp1, cent))
    p2 = assign._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in p2  # argmin partial-combines
    assert "BroadcastHashJoin" in p2  # corpus x broadcast centroids
    assert "CartesianProduct" not in p2


def test_ivfpq_index_and_bm25_substrates_memoize_per_session(spark):
    """r14 substrate caches: the trained IVF-PQ index and the two BM25
    scored tables are built once per (session, inputs) and the memo returns
    the SAME persisted frames on every subsequent call — a different index
    hyperparameter must miss the cache. Keys include applicationId, so
    nothing leaks across Spark sessions or bench invocations."""
    from kafka_sink_spark.extensions import similarity
    from kafka_sink_spark.plans.analytics_fusion import _bm25_posting_scored
    from kafka_sink_spark.plans.analytics_retrieval import _bm25_scored
    from kafka_sink_spark.session import load_tables

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    a = similarity._ivfpq_index(emb, 8, 8, 16, 64, 2, 1, "embedding")
    b = similarity._ivfpq_index(emb, 8, 8, 16, 64, 2, 1, "embedding")
    assert all(x is y for x, y in zip(a, b))  # cache hit: identical frames
    c = similarity._ivfpq_index(emb, 4, 8, 16, 64, 2, 1, "embedding")
    assert c[1] is not a[1]  # different n_centroids: distinct index
    # cdists is the persisted anchor; cells/codes are cheap derived argmins
    # (deliberately unpersisted — see _ivfpq_index)
    assert a[2].storageLevel.useMemory or a[2].storageLevel.useDisk

    s1 = _bm25_scored(spark, SF_DIR)
    assert _bm25_scored(spark, SF_DIR) is s1
    assert s1.storageLevel.useMemory or s1.storageLevel.useDisk
    p1 = _bm25_posting_scored(spark, SF_DIR)
    assert _bm25_posting_scored(spark, SF_DIR) is p1
    assert p1.storageLevel.useMemory or p1.storageLevel.useDisk


def test_lloyd_fit_and_trained_distances_memoize_per_session(spark):
    """Batch-L substrate caches: the seeded Lloyd fit and its corpus ×
    codebook distance table are built once per (session, comp plan, K,
    iterations) and shared by every consumer of the identical fit
    (knn_ivf_trained, dedup_semantic, embedding_residual_vq stage 1, the
    IVF-PQ coarse stage). Different K or iterations must miss the cache;
    keys include applicationId so nothing crosses sessions or bench
    invocations. The fit is seeded + integer-exact, so sharing cannot
    change any query's rows."""
    from kafka_sink_spark.extensions import similarity
    from kafka_sink_spark.session import load_tables

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    comp = similarity.component_rows(emb, 1, 64)
    f1 = similarity.lloyd_codebook(comp, 8, 2)
    assert similarity.lloyd_codebook(comp, 8, 2) is f1  # cache hit
    assert similarity.lloyd_codebook(comp, 8, 1) is not f1  # iters miss
    assert similarity.lloyd_codebook(comp, 4, 2) is not f1  # K miss
    assert f1.storageLevel.useMemory or f1.storageLevel.useDisk

    d1 = similarity.trained_distances(comp, 8, 2)
    assert similarity.trained_distances(comp, 8, 2) is d1
    assert d1.storageLevel.useMemory or d1.storageLevel.useDisk
    # the distance substrate rides the memoized fit, and the IVF-PQ index's
    # cdists anchor is the SAME frame when hyperparameters match
    idx = similarity._ivfpq_index(emb, 8, 8, 16, 64, 2, 1, "embedding")
    assert idx[2] is d1


def test_dsir_and_shingle_substrates_memoize_per_session(spark):
    """Batch-K substrate caches: the DSIR model fit (per-(doc,feature)
    counts + ratio table) and the distinct-shingle posting table are built
    once per (session, inputs) and the memo returns the SAME persisted
    frames on every subsequent call. Keys include applicationId (DSIR keys
    additionally on the docs plan), so nothing leaks across Spark sessions
    or bench invocations."""
    from kafka_sink_spark.plans.analytics_assoc import _distinct_shingles
    from kafka_sink_spark.plans.analytics_corpus import _dsir_substrate
    from kafka_sink_spark.session import load_tables

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    pd1, r1 = _dsir_substrate(docs)
    pd2, r2 = _dsir_substrate(docs)
    assert pd2 is pd1 and r2 is r1  # cache hit: identical frames
    assert pd1.storageLevel.useMemory or pd1.storageLevel.useDisk
    assert r1.storageLevel.useMemory or r1.storageLevel.useDisk

    sh1 = _distinct_shingles(spark, SF_DIR)
    assert _distinct_shingles(spark, SF_DIR) is sh1
    assert sh1.storageLevel.useMemory or sh1.storageLevel.useDisk


def test_language_id_bounded_fanout_no_global_sort(spark):
    """Cavnar–Trenkle language ID: profile ranks come from doc-/lang-keyed
    windows (never a single-partition global sort); the candidate fan-out
    is the 5-row broadcast langs table; counts partial-combine."""
    plan = _plan(spark, "docs_language_id")
    assert "partial_count" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_containment_pruned_candidates_hash_keyed(spark):
    """Containment near-dup: candidates come from the df-pruned posting
    self-join (equi on h, never cartesian); the exact intersection joins
    candidates against the posting table on (doc, h); set sizes
    partial-combine. No cartesian; the only single-partition exchange is
    the 1-row corpus-count scalar (broadcast back, same shape as
    dedup_df_pruned_pairs)."""
    plan = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    # a global sort would add another single-partition exchange; the only
    # ones allowed are the two stages of the 1-row n_docs scalar agg
    assert plan.count("SinglePartition") <= 2


def _analyzed(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().analyzed().toString()


def test_no_forced_broadcast_of_sf_scaling_tables(spark):
    """SCALE.md rule, re-asserted after VERDICT r6: broadcast() HINTS bypass
    autoBroadcastJoinThreshold at ANY size, so only constant-size inputs
    (nation/region, single-row aggregates) may carry one. customer /
    supplier / part / per-partkey aggregates grow with SF — their joins
    must stay unhinted so AQE broadcasts them while small and degrades to
    shuffle joins at 100 TB instead of OOMing. The expected counts below
    are exactly the allowed constant-size hints per query; adding a hint
    to an SF-scaling input raises the count and fails here."""
    expected = {
        "q3_shipping_priority": 0,
        "q5_local_supplier_volume": 2,   # region→nation, nation→supplier
        "q7_nation_volume": 2,           # the two nation roles
        "q10_returned_items": 1,         # nation
        "q14_promo_revenue": 0,
        "q17_small_quantity_revenue": 0,
        "q18_large_orders": 0,
        "q19_disjunctive_revenue": 0,
        "q8_market_share": 1,            # nation⋈region EUROPE keys
        "q9_product_profit": 0,
        "q16_supplier_part_counts": 0,
        "q22_global_sales": 1,           # single-row global-average scalar
    }
    for name, n_hints in expected.items():
        analyzed = _analyzed(spark, name)
        assert analyzed.count("ResolvedHint") == n_hints, (
            name, analyzed.count("ResolvedHint"), n_hints
        )


def test_r13_audited_broadcast_hint_counts(spark):
    """r13 full audit of the catalog's F.broadcast sites against the r6
    constant-size rule (r12 verdict ask #1).  Five corpus-/SF-scaling
    hints were removed: the bigram-type probability table
    (docs_lm_predictability), Apriori candidates under absolute minsup
    (orders_itemset_triples), the bloom-membership truth labels
    (lineitem_bloom_fpr — the fixed KxM BITS broadcast stays), the
    customer dimension (stream_enrich_twin), and the supplier side
    (supplier_revenue_hhi — nation + 25-row per-nation totals stay).
    The counts below are exactly the surviving constant-/cluster-bounded
    hints; adding a hint to a scaling input raises a count and fails."""
    expected = {
        # 2 = the shuffle_hash pins on the string-keyed vocabulary-scaling
        # sides (sf30 lesson: AQE mis-sizes string-heavy sides into
        # driver-OOM broadcasts; a shuffle pin is the opposite of the
        # banned broadcast hint) — the scoring join (r13) plus the
        # marginal join pc x mc (r14 sweep)
        "docs_lm_predictability": 2,
        "orders_itemset_triples": 0,
        "lineitem_bloom_fpr": 2,       # KxM bits + 1-row bits_set scalar
        "supplier_revenue_hhi": 2,     # 25-row nation totals + nation
        "corpus_top_terms": 1,  # shuffle pin on the string-keyed df side
        # 2 = the shuffle_hash PINS on the corpus-scaling shingle joins
        # (the r13 sf30 catch: AQE mis-sizes string-heavy sides into
        # driver-OOM broadcasts) — shuffle pins are the opposite of the
        # banned broadcast hints.
        "contamination_overlap": 2,
        "docs_decontaminate_report": 2,
        "stream_enrich_twin": 0,
        # Misra-Gries candidates are <= K x partitions (cluster-bounded,
        # not corpus-bounded) + the 1-row total scalar — both sanctioned.
        "corpus_heavy_hitters": 2,
    }
    for name, n_hints in expected.items():
        analyzed = _analyzed(spark, name)
        assert analyzed.count("ResolvedHint") == n_hints, (
            name, analyzed.count("ResolvedHint"), n_hints
        )


def test_exact_dedup_semi_join_unhinted(spark):
    """exact_dedup's keep-set scales with the corpus: the semi join must
    carry no broadcast hint (VERDICT r6 flagged the forced corpus-sized
    broadcast) and still plan as a LeftSemi equi-join."""
    from kafka_sink_spark.extensions.dedup import exact_dedup
    from kafka_sink_spark.session import load_tables

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    out = exact_dedup(docs)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_welch_single_fact_scan(spark):
    """lineitem_welch_ttest reduces both price populations in ONE
    conditional aggregate — a second lineitem scan (the r7 draft's R/A
    self-join) would double the fact cost at scale."""
    plan = _plan(spark, "lineitem_welch_ttest")
    assert plan.count("Scan parquet") == 1


def test_drift_probes_share_one_events_scan(spark):
    """events_value_drift_tvd checkpoints its 32-row histogram so the
    four readout branches do not re-derive the events scan; the
    Wasserstein probe shares the same discipline."""
    for name in ("events_value_drift_tvd", "events_wasserstein_drift"):
        plan = _plan(spark, name)
        # stats pass + bucketize pass read events; the checkpointed grid
        # serves every downstream branch
        assert plan.count("Scan parquet") <= 2, name
        assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, name


def test_new_graph_queries_ride_pruned_or_oriented_substrates(spark):
    """parts_link_prediction / parts_jaccard_similarity must enumerate on
    the support-pruned graph (measured: Σd² collapses ~3·10⁸ → ~10⁴ at
    sf0.1) and keep the catalog-sized degree joins unhinted."""
    for name in ("parts_link_prediction", "parts_jaccard_similarity"):
        df = QUERIES[name](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------------------------------
# Global (unpartitioned) window hygiene — the full-catalog sweep
# --------------------------------------------------------------------------

# Every batch query allowed to plan an unpartitioned Window, with the
# boundedness argument for ITS window inputs.  Two shapes are sanctioned:
#   limit  — the window sits above TakeOrderedAndProject / GlobalLimit, so
#            its input is capped at k rows regardless of data scale (the
#            audit treats these as safe automatically; entries are listed
#            here only when the limit is not on the window's input spine).
#   grid   — the window runs over a BOUNDED derived table whose
#            cardinality saturates with a value domain / constant, never
#            the raw row count (measured at sf0.001 vs sf0.01 vs sf0.1 in
#            the round-8 audit; plans/prefix.py is the shared idiom).
# A query with a global window that is neither limit-shaped nor listed
# here fails the sweep — new queries must either restructure or document
# their bound by adding an entry.
ALLOWED_UNPARTITIONED_WINDOWS = {
    # rank/quantile grids bounded by constants or value domains
    "corpus_rank_biased_overlap": "depth-D dyadic rank grid (<=31+16 rows)",
    "corpus_vocab_growth": "10-slice growth grid",
    "corpus_zipf_alpha": "31-row octave (floor-log2 rank) grid",
    "customer_decile_lift": "$10k spend-bucket grid (domain-saturating)",
    "docs_spearman_rho": "sampled term grid (constant sample size)",
    "events_bootstrap_ci": "B-replicate grid (B=40 constant)",
    "events_mean_excess": "unit-bucket value-domain grid (plans/prefix.py)",
    "events_theil_sen_trend": "day-pair grid (calendar-bounded)",
    "events_wasserstein_drift": "16-bucket drift grid",
    "lineitem_abc_xyz": "$10 revenue-bucket grid (domain-saturating)",
    "lineitem_gini_split": "31-row split grid",
    "lineitem_histogram_quantiles": "1024-bucket histogram grid",
    "lineitem_ks_test": "50-row KS grid",
    "lineitem_price_gini": "1024-bucket histogram grid",
    "lineitem_sampled_quantile_error": "$10-bucket price-domain grid (plans/prefix.py); sample windows are limit-shaped",
    "customer_calibration_bins": "$10k spend-bucket grid (plans/prefix.py)",
    "customer_rfm_segments": "3 bounded grids: week/count/$10k (plans/prefix.py)",
    "lineitem_shipping_hazard": "calendar-bounded week-bucket delay grid (plans/prefix.py)",
    "orders_abc_classification": "$10 revenue-bucket grid (domain-saturating)",
    "orders_mann_whitney": "$1000-bucket price-domain grid (plans/prefix.py)",
    "orders_open_backlog": "day grid (calendar-bounded)",
    "orders_seasonal_strength": "day grid (calendar-bounded)",
    "orders_weekday_profile": "day grid (calendar-bounded)",
    "parts_price_size_skyline": "per-partition-pruned skyline candidates",
    "parts_rich_club": "degree-threshold grid",
    "supplier_winsorized_balance": "$100-bucket balance-domain grid (plans/prefix.py)",
    "supplier_lorenz_curve": "$10k-cent revenue-bucket grid (plans/prefix.py)",
    "docs_unimax_budget": "|sources|-bounded waterfilling rank/prefix grid",
    "events_t_closeness": "bit-length band grid (<=64 rows, value-domain-bounded)",
    "lineitem_conformal_interval": "$1000-bucket score-domain grid (plans/prefix.py)",
}

# Operators whose output cardinality is bounded by a constant k — a Window
# directly above one is safe regardless of scan size.
_LIMITING = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit")


def _walk_plan(node):
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _walk_plan(node.executedPlan())
        return
    if "QueryStage" in name:
        yield from _walk_plan(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk_plan(children.apply(i))


def _has_limit_on_spine(node):
    """True if the window input's cardinality is capped by a limiting
    operator before any unbounded source: walk down, stopping at the
    first limiting node; recurse into every child otherwise."""
    name = node.nodeName()
    if any(name.startswith(p) for p in _LIMITING):
        return True
    children = node.children()
    if children.size() == 0:
        return False
    return all(
        _has_limit_on_spine(children.apply(i)) for i in range(children.size())
    )


def test_every_unpartitioned_window_is_sanctioned(spark):
    """Catalog-wide sweep: an unpartitioned Window funnels its whole input
    through ONE task, so every one must be limit-shaped (top-k) or run on
    a documented bounded grid.  This is the invariant behind the round-8
    audit that restructured the ladder queries onto plans/prefix.py."""
    offenders = {}
    stale_allowance = set(ALLOWED_UNPARTITIONED_WINDOWS)
    for name in sorted(QUERIES):
        if name.startswith("stream_"):
            continue  # twins execute streams on build; audited separately
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan()
        for node in _walk_plan(plan):
            if node.nodeName() in ("Window", "WindowGroupLimit") and (
                node.partitionSpec().isEmpty()
            ):
                if _has_limit_on_spine(node.children().apply(0)):
                    continue
                if name in ALLOWED_UNPARTITIONED_WINDOWS:
                    stale_allowance.discard(name)
                    continue
                offenders.setdefault(name, 0)
                offenders[name] += 1
    assert not offenders, (
        "unsanctioned unpartitioned windows (restructure via "
        f"plans/prefix.py or document the bound): {offenders}"
    )
    assert not stale_allowance, (
        "allowance entries with no remaining unpartitioned window — "
        f"prune them: {sorted(stale_allowance)}"
    )


def test_span_excision_hash_shuffles_no_cartesian(spark):
    """Span excision (12a): duplicate-set detection and coverage joins are
    hash-keyed — no cartesian, no unpartitioned window; the final per-doc
    rollup combines map-side (partial_count), and the documents scan reads
    only the three needed columns."""
    plan = _plan(spark, "docs_span_excision")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan
    fmt = _formatted(spark, "docs_span_excision")
    assert "n_chars" not in fmt and "lang" not in fmt.split("PushedFilters")[0]


def test_line_dedup_window_is_hash_partitioned(spark):
    """Line dedup (12a): the occurrence-rank window partitions by the
    60-bit line hash (never a global sort), and line STRINGS are hashed
    before the exchange — only hashes and char counts shuffle."""
    plan = _plan(spark, "docs_line_dedup")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # the hash is projected (_w0) and the exchange feeding the window is
    # keyed on it — never on the raw line string, never unpartitioned
    assert "hashpartitioning(_w0" in plan, plan


def test_classifier_single_pass_partial_combine(spark):
    """Quality classifier (12a): one explode → one per-doc rollup with
    map-side combine; the weight table is arithmetic on the bucket id, so
    there must be no extra join, window, or cartesian anywhere."""
    for name in ("docs_quality_classifier", "docs_classifier_keep_rate"):
        plan = _plan(spark, name)
        assert "partial_count" in plan, name
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Join" not in plan, name


def test_signal_agreement_bounded_grid_no_cartesian(spark):
    """Quality-signal agreement (12c): three doc-keyed joins of per-doc
    aggregates onto a bounded 41-cell score grid — no cartesian.  The one
    sanctioned BroadcastNestedLoopJoin is the KN chain's 1-row totals
    broadcast (the same node the certified docs_kn_bigram_nll plans);
    counted over the query's OWN operators (_own_ops) because the KN/
    classifier substrates, once cached by an earlier test, render their
    build plans inline in the treeString — duplicating that sanctioned
    node in the string without executing it here."""
    plan = _plan(spark, "docs_quality_signal_agreement")
    assert "CartesianProduct" not in plan
    assert _own_ops(spark, "docs_quality_signal_agreement").count(
        "BroadcastNestedLoopJoin"
    ) <= 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_k_sweep_bounded_union_no_cartesian(spark):
    """k-sweep (12d): a 3-branch union over a constant grid — bounded plan,
    hash-keyed joins only, partial combines on every rollup."""
    plan = _plan(spark, "docs_excision_k_sweep")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_dup_set_joins_never_broadcast(spark):
    """The excision-family duplicate sets scale with the corpus (they ARE
    the boilerplate census), so the hx-keyed coverage joins must shuffle
    on the hash — a broadcast there OOMs the driver at 100x (caught live
    by the sf10 ladder on the 3-branch k-sweep).  Key-specific per the
    r12 ADVICE: asserting 'some shuffle join exists' would stay green if
    the hx join itself regressed to a broadcast while another join in the
    plan shuffled, so every hx-keyed join is checked by its key."""
    import re

    min_hx_joins = {
        "docs_span_excision": 1,
        "docs_excision_k_sweep": 3,  # one per k branch in the union
        "docs_quality_signal_agreement": 1,
    }
    for name, n_min in min_hx_joins.items():
        plan = _plan(spark, name)
        assert not re.search(r"BroadcastHashJoin \[hx#", plan), name
        shuffled = re.findall(r"(?:ShuffledHashJoin|SortMergeJoin) \[hx#", plan)
        assert len(shuffled) >= n_min, (name, len(shuffled), n_min)


def test_excision_coverage_join_never_broadcast(spark):
    """The covered-position set approaches EVERY token position on a
    boilerplate-heavy corpus, so the (doc_id, pos) join back to the token
    table must never build a broadcast — the r13 sf30 ladder caught AQE
    OOMing the driver on exactly that (invisible at sf10).  Pinned
    sort-merge (both sides corpus-sized; spills instead of holding the
    coverage census in a hash map)."""
    import re

    for name in ("docs_span_excision", "docs_sanitize_pipeline"):
        plan = _plan(spark, name)
        assert not re.search(
            r"BroadcastHashJoin \[doc_id#\d+L?, pos#", plan
        ), name
        assert re.search(r"SortMergeJoin \[doc_id#\d+L?, pos#", plan), name


def test_web_funnel_composition_adds_no_hints(spark):
    """The r13 composed web-pipeline funnel joins six certified per-doc
    frames on doc_id: the composition itself must add NO hints — the only
    eight in the analyzed plan are the substrates' own sanctioned ones (the
    excision dup-set shuffle_hash from the r12 sf10 OOM fix, the excision
    coverage-join merge pin and the two decon shuffle pins from the r13
    sf30 OOM fixes, the KN chain's 1-row total broadcast, and — r14 audit —
    the three shuffle pins on the KN chain's vocabulary-scaling count
    tables tr/mc/cw).  No cartesians, hx join still shuffled, rollups
    partial-combined."""
    import re

    for name in ("pipeline_web_curation_report", "pipeline_web_stage_ladder"):
        analyzed = _analyzed(spark, name)
        assert analyzed.count("ResolvedHint") == 8, (
            name, analyzed.count("ResolvedHint")
        )
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert not re.search(r"BroadcastHashJoin \[hx#", plan), name
        assert "partial_count" in plan, name


def test_web_ladder_single_aggregate_constant_rows(spark):
    """The stage ladder reduces the per-doc spine to ONE 1-row aggregate
    then stacks a constant 6 rows — the generator (stack) must sit above
    the final single-partition aggregate, never over a corpus-sized
    input."""
    plan = _plan(spark, "pipeline_web_stage_ladder")
    assert "Generate stack" in plan or "stack(" in plan
    assert "partial_sum" in plan


def test_decontaminate_joins_pinned_shuffle(spark):
    """Decontaminate (12f): the DF cap bounds per-shingle fan-out but the
    pruned bench side still grows linearly with the corpus, and the r13
    sf30 ladder showed AQE mis-sizing the string-heavy shingle side into
    a driver-OOM broadcast — so the rare-shingle and bn joins are PINNED
    shuffle_hash (never a broadcast, hinted or AQE-chosen)."""
    analyzed = _analyzed(spark, "docs_decontaminate_report")
    assert analyzed.count("ResolvedHint") == 2  # the two shuffle pins
    plan = _plan(spark, "docs_decontaminate_report")
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_r14_audited_shuffle_pins(spark):
    """r14 catalog-wide sweep for the r13 trap class (AQE mis-sizing
    string-heavy corpus-/vocabulary-scaling shuffle sides into driver-OOM
    broadcasts: compressed stats under-measure replicated text ~20x).
    Every UNPINNED join whose build side is string-keyed AND grows with
    the corpus got a shuffle_hash pin this round:

    - the KN LM count tables tr/mc/cw (+tr3/mc3) joined against held-out
      token/bigram/trigram streams (analytics_weblm: bigram, 2x trigram,
      unigram sites) — raw word keys, the most compressible class;
    - the mirror-detection fingerprint joins (hf x rare and the bounded
      self-join) — md5-hex keys, ~2-3x compressible + UTF8String overhead;
    - the minhash-LSH band self-join (extensions/dedup.lsh_candidate_pairs)
      — md5-hex band_hash, both sides corpus-scaling;
    - the tf-idf / keyness / lift / skipgram / RAKE / Burrows-delta /
      OOV vocabulary joins (paths, tails, quality, frontier, insights,
      profiles, dispersion) and the lm_predictability marginal join
      (corpus:509) — raw word keys.

    Audited and left UNPINNED as bounded-by-construction (documented in
    SCALE.md r14): corpus_rank_biased_overlap's full-outer join of two
    top-D lists; corpus_heavy_hitters' Misra-Gries candidate broadcast
    (<= K x partitions, cluster-bounded); the hybrid-RRF fusion join of
    two <= topK lists on a long key; docs_burrows_delta's top-terms
    panel broadcast (fixed panel size).

    The counts are exact: adding or dropping a hint anywhere in these
    lineages fails the test and forces re-adjudication."""
    import re

    expected = {
        "docs_kn_bigram_nll": 4,         # 3 pins + 1-row tot broadcast
        "docs_kn_perplexity_filter": 4,  # 3 pins + 1-row tot broadcast
        "docs_kn_trigram_nll": 6,        # 5 pins + 1-row tot broadcast
        "docs_kn_order_gain": 10,        # bigram 4 + trigram 6 lineages
        "docs_kn_unigram_nll": 2,        # cw pin + 1-row tot broadcast
        "docs_mirror_detection": 3,      # rare pin + self-join pin + pair
        "dedup_minhash_pairs": 1,        # band self-join pin
        "dedup_minhash_band_tuning": 3,  # one band pin per band config
        "dedup_minhash_accuracy": 2,     # band pin + truth-side pin
        "docs_oov_rate": 1,              # vocab membership pin
        "docs_keyword_topk": 2,          # df pin + 1-row n broadcast
        "corpus_keyness_g2": 4,          # gt pin + rt/nt 1-row broadcasts
        "corpus_bigram_lift": 3,         # 2 ucnt pins + 1-row tot
        "corpus_skipgram_cooccurrence": 4,  # 2 u pins + 2 1-row scalars
        "docs_keyphrase_rake": 5,        # word_stats pin + stops + scalars
        "docs_burrows_delta": 8,         # tc pin + top panel + scalars
    }
    for name, n_hints in expected.items():
        analyzed = _analyzed(spark, name)
        assert analyzed.count("ResolvedHint") == n_hints, (
            name, analyzed.count("ResolvedHint"), n_hints
        )
    # Key-specific: no broadcast build on any scaling string key in the
    # physical plans — the exact failure mode the sf30 ladder caught.
    for name, keys in {
        "docs_kn_bigram_nll": ("w1#", "w2#"),
        "docs_kn_trigram_nll": ("w1#", "w2#", "w3#"),
        "docs_kn_unigram_nll": ("tok#",),
        "docs_mirror_detection": ("fingerprint#",),
        "dedup_minhash_pairs": ("band_hash#",),
        "docs_oov_rate": ("term#",),
        "docs_keyword_topk": ("term#",),
        "corpus_bigram_lift": ("w1#", "w2#"),
        "corpus_skipgram_cooccurrence": ("term_a#", "term_b#"),
        "docs_lm_predictability": ("w1#", "w2#"),
    }.items():
        plan = _plan(spark, name)
        for key in keys:
            assert not re.search(
                r"BroadcastHashJoin \[" + re.escape(key), plan
            ), (name, key)

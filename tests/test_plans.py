"""Physical-plan assertions (SURVEY.md 4.2): the scale-critical
properties — pushdown, pruning, broadcast, top-k — must be visible in
the executed plan, not assumed."""

from pypiper_spark.registry import all_queries

QS = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _df_plan(df) -> str:
    """Plan of a raw (unregistered) frame — used for the ANN top-k
    internals, whose registered forms wrap a decision summary (the
    wrapper adds intentional 1-row broadcast cross joins that would
    trip the nested-loop pins here)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_pruned_to_two_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_projection_pushdown")
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_filter_pushdown")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_quantity" in pushed[0], plan


def test_broadcast_join_broadcasts_the_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_multiway_join_has_no_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_multiway")
    assert "NestedLoop" not in plan


def test_multiway_join_aggregates_below_the_joins(spark, sf_dir):
    # eager-aggregation rewrite: lineitem must collapse to per-order
    # partial sums BEFORE any join (the 60M-row exchange becomes a
    # 15M-row one at the 100x corpus), so a partial_sum hash aggregate
    # has to appear in the plan in addition to the final agg
    plan = _plan(spark, sf_dir, "q_join_multiway")
    assert "partial_sum" in plan or "partial_count" in plan, plan[:3000]


def test_multiway_join_reads_raw_facts_not_bucketed_twins(spark, sf_dir):
    """Round-5 negative result, pinned: the bucketed-fact route
    (orderkey-bucketed catalog twins; deletes both fact-side
    exchanges, 5 -> 3) measured 1.3-1.6x SLOWER warm than the shipped
    eager-agg shape at the 100x corpus on local[32], plus a 21 s
    ingest (clean fresh-process A/B x3 runs: eager-agg 4.6-5.4 s,
    bucketed-SMJ 7.1-7.4 s, bucketed-SHJ 6.7-6.8 s — BENCH.md r5,
    tools/experiment_multiway_bucketed.py). This guard asserts the
    query kept the winning shape: raw parquet fact scans (no bucketed
    catalog twin in the plan) and the eager-agg pushdown."""
    plan = _plan(spark, sf_dir, "q_join_multiway")
    assert "partial_sum" in plan or "partial_count" in plan, plan[:3000]
    assert "pypiper_b_" not in plan, plan[:3000]


def test_shipping_priority_filters_customer_via_semi_join(spark, sf_dir):
    # customer contributes only its segment filter — it must ride a
    # LeftSemi (keys only, no customer row widths in the plan) and the
    # top-10 must stay TakeOrderedAndProject
    plan = _plan(spark, sf_dir, "q_shipping_priority")
    assert "LeftSemi" in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_theta_join_is_banded_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_theta_range")
    assert "NestedLoop" not in plan, "banded theta join must not fall back to BNLJ"


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_flagship_partial_aggregates_and_codegen(spark, sf_dir):
    df = QS["q_pricing_summary"].fn(spark, sf_dir)
    pre = df._jdf.queryExecution().executedPlan().toString()
    # map-side combine: the shuffle carries aggregation state, not rows
    assert "partial_sum" in pre
    df.collect()  # finalize the adaptive plan
    post = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen stages in plan strings
    assert "*(" in post, post[:2000]


def test_in_subquery_rewrites_to_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_subquery_in")
    assert "LeftSemi" in plan, plan[:2000]


def test_exists_subquery_rewrites_to_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_subquery_exists")
    assert "LeftSemi" in plan, plan[:2000]


def test_not_in_is_hash_anti_join_not_bnlj(spark, sf_dir):
    # the explicit anti-join rewrite must keep a hash join; SQL NOT IN
    # would degrade to a null-aware broadcast-nested-loop
    plan = _plan(spark, sf_dir, "q_subquery_not_in")
    assert "LeftAnti" in plan, plan[:2000]
    assert "NestedLoop" not in plan, plan[:2000]


def test_scalar_subquery_broadcasts_the_aggregate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_subquery_scalar")
    assert "Broadcast" in plan, plan[:2000]


def test_argmax_is_single_shuffle_aggregate_not_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_agg_argmax")
    assert "partial_max" in plan, plan[:2000]  # map-side combine of the struct
    assert "Window" not in plan, plan[:2000]   # no sort-the-rows plan


def test_promo_revenue_broadcasts_part_and_pushes_month_filter(spark, sf_dir):
    # part joins UNHINTED (SF-scaled side): the broadcast below is the
    # planner's size-based choice at test scale, not a forced hint —
    # the same plan degrades to a shuffle join once part outgrows the
    # 64 MB threshold, which is the scale-correct behavior.
    plan = _plan(spark, sf_dir, "q_promo_revenue")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "l_shipdate" in l]
    assert pushed, plan[:2000]


def test_custdist_aggregates_orders_before_the_outer_join(spark, sf_dir):
    # the shuffle must carry one row per customer (partial counts),
    # never the raw orders
    plan = _plan(spark, sf_dir, "q_custdist")
    assert "partial_count" in plan, plan[:2000]


def test_order_priority_exists_is_semi_join_with_residual(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_order_priority")
    assert "LeftSemi" in plan, plan[:2000]
    assert "NestedLoop" not in plan, plan[:2000]


def test_returned_revenue_is_topk_over_broadcast_joins(spark, sf_dir):
    # customer is unhinted — at test scale the planner still picks a
    # broadcast join (size-based), so the assertion checks the
    # planner's choice rather than a forced hint.
    plan = _plan(spark, sf_dir, "q_returned_revenue")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_disjunctive_join_stays_a_hash_join(spark, sf_dir):
    # OR-of-conjuncts across join sides must ride the partkey equi
    # join as a residual, not degrade to a nested loop
    plan = _plan(spark, sf_dir, "q_disjunctive_join")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "NestedLoop" not in plan, plan[:2000]


def test_dormant_customers_not_exists_is_anti_join(spark, sf_dir):
    # NOT EXISTS must be a broadcast-hash LeftAnti; the one-row scalar
    # average legitimately joins as a single-row broadcast nested loop
    # (O(n) with a build side of 1), so no blanket NestedLoop ban here
    plan = _plan(spark, sf_dir, "q_dormant_customers")
    assert "LeftAnti" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_nation_volume_broadcasts_every_dimension(spark, sf_dir):
    # n1/n2 carry hints (25 rows by construction); supplier/customer
    # are unhinted and the planner must still CHOOSE broadcast at test
    # scale — ≥4 broadcast joins proves the size-based path works
    # without pinning SF-scaled tables behind hard hints.
    plan = _plan(spark, sf_dir, "q_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]


def test_timeseries_resample_is_single_shuffle_mapside_agg(spark, sf_dir):
    # OHLC via min_by/max_by must stay a partial+final hash aggregate
    # (one shuffle of pre-combined group state), never a window sort
    plan = _plan(spark, sf_dir, "q_timeseries_resample")
    assert "partial_min" in plan or "partial_min_by" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]


def test_timeseries_gapfill_joins_by_hash_not_nested_loop(spark, sf_dir):
    # calendar x daily is an equi join on (user, day); the explode runs
    # AFTER the per-user aggregate so only dim-sized data multiplies
    plan = _plan(spark, sf_dir, "q_timeseries_gapfill")
    assert "NestedLoop" not in plan, plan[:2000]
    assert "Generate explode" in plan or "Generate" in plan, plan[:2000]


def test_rollup_cascade_avoids_count_distinct_expand(spark, sf_dir):
    # active_hours comes free as a count of hourly rows; the plan must
    # be two plain hash aggregates, never the distinct-agg Expand the
    # raw-scan formulation would need
    plan = _plan(spark, sf_dir, "q_timeseries_rollup_cascade")
    assert "Expand" not in plan, plan[:2000]
    assert plan.count("Exchange") == 2, plan[:2000]


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """The o_orderpriority filter must land in PartitionFilters (whole
    directories skipped), not PushedFilters (row-group skipping) — at
    100 TB that's the difference between listing 2/5 of the files and
    opening all of them."""
    plan = _plan(spark, sf_dir, "q_scan_partition_pruning")
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderpriority" in m.group(1), plan[:2000]


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed by the join key: the join must consume the
    bucketing directly — zero Exchange operators in the whole plan
    below the aggregation's own shuffle."""
    plan = _plan(spark, sf_dir, "q_join_bucketed")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    join_part = plan.split("HashAggregate")[-1]  # below the agg
    assert "Exchange" not in join_part, join_part[:2000]
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan[:2000]


def test_decontaminate_broadcasts_eval_shingles(spark, sf_dir):
    """The eval set is KBs against a TB-scale train corpus: the
    shingle semi-join must be a BroadcastHashJoin (corpus never
    shuffles on shingle)."""
    plan = _plan(spark, sf_dir, "q_decontaminate")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "LeftSemi" in plan, plan[:2000]


def test_chunk_overlap_is_shuffle_free(spark, sf_dir):
    """Chunking is per-row explode only — any Exchange would mean the
    1.33x-expanded corpus moves over the network for nothing."""
    plan = _plan(spark, sf_dir, "q_chunk_overlap")
    assert "Exchange" not in plan, plan[:2000]
    assert "Generate" in plan, plan[:2000]


def test_pii_redact_is_map_only_codegen(spark, sf_dir):
    """Regex redaction is a pure projection: no Exchange, and the
    regexp work must sit inside a whole-stage-codegen span."""
    plan = _plan(spark, sf_dir, "q_pii_redact")
    assert "Exchange" not in plan, plan[:2000]
    assert "*(" in plan, plan[:2000]


def test_repetition_filter_partial_aggregates(spark, sf_dir):
    """The (doc, bigram) count must combine map-side so the first
    shuffle carries one row per distinct pair, not one per token."""
    plan = _plan(spark, sf_dir, "q_text_repetition")
    assert "partial_count" in plan or "partial" in plan, plan[:2000]


def test_salted_join_replicates_right_and_stays_hash_join(spark, sf_dir):
    """Salting must show up as a Generate (right-side salt explode)
    feeding a hash join on (key, salt) — never a nested loop."""
    plan = _plan(spark, sf_dir, "q_join_skew_salted")
    assert "Generate" in plan, plan[:2000]
    assert "NestedLoop" not in plan, plan[:2000]
    assert "__salt" in plan, plan[:2000]


def test_lateral_join_decorrelates_to_hash_join(spark, sf_dir):
    """The LATERAL top-2 subquery must decorrelate into a window/hash
    plan — a per-row nested-loop re-execution would be O(n*m)."""
    plan = _plan(spark, sf_dir, "q_join_lateral")
    assert "NestedLoop" not in plan, plan[:2000]
    assert "Window" in plan or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]


def test_bitmap_distinct_has_no_expand(spark, sf_dir):
    # the whole point vs count(DISTINCT): no Expand node, two plain
    # hash aggregates over fixed-width bitmap state
    plan = _plan(spark, sf_dir, "q_bitmap_distinct")
    assert "Expand" not in plan, plan
    assert "HashAggregate" in plan


def test_ngram_jaccard_is_hash_join_with_partial_agg(spark, sf_dir):
    # candidates come from the token co-occurrence join (hash/SMJ on
    # the token key) with map-side partial aggregation of pair counts;
    # never a nested-loop pair enumeration (the 10x-measured trap)
    plan = _plan(spark, sf_dir, "q_dedup_ngram_jaccard")
    assert "NestedLoop" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_pq_ann_scans_embeddings_twice_at_most(spark, sf_dir):
    # one coded corpus scan for ALL probes (the ADC columns stack via
    # posexplode) plus the broadcast probe-vector scan; a per-probe
    # branch would show 1 + n_probes scans
    from pypiper_spark.queries.vectors import _sim_ann_pq_topk

    plan = _df_plan(_sim_ann_pq_topk(spark, sf_dir))
    assert "NestedLoop" not in plan, plan
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 2, f"expected <=2 embedding scans, saw {n_scans}\n{plan}"


def test_shuffle_hash_hint_forces_shuffled_hash_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_shuffle_hash")
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_sessionize_shares_one_sort_across_windows(spark, sf_dir):
    # lag-mark and running-sum use the same (partition, ordering), so
    # the plan must have exactly one Exchange and both Window nodes
    # pipelined over one sort
    plan = _plan(spark, sf_dir, "q_sessionize")
    assert plan.count("Exchange") <= 2, plan  # 1 + possible AQE read
    assert plan.count("Window") >= 2


def test_scd2_single_exchange_shared_by_both_window_passes(spark, sf_dir):
    """Both the change-detect (lag) and interval (lead/row_number)
    windows partition on user_id with the same ordering, so the whole
    query must be ONE hash exchange — a second exchange would mean
    Catalyst failed to reuse the partitioning across passes."""
    plan = _plan(spark, sf_dir, "q_scd2_dimension")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 2, plan


def test_zorder_layout_is_map_plus_two_aggregates(spark, sf_dir):
    """Bounds aggregate (1-row broadcast) + map-side interleave + final
    bucket aggregate. No per-row UDF (BatchEvalPython) and no join
    exchange beyond the bucket agg's — the bit-interleave must stay in
    codegen arithmetic."""
    plan = _plan(spark, sf_dir, "q_zorder_layout")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the 1-row bounds aggregate rides in as a broadcast cross join
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan, plan
    # bucket agg: exactly one hash-partition exchange (the groupBy),
    # with map-side partial aggregation below it
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan


def test_lm_perplexity_is_joinless_window_pipeline(spark, sf_dir):
    """The bigram model must never materialize as a joined table:
    c12/c1 are window counts over the shingle stream itself, so the
    only join in the plan is the 1-row vocabulary broadcast (a
    BroadcastNestedLoopJoin with a bounded build side). Two Window
    nodes, no equi join, no cache."""
    plan = _plan(spark, sf_dir, "q_lm_perplexity")
    assert plan.count("Window") == 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    # Exactly three hash exchanges: the bigram (w1) stream feeding BOTH
    # window nodes (ONE exchange — the single-stream-exchange ordering
    # llm_scoring.py documents; a regression to the two-exchange reverse
    # window order would make this 4), the vocab word aggregate, and the
    # final per-doc groupBy.
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_cdc_apply_is_one_exchange_no_join(spark, sf_dir):
    """Log compaction must be the single-shuffle window form: one hash
    exchange on the key + row_number, never the two-shuffle
    join-against-max-ts rewrite."""
    plan = _plan(spark, sf_dir, "q_cdc_apply")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_retention_has_no_self_join(spark, sf_dir):
    """Cohort day comes from a window MIN over the distinct-collapsed
    (user, day) set — the aggregate-then-join form would show a Join
    and an extra exchange for the same answer."""
    plan = _plan(spark, sf_dir, "q_events_retention")
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_boilerplate_grams_stay_in_codegen(spark, sf_dir):
    """8-gram construction (sequence/slice/array_join) must be plain
    codegen expressions — no Python eval — and the doc-frequency join
    a WINDOW COUNT over the gram partition, not a join back to a
    grouped document-frequency table: the DF table is
    corpus-cardinality, and at the 100x corpus the join-back form
    either OOMs (Catalyst picks broadcast off an underestimate;
    shuffle-hash exhausts its build maps) or pays a sort-merge.
    No Join node may appear — the count happens in place."""
    plan = _plan(spark, sf_dir, "q_text_boilerplate")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_mixture_temperature_window_runs_on_dim_sized_input(spark, sf_dir):
    """The unpartitioned normalizing window must sit ABOVE the source
    aggregate (dimension-sized input), i.e. the single-partition
    exchange feeds from the agg, and the corpus scan feeds a partial
    aggregate first."""
    plan = _plan(spark, sf_dir, "q_mixture_temperature")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_pagerank_iterations_reuse_cached_edges(spark, sf_dir):
    """All five unrolled rounds must read the persisted edge list
    (InMemoryTableScan — the plan string re-prints the cache's
    defining FileScan under each one, but execution reads the cache),
    and every round's join must be an equi join (no nested loop)."""
    plan = _plan(spark, sf_dir, "q_graph_pagerank")
    assert plan.count("InMemoryTableScan") >= 5, plan
    assert "NestedLoop" not in plan, plan


def test_skyline_windows_only_the_calendar_table(spark, sf_dir):
    """The 2-D skyline must collapse to per-day maxima BEFORE any
    window (partial_max under the day groupBy), run its one running-
    max window on that calendar-bounded table, and broadcast the
    thresholds back — never the quadratic NOT EXISTS self-join, and
    never an unpartitioned window over raw orders (the global-sort
    pinch)."""
    plan = _plan(spark, sf_dir, "q_skyline_orders")
    assert "partial_max" in plan, plan
    assert plan.count("Window") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_copurchase_join_is_colocated_hash_join(spark, sf_dir):
    """The basket self-join must be an equi join on the order key
    (bounded <= 21 pairs per order), never a nested loop, with the
    pair count map-side combined."""
    plan = _plan(spark, sf_dir, "q_copurchase_pairs")
    assert "NestedLoop" not in plan, plan
    assert "partial_count" in plan, plan


def test_event_transitions_normalizes_on_the_pair_table(spark, sf_dir):
    """One user-keyed window over events; the probability-normalizing
    window must sit above the pair aggregate (bounded |types|^2
    input), so exactly two Window nodes and no join."""
    plan = _plan(spark, sf_dir, "q_event_transitions")
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan, plan


def test_ab_test_collapses_before_any_float_math(spark, sf_dir):
    """Two map-side-combined aggregates (user flags, then arm totals);
    the z arithmetic runs on one row — no window, no join, and
    partial aggregation visible below the user collapse."""
    plan = _plan(spark, sf_dir, "q_ab_test_proportions")
    assert "partial_max" in plan or "partial_count" in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_profile_legs_are_pruned_and_expand_free(spark, sf_dir):
    """Each union leg must read exactly its one column (ReadSchema
    pruning) and no leg may carry an Expand — the multi-distinct
    wide-aggregate form Expands every row N+1 ways and measured 5x
    slower at the 100x corpus."""
    plan = _plan(spark, sf_dir, "q_profile_columns")
    assert "Expand" not in plan, plan
    assert "Union" in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(reads) == 4, plan
    for l in reads:
        struct = l.split("ReadSchema: struct<", 1)[1]
        assert "," not in struct.split(">", 1)[0], l  # one column per leg


def test_rolling_actives_explodes_collapsed_days_not_events(spark, sf_dir):
    """The 7x contribution explode must sit ABOVE the (user, day)
    distinct collapse (Expand/Generate over deduped rows, never raw
    events) and the only join is the 1-row bounds broadcast."""
    plan = _plan(spark, sf_dir, "q_rolling_active_users")
    assert "Generate explode" in plan, plan
    gen = plan.index("Generate explode")
    dedup_markers = [m for m in ("HashAggregate", "Deduplicate") if m in plan[gen:]]
    assert dedup_markers, plan  # the collapse feeds the explode
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row bounds
    assert "SortMergeJoin" not in plan, plan


def test_conversion_latency_collapses_both_sides_before_join(spark, sf_dir):
    """Signups aggregate to one row per user BEFORE joining purchases
    (partial_min below the join) — never an event x event join."""
    plan = _plan(spark, sf_dir, "q_conversion_latency")
    assert "partial_min" in plan, plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", ""), plan


def test_market_share_prunes_orders_via_semi_join_unhinted(spark, sf_dir):
    """Q8 shape: orders must be semi-pruned to the customer region
    (LeftSemi — keys only) BEFORE the fact join, and the SF-scaled
    legs must be UNHINTED (no forced broadcast of custkeys/suppliers:
    the 100x sweep caught the hinted form, BENCH.md r5). Broadcasts
    at test scale are the planner's size-based choice."""
    plan = _plan(spark, sf_dir, "q_market_share")
    assert "LeftSemi" in plan, plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]


def test_small_qty_revenue_reuses_partkey_partitioning(spark, sf_dir):
    """Q17 shape: the per-part (sum, count) aggregate and the
    following partkey join share the same key — the plan must not
    exchange lineitem more than twice (once per consumer subtree),
    and the correlated predicate must be the exact-integer
    cross-multiplied form (no avg() node feeding a filter)."""
    plan = _plan(spark, sf_dir, "q_small_qty_revenue")
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]
    assert "avg(" not in plan, plan[:3000]


def test_trigrams_stay_in_codegen(spark, sf_dir):
    """The zip-slice shingle build must not fall out of codegen into
    a Python evaluator (the interpreted-HOF 100x trap from r4)."""
    df = QS["q_text_trigrams"].fn(spark, sf_dir)
    df.collect()  # finalize the adaptive plan so codegen stages appear
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan[:2000]
    assert "*(" in plan, plan[:2000]


def test_referential_integrity_has_no_anti_join(spark, sf_dir):
    """r6 rewrite: orphan checking folds into the distinct-collapsing
    groupBy per edge — the r5 LeftAnti-per-edge shape (double key-set
    consumption) must stay gone. Companion to
    test_referential_integrity_broadcast_edges_no_shuffle_join."""
    plan = _plan(spark, sf_dir, "q_referential_integrity")
    assert "LeftAnti" not in plan, plan[:3000]


def test_forecast_revenue_is_joinless_pushed_scan(spark, sf_dir):
    """Q6 shape: the whole query is one pruned scan + global agg —
    no joins, no hash exchange (only the single-partition final-agg
    exchange), and the shipdate/quantity bounds reach the parquet
    scan as PushedFilters."""
    plan = _plan(spark, sf_dir, "q_forecast_revenue")
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 0, plan[:3000]
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0] and "l_quantity" in pushed[0], plan[:3000]


def test_min_cost_supplier_is_single_exchange_argmin(spark, sf_dir):
    """Q2 shape: the correlated-min collapses to ONE hash exchange —
    a groupBy(partkey) min(struct(...)) with map-side partial min —
    and never plans a Window (the row_number form would pay a second
    partkey exchange and a sort)."""
    plan = _plan(spark, sf_dir, "q_min_cost_supplier")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "partial_min" in plan, plan[:3000]


def test_product_profit_pushes_name_filter_to_part_scan(spark, sf_dir):
    """Q9 shape: the '%gear%' part filter must reach the part scan
    (StringContains pushdown) so the selective dim join prunes the
    fact rows before the orders join; nation broadcasts."""
    plan = _plan(spark, sf_dir, "q_product_profit")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "gear" in l]
    assert pushed, plan[:3000]
    assert "NestedLoop" not in plan, plan[:3000]


def test_important_stock_broadcasts_the_scalar_and_reuses_cache(spark, sf_dir):
    """Q11 shape: the (count, total) scalar is a broadcast
    nested-loop join of a 1-row aggregate, and both consumers of the
    per-part aggregate read the persisted copy (InMemoryTableScan),
    so lineitem is shuffled exactly once."""
    plan = _plan(spark, sf_dir, "q_important_stock")
    assert "BroadcastNestedLoopJoin" in plan, plan[:3000]
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_supplier_part_counts_anti_joins_exclusions(spark, sf_dir):
    """Q16 shape: NOT IN runs as a broadcast LEFT ANTI join on the
    tiny exclusion key set; the single distinct-count plans as the
    two-phase distinct aggregate, not an Expand."""
    plan = _plan(spark, sf_dir, "q_supplier_part_counts")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan, plan[:3000]
    assert "Expand" not in plan, plan[:3000]


def test_excess_suppliers_semi_joins_dominant_keys(spark, sf_dir):
    """Q20 shape: the qualifying key set drives a LEFT SEMI join into
    supplier, and the 30% dominance check is one window over the
    (part, supplier)-grain aggregate — exactly one Window node, no
    float division feeding the filter."""
    plan = _plan(spark, sf_dir, "q_excess_suppliers")
    assert "LeftSemi" in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]


def test_local_supplier_volume_keeps_nation_arm_in_join(spark, sf_dir):
    """Q5 shape: the s_nationkey = c_nationkey arm must ride the
    supplier hash join (equi key or residual), never surface as a
    post-join cartesian filter; orders joins the region-pruned
    customers before lineitem."""
    plan = _plan(spark, sf_dir, "q_local_supplier_volume")
    assert "NestedLoop" not in plan, plan[:3000]
    assert "s_nationkey" in plan and "c_nationkey" in plan, plan[:3000]


def test_late_shipment_priority_single_agg_pass(spark, sf_dir):
    """Q12 shape: the high/low split is one aggregate pass over the
    joined stream (two conditional sums), not two filtered subplans
    re-joined; the shipdate year range reaches the lineitem scan."""
    plan = _plan(spark, sf_dir, "q_late_shipment_priority")
    assert "NestedLoop" not in plan, plan[:3000]
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "l_shipdate" in l]
    assert pushed, plan[:3000]


def test_asof_nearest_is_single_window_single_exchange(spark, sf_dir):
    """Nearest as-of: both directional frames must share one
    (user_id, ts) partition+sort — a single Window node behind a
    single hash exchange, no join, no per-row subquery."""
    plan = _plan(spark, sf_dir, "q_join_asof_nearest")
    assert plan.count("Window") == 1, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_containment_uses_token_cooccurrence_not_pair_enumeration(spark, sf_dir):
    """Containment candidates must come from the token co-occurrence
    self-join (bounded by overlapping pairs), like the measured
    jaccard design — no nested loop, no block cross join."""
    plan = _plan(spark, sf_dir, "q_dedup_containment")
    assert "NestedLoop" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_dedup_substring_two_exchanges_no_join(spark, sf_dir):
    """q_dedup_substring is a join-free two-exchange pipeline: one
    gram-key exchange feeding both corpus-count windows off a SINGLE
    shared sort, one doc-key exchange for span merging, and the final
    groupBy(doc_id, grp) riding the doc partitioning (doc_id is a
    subset of the grouping key — no third exchange). Any join here
    would mean the gram table got re-materialized (the shape
    q_text_boilerplate measured and rejected); a third exchange would
    mean the island agg stopped reusing the window partitioning."""
    plan = _plan(spark, sf_dir, "q_dedup_substring")
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert plan.count("Window") == 3, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    # both gram-side windows must share ONE sort on (g, doc_id)
    assert plan.count("Sort ") == 2, plan[:3000]


def test_customer_rfm_has_no_window(spark, sf_dir):
    """r5 verdict: q_customer_rfm was the repo's last unpartitioned
    global-sort plan (three global ntile windows). The boundary-
    broadcast rewrite must keep ALL Window nodes out of the plan —
    quartile cuts come from one tiny percentile aggregate broadcast
    back, tiles assigned map-side."""
    plan = _plan(spark, sf_dir, "q_customer_rfm")
    assert "Window" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:3000]  # the 1-row bounds


def test_text_entropy_single_exchange_no_explode(spark, sf_dir):
    """r6 rewrite: the per-doc char histogram is built row-local in an
    Arrow-batched vectorized kernel (batch-dense bincount) — no
    char-grain explode multiplying the corpus ~200x, and the ONLY
    exchange is the final per-lang rollup."""
    plan = _plan(spark, sf_dir, "q_text_entropy")
    assert "Generate" not in plan, plan[:3000]  # no explode
    assert "ArrowEvalPython" in plan, plan[:3000]  # the sanctioned crossing
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_referential_integrity_broadcast_edges_no_shuffle_join(spark, sf_dir):
    """r6 rewrite: every edge is single-pass — size-gated broadcast
    LEFT joins whose match flag folds into the distinct-collapsing
    groupBy (orphans cost nothing beyond the distinct). At test SFs
    all seven parents fit the gate, so the plan must contain ONLY
    broadcast joins — a SortMergeJoin/ShuffledHashJoin here means the
    gate broke; the >threshold path is join-free by construction
    (union + flag aggregate)."""
    plan = _plan(spark, sf_dir, "q_referential_integrity")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan[:3000]
    assert plan.count("BroadcastHashJoin") == 7, plan[:3000]


def test_pk_uniqueness_word_bitmap_codegen(spark, sf_dir):
    """r6 rewrite: each table's distinct-key count is the mergeable
    64-key word-bitmap rollup (groupBy(key >> 6) + bit_or + sum of
    bit_count) — every aggregate declarative, so the plan must hold
    plain HashAggregates with NO ObjectHashAggregate (the imperative
    bitmap agg fallback), NO distinct Expand, and no joins at all."""
    plan = _plan(spark, sf_dir, "q_pk_uniqueness")
    assert "Expand" not in plan, plan[:3000]
    assert "ObjectHashAggregate" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "bit_or" in plan and "bit_count" in plan, plan[:3000]


def test_label_propagation_cached_edges_no_nested_loop(spark, sf_dir):
    """r6 addition: each LPA round must join the label state against
    the PERSISTED symmetrized edge list (never re-deriving it from
    lineitem) with equi joins only; one InMemoryTableScan per round
    and zero nested loops / cartesian products."""
    plan = _plan(spark, sf_dir, "q_graph_label_propagation")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:3000]
    # sym read once per round (4) plus the cached pairs reads; cached
    # subtrees reprint nested scans, so pin a floor, not an exact count
    assert plan.count("InMemoryTableScan") >= 4, plan[:3000]
    assert "HashAggregate" in plan, plan[:3000]


def test_audit_incremental_word_partials_shared(spark, sf_dir):
    """r6 addition: per-batch word-bitmap partials build ONCE (cached)
    and both the per-batch rollup and the cross-batch OR-merge read
    them — whole-stage-codegen declarative aggregates only, no
    distinct Expand, no ObjectHashAggregate, no joins."""
    plan = _plan(spark, sf_dir, "q_audit_incremental")
    assert "Expand" not in plan, plan[:3000]
    assert "ObjectHashAggregate" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("InMemoryTableScan") == 2, plan[:3000]


def test_substring_apply_spreads_flags_by_window_not_span_join(spark, sf_dir):
    """r6 addition: the apply half must spread gram dup flags to token
    grain via the RANGE-frame window — exactly TWO Window nodes (gram
    occurrence count, per-doc range max), one equi join (token x
    sparse flags), and never a nested-loop / interval join against
    the span list."""
    plan = _plan(spark, sf_dir, "q_dedup_substring_apply")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:3000]
    assert plan.count("Window") == 2, plan[:3000]


def test_quality_gopher_map_only_single_exchange(spark, sf_dir):
    """q_quality_gopher evaluates every rule in-row (array HOFs over
    the token array) — no explode multiplying the corpus, no join, and
    the ONLY exchange is the final (lang, source) rollup. The
    dominance count deliberately stays an in-doc HOF instead of an
    explode + (doc, word) groupBy for exactly this plan shape."""
    plan = _plan(spark, sf_dir, "q_quality_gopher")
    assert "Generate" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_shard_balanced_window_is_partitioned(spark, sf_dir):
    """q_shard_balanced's round-robin window must be PARTITIONED by
    (n_tok, salt) — the whole point is refusing the global-sort ntile
    form (the q_customer_rfm lesson). No single-partition exchange
    anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_shard_balanced")
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_dedup_incremental_no_pair_enumeration(spark, sf_dir):
    """q_dedup_incremental candidates come from hash joins on content
    key / token hash — never from enumerating new x corpus pairs. Any
    nested-loop or cartesian node here means the batch is being
    compared against the corpus row by row."""
    plan = _plan(spark, sf_dir, "q_dedup_incremental")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_bpe_encode_udf_runs_on_vocab_not_corpus(spark, sf_dir):
    """q_bpe_encode's merge-application UDF must sit above the DISTINCT
    word table (vocabulary grain), not the exploded corpus token
    stream: exactly one ArrowEvalPython, fed by an aggregate (the
    distinct), with the corpus-side explode joining the codebook by
    word afterwards."""
    plan = _plan(spark, sf_dir, "q_bpe_encode")
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]
    seg = plan[plan.index("ArrowEvalPython"):]
    assert "HashAggregate" in seg, plan[:3000]  # distinct below the UDF


def test_cluster_kmeans_assignment_is_batched_map_side(spark, sf_dir):
    """q_cluster_kmeans assigns clusters in the batched argmin kernel
    (one ArrowEvalPython, map-side over the scan) and aggregates the
    bounded (cluster, label) count table — no join against a centroid
    table, the centroids are plan literals inside the UDF."""
    plan = _plan(spark, sf_dir, "q_cluster_kmeans")
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_cdc_chunks_three_exchanges_no_join(spark, sf_dir):
    """q_dedup_cdc_chunks is a join-free three-exchange pipeline: ONE
    doc-key exchange drives both the running-boundary window and the
    (doc, chunk) reassembly (doc_id is a subset of the grouping key),
    then the (lang, chunk-hash) rollup and the tiny per-lang
    aggregate. A fourth exchange would mean the reassembly stopped
    riding the window partitioning; a join would mean chunk texts got
    re-materialized against the corpus."""
    plan = _plan(spark, sf_dir, "q_dedup_cdc_chunks")
    assert plan.count("Exchange hashpartitioning") == 3, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]


def test_cdc_apply_three_exchanges_no_join(spark, sf_dir):
    """q_dedup_cdc_apply: doc-key exchange (boundary window + chunk
    reassembly), chunk-hash exchange (survivor rank), doc-key exchange
    (kept-chunk fold-back). No join — dropped-all docs fold to ''
    without re-touching the documents table."""
    plan = _plan(spark, sf_dir, "q_dedup_cdc_apply")
    assert plan.count("Exchange hashpartitioning") == 3, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_mixture_budget_broadcast_budgets_partitioned_window(spark, sf_dir):
    """q_mixture_budget: budgets broadcast back (20-row table — any
    SortMergeJoin here means the doc stream got re-shuffled to meet
    the budget table), the running fill is a source-PARTITIONED
    window, and the only single-partition exchange is the bounded
    per-source-stats global total (20 rows), never the doc stream."""
    plan = _plan(spark, sf_dir, "q_mixture_budget")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]
    assert plan.count("Exchange SinglePartition") == 1, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:3000]


def test_split_leakage_safe_no_pair_enumeration_map_side_buckets(spark, sf_dir):
    """q_split_leakage_safe reuses the canonical component machinery
    (token co-occurrence candidates, star contraction) and then MUST
    assign splits map-side: no cartesian/nested-loop pair enumeration
    anywhere, and the md5-bucket CASE sits in a Project above the
    doc<-component left join — no extra exchange or window beyond the
    component assignment itself."""
    plan = _plan(spark, sf_dir, "q_split_leakage_safe")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]  # election is canonical's; split needs none
    assert "md5" in plan and "CASE WHEN" in plan, plan[:3000]


def test_sample_weighted_is_take_ordered_no_shuffle(spark, sf_dir):
    """q_sample_weighted: priority-rank top-K must compile to
    TakeOrderedAndProject (per-partition K-row heaps, K-row driver
    merge) — a Sort + Exchange here means the whole corpus is being
    globally sorted to pick K (= llm_scoring._WEIGHTED_K) rows."""
    plan = _plan(spark, sf_dir, "q_sample_weighted")
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "Exchange" not in plan, plan[:3000]


def test_ivfpq_single_arrow_crossing_broadcast_cell_join(spark, sf_dir):
    """q_sim_ann_ivfpq: exactly ONE ArrowEvalPython (the combined
    coarse-assign + residual-encode kernel — a second crossing means
    assignment and encoding each scan the corpus), the candidate
    pruning is a BroadcastHashJoin on the cell id (posting-list join;
    bounded probe x cell LUT table), and nothing enumerates pairs."""
    from pypiper_spark.queries.vectors import _sim_ann_ivfpq_topk

    plan = _df_plan(_sim_ann_ivfpq_topk(spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_batch_by_length_one_exchange_shard_local_window(spark, sf_dir):
    """q_batch_by_length: ONE hash exchange total — the per-batch
    aggregate's keys are a superset of the (shard, len_bucket) window
    keys, so it must ride the window's partitioning; a second exchange
    means the agg re-shuffled. One Window, no SinglePartition."""
    plan = _plan(spark, sf_dir, "q_batch_by_length")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_outlier_mad_broadcast_bounds_no_data_shuffle(spark, sf_dir):
    """q_outlier_mad: every percentile table comes back as a broadcast
    join (5-row bounded aggregates; the dev stream is recomputed for
    the final count, so the med join appears twice = 3 broadcasts); a
    SortMergeJoin would mean the order stream is being shuffled
    against its own summary."""
    plan = _plan(spark, sf_dir, "q_outlier_mad")
    assert plan.count("BroadcastHashJoin") == 3, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_stratified_exact_engine_native_group_limit(spark, sf_dir):
    """q_sample_stratified_exact: the rank<=n predicate must compile
    to WindowGroupLimit in BOTH Partial (map-side, before the
    exchange) and Final mode — the engine-native fix for the
    one-reducer-per-stratum pinch. Losing the Partial node (e.g. by
    expressing the quota any way the optimizer can't see) regresses
    to shuffling whole strata."""
    plan = _plan(spark, sf_dir, "q_sample_stratified_exact")
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "Partial" in plan and "Final" in plan, plan[:3000]


def test_corpus_build_no_pair_enumeration_one_election_window(spark, sf_dir):
    """q_pipeline_corpus_build composes five audited stage shapes:
    nothing may enumerate pairs (edges are co-occurrence joins), the
    exact-dedup stage must stay a min-struct aggregate (a SECOND
    Window would mean it regressed to the row_number form), leaving
    exactly one Window — the canonical election."""
    plan = _plan(spark, sf_dir, "q_pipeline_corpus_build")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert plan.count("Window [") == 1, plan[:3000]


def test_dialogue_pack_single_exchange(spark, sf_dir):
    """q_dialogue_pack: all four window functions (lag, row_number,
    running sum, running max) plus the final (user, session) aggregate
    must ride ONE user_id hash partitioning — the session-start index
    is derived with max(new_session*rn) over the SAME sort instead of
    a second session-keyed window, and the group-by keys are a
    superset of the partitioning, so a second Exchange means the
    shape regressed."""
    plan = _plan(spark, sf_dir, "q_dialogue_pack")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_contrastive_negatives_no_pair_enumeration(spark, sf_dir):
    """q_contrastive_negatives: ring fanout is a map-side
    literal-sequence explode, never a pair enumeration — the only
    nested-loops allowed are the sanctioned 1-row batch-count
    broadcasts (crossJoin against an aggregate, once per branch of
    the self-join); the ring join itself must be an equi join keyed
    on (batch, position), and every data-scaled exchange hashes on
    the batch id."""
    plan = _plan(spark, sf_dir, "q_contrastive_negatives")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]
    import re

    scaled = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert scaled and all(re.search(r"batch#\d+", l) for l in scaled), plan[:3000]


def test_sft_pairs_single_exchange(spark, sf_dir):
    """q_sft_pairs: the cumulative-context window partitions by
    (user, session) but must ride the session-turns' user_id hash
    partitioning (partition-local re-sort only) — a second Exchange
    means the refinement stopped being recognized."""
    plan = _plan(spark, sf_dir, "q_sft_pairs")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_sft_reward_pairs_single_exchange(spark, sf_dir):
    """q_sft_reward_pairs: sessionization, the context window, and the
    min-reward election are all user-keyed window passes — one
    data-scaled Exchange total, no join for the argmin."""
    plan = _plan(spark, sf_dir, "q_sft_reward_pairs")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_drift_psi_one_scan_two_exchanges(spark, sf_dir):
    """q_drift_psi: stack() unpivots both features from ONE orders
    scan; the (feature, bucket) count aggregate is the only
    data-scaled exchange (the feature-totals window re-keys the
    ~25-row aggregate — bounded by bin cardinality)."""
    plan = _plan(spark, sf_dir, "q_drift_psi")
    assert plan.count("Scan parquet") == 1, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]


def test_snapshot_diff_key_shuffles_only(spark, sf_dir):
    """q_snapshot_diff: each snapshot shuffles once on the key for the
    full-outer join; the report aggregate is map-side partial over a
    bounded-cardinality grain (no extra data-scaled exchange beyond
    the join's two plus the tiny final report exchange)."""
    plan = _plan(spark, sf_dir, "q_snapshot_diff")
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 4, plan[:3000]
    assert "partial_count" in plan or "HashAggregate" in plan, plan[:3000]


def test_hard_negatives_one_python_pass(spark, sf_dir):
    """q_hard_negatives: ONE ArrowEvalPython (the matmul kernel) and
    ONE anchor-keyed exchange carrying both the positive election and
    the negative ranking — the branched pos/neg formulation re-runs
    the Python kernel per branch and is the regression this pins."""
    plan = _plan(spark, sf_dir, "q_hard_negatives")
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_pipeline_sft_build_one_exchange_no_join(spark, sf_dir):
    """q_pipeline_sft_build: sessionize -> flatten -> gate -> split ->
    report rides the ONE user-keyed exchange; the only other exchange
    is the 3-group report rollup (distinct-count adds its Expand, not
    a join). Joins would mean a stage stopped composing."""
    plan = _plan(spark, sf_dir, "q_pipeline_sft_build")
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]


def test_kanon_audit_two_tier_aggregate(spark, sf_dir):
    """q_kanon_audit: QI-keyed exchange with map-side partials, then a
    class-cardinality rollup — one scan, two exchanges, no joins (the
    q_drift_psi mergeable-audit shape)."""
    plan = _plan(spark, sf_dir, "q_kanon_audit")
    assert plan.count("Scan parquet") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]


def test_ldiversity_single_expand(spark, sf_dir):
    """q_ldiversity_audit: the two distinct-counts share one grouping
    — exactly ONE Expand node (two passes would double the shuffle),
    and the sensitive join is the only join."""
    plan = _plan(spark, sf_dir, "q_ldiversity_audit")
    assert plan.count("Expand") == 1, plan[:3000]
    assert plan.count("Join") <= 2, plan[:3000]  # one logical join (+AQE echo)


def test_curriculum_stages_no_window_no_explode(spark, sf_dir):
    """q_curriculum_stages: boundary broadcast, never a global sort
    (no Window) and never a token explode (no Generate) — difficulty
    is JVM array arithmetic, stages are map-side comparisons."""
    plan = _plan(spark, sf_dir, "q_curriculum_stages")
    assert "Window" not in plan, plan[:3000]
    assert "Generate" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:3000]


def test_join_runtime_filter_injects_bloom(spark, sf_dir):
    """q_join_runtime_filter: with its scoped confs held, the
    optimized fact side carries might_contain(bloom) UNDER the
    exchange — prune-then-shuffle. Compiled here with the same confs
    (the registered fn restores them after materializing)."""
    from pyspark.sql import functions as F

    from pypiper_spark.catalog import load_table
    from pypiper_spark.queries.joins import _RTF_CONFS

    prev = {k: spark.conf.get(k, None) for k in _RTF_CONFS}
    for k, v in _RTF_CONFS.items():
        spark.conf.set(k, v)
    try:
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        j = (
            l.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "might_contain" in plan, plan[:3000]
    assert "bloom_filter_agg" in plan, plan[:3000]
    # prune-then-shuffle: between the might_contain filter and the
    # next scan there is no hash exchange — the filter sits on the
    # scan side of the join shuffle. (The bloom-BUILD subquery inside
    # that span owns a SinglePartition exchange for its aggregate;
    # that one is the filter's construction, not a fact shuffle.)
    lo = plan.index("might_contain")
    scan_after = plan.index("Scan parquet", lo)
    assert "Exchange hashpartitioning" not in plan[lo:scan_after], (
        plan[lo:scan_after][:2000]
    )


def test_event_pattern_match_one_exchange(spark, sf_dir):
    """q_event_pattern_match: sequence build + regex = ONE user-keyed
    exchange, regex map-side after the aggregate (no second shuffle,
    no join)."""
    plan = _plan(spark, sf_dir, "q_event_pattern_match")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_surrogate_keys_no_global_sort(spark, sf_dir):
    """q_surrogate_keys: the data-scaled window partitions by bucket;
    the only SinglePartition exchange feeds the BUCKET-grain offsets
    window (thousands of rows), and the offsets rejoin broadcast —
    never a global sort of the table itself."""
    plan = _plan(spark, sf_dir, "q_surrogate_keys")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # the SinglePartition exchange must sit under the bucket-count
    # aggregate (tiny side), and the big side's window keys on bucket
    assert "windowspecdefinition(bucket" in plan, plan[:3000]


def test_epoch_shuffle_single_exchange(spark, sf_dir):
    """q_epoch_shuffle: epoch fanout is a map-side Generate; the ONE
    exchange is the (epoch, shard) loader shuffle the rank rides."""
    plan = _plan(spark, sf_dir, "q_epoch_shuffle")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Generate explode" in plan, plan[:3000]


def test_dp_release_no_join_single_exchange(spark, sf_dir):
    """q_dp_release: the release costs exactly the underlying count
    aggregate (one exchange) — noise is per-group arithmetic, never
    a join."""
    plan = _plan(spark, sf_dir, "q_dp_release")
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:3000]


def test_attribution_linear_one_window_no_join(spark, sf_dir):
    """q_attribution_linear: both channel counts ride ONE user-keyed
    RANGE window; the purchase x touch join form is the regression
    this pins out."""
    plan = _plan(spark, sf_dir, "q_attribution_linear")
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]


def test_scd2_pointintime_no_join(spark, sf_dir):
    """q_scd2_pointintime: the PIT lookup is the union-window as-of —
    no per-fact dimension join anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_scd2_pointintime")
    assert "Join" not in plan, plan[:3000]


def test_concurrent_sessions_bounded_final_sort(spark, sf_dir):
    """q_concurrent_sessions: the only SinglePartition window runs on
    the HOUR-grain delta table (calendar-bounded); the data-scaled
    work is the user sessionization exchange."""
    plan = _plan(spark, sf_dir, "q_concurrent_sessions")
    assert plan.count("Exchange SinglePartition") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_langid_confusion_bounded_matrix(spark, sf_dir):
    """q_langid_confusion: doc-grain work is one scoring pass + one
    count aggregate; both marginals window over the bounded matrix."""
    plan = _plan(spark, sf_dir, "q_langid_confusion")
    assert "Join" not in plan, plan[:3000]
    assert plan.count("Scan parquet") == 1, plan[:3000]


def test_entity_resolution_blocked_never_crossed(spark, sf_dir):
    """q_entity_resolution: candidates come from TWO equi joins
    (prefix19, suffix5) — never a nested-loop cross product; the
    best-match election is a packed-min HASH AGGREGATE (not a window:
    partial aggregation shrinks partitions before the shuffle), and
    the probe side is spread across partitions before the broadcast
    joins (the r10 4.8x fix — without it the candidate amplification
    ran on the source's ~2 input splits)."""
    plan = _plan(spark, sf_dir, "q_entity_resolution")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert plan.count("BroadcastHashJoin") == 2, plan[:3000]
    # election is an aggregate, not a window
    assert "Window" not in plan, plan[:3000]
    # probe spread: a round-robin repartition ahead of the joins
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, (
        plan[:3000]
    )


def test_scan_agg_pushdown_reads_footers(spark, sf_dir):
    """q_scan_agg_pushdown: under its scoped confs the scan node
    itself answers the aggregate — PushedAggregation is non-empty and
    names all three functions."""
    from pypiper_spark.queries.scans import _AGG_PD_CONFS
    from pyspark.sql import functions as F

    prev = {k: spark.conf.get(k, None) for k in _AGG_PD_CONFS}
    for k, v in _AGG_PD_CONFS.items():
        spark.conf.set(k, v)
    try:
        # direct read — load_table's memoized handle would be a V1
        # relation resolved before these confs existed
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        agg = o.agg(
            F.expr("count(*)").alias("n"),
            F.min("o_orderkey").alias("mn"),
            F.max("o_orderkey").alias("mx"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "PushedAggregation: [COUNT(*), MIN(o_orderkey), MAX(o_orderkey)]" in plan, (
        plan[:3000]
    )


def test_classifier_nb_scores_with_one_join_no_window(spark, sf_dir):
    """q_classifier_nb (r8 shape): scoring stays JVM-side — the test
    token stream joins the WIDE persisted model exactly once on the
    word key (no per-class fanout), the per-doc reduce is one
    aggregate, and the argmax is a greatest()-over-structs expression
    (no Window exchange, no doc-grain explode). Nothing enumerates a
    cross product and no Python evaluator appears."""
    plan = _plan(spark, sf_dir, "q_classifier_nb")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert len(joins) == 1, joins  # the single word-key model join


def test_dsir_scores_in_one_arrow_kernel_topk_is_heap(spark, sf_dir):
    """q_select_dsir (r8 shape): the query path is ONE Arrow-batched
    scoring kernel over the document stream (the 4096-int ratio model
    is a collected plan literal — no token-grain join, no explode, no
    shuffle before the reduce) and the top-K selection compiles to
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, sf_dir, "q_select_dsir")
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]
    assert "Generate" not in plan, plan[:3000]  # no token explode
    assert "Join" not in plan, plan[:3000]


def test_lsh_multiprobe_stays_equi_join(spark, sf_dir):
    """Multiprobe fanout must stay a (tbl, bucket) EQUI join — the
    Hamming-1 bucket variants are exploded probe-side literals, so a
    regression to a nested-loop (e.g. someone turning the fanout into
    a range/bitwise join condition) is the scale-killer this pins."""
    from pypiper_spark.queries.vectors import _sim_ann_lsh_topk

    plan = _df_plan(_sim_ann_lsh_topk(spark, sf_dir))
    assert "NestedLoop" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_snapshot_delta_prunes_common_scan_at_plan_time(spark, sf_dir):
    """q_table_snapshot_delta: the carried-file skip must be a PLAN
    property, not a runtime filter — Catalyst folds the
    __part != 'common' predicate to FALSE inside the common branch
    (its tag is a literal), so the physical plan contains exactly the
    only1 and only2 scans. If a third FileScan appears, the common
    snapshot bytes are being read again and the manifest win is gone."""
    plan = _plan(spark, sf_dir, "q_table_snapshot_delta")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 2, plan[:3000]


def test_time_travel_scans_each_diff_part_once(spark, sf_dir):
    """q_table_time_travel: the manifest-diff read scans three parts
    (common, only1, only2) — each file exactly once — so the plan has
    exactly three FileScans and no join (the per-part tag is a
    literal, never an input_file_name lookup)."""
    plan = _plan(spark, sf_dir, "q_table_time_travel")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 3, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_pagerank_never_broadcasts_the_cached_edge_side(spark, sf_dir):
    """The cached (src, dst, outdeg) edge frame is sized by its compressed
    batches, so AQE can judge it small enough to broadcast. Where
    lineitem itself does not fit the broadcast threshold, the round join
    must build on the node-cardinality rank side, or every round
    broadcasts all edges (driver OOM at sf0.1 in a 1 GB session).
    Checked on the final adaptive plan, under a threshold just below
    lineitem's expanded size."""
    from pypiper_spark.fingerprint import table_bytes
    from pypiper_spark.session import release_query_caches, scoped_confs

    threshold = 4 * table_bytes(sf_dir, "lineitem") - 1
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": str(threshold)}):
        df = QS["q_graph_pagerank"].fn(spark, sf_dir)
        try:
            df.collect()
            lines = _df_plan(df).splitlines()
        finally:
            release_query_caches(spark)
    passthrough = ("Filter", "TableCacheQueryStage", "ColumnarToRow", "InputAdapter", "Project")
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        child = next(
            below for below in lines[i + 1 :] if not any(k in below for k in passthrough)
        )
        edge_side = "InMemoryTableScan" in child and "outdeg" in child
        assert not edge_side, "\n".join(lines[i : i + 6])

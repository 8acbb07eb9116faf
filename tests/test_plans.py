"""Physical-plan quality gates: pushdown, pruning, join strategy, top-k.

These assert the *plan*, not the result — the properties that decide whether
a query survives a 100× scale-up."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog import QUERIES
from nyc_taxi_pyspark_spark.plans.explain import formatted_plan, shuffle_count
from nyc_taxi_pyspark_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def scan_pushed_filters(df) -> str:
    """The PushedFilters line(s) of the parquet scan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def scan_read_schema(df) -> str:
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def has_broadcast_join(df) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def uses_take_ordered(df) -> bool:
    """orderBy().limit() should compile to TakeOrderedAndProject — a
    per-partition heap + k-row merge, never a global sort."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_battery"](spark, SF)
    pushed = scan_pushed_filters(df)
    assert "l_quantity" in pushed and "l_discount" in pushed


def test_column_pruning(spark):
    # a 2-column projection must not read all 11 lineitem columns
    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    schema_line = scan_read_schema(df)
    assert "l_orderkey" in schema_line and "l_quantity" in schema_line
    assert "l_extendedprice" not in schema_line


def test_flagship_predicate_pushdown(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    assert "l_shipdate" in scan_pushed_filters(df)


def test_dim_joins_broadcast(spark):
    assert has_broadcast_join(QUERIES["join_lookup_enrich"](spark, SF))
    assert has_broadcast_join(QUERIES["join_inner_agg"](spark, SF))
    assert has_broadcast_join(QUERIES["join_range_buckets"](spark, SF))


def test_three_way_fact_join_stays_sort_merge(spark):
    """The lineitem⋈orders fact join must stay the hinted SMJ — the only
    plan that exists at 100 TB. Catalyst drifted this to a static orders
    broadcast once (+60% warm cost from the driver-built hashed
    relation); this gate keeps the regression from silently returning.
    The dim side stays broadcast."""
    df = QUERIES["join_three_way"](spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan  # fact⋈fact pinned
    assert has_broadcast_join(df)  # customer dim still broadcast
    assert "CartesianProduct" not in plan


def test_topk_uses_heap_not_global_sort(spark):
    assert uses_take_ordered(QUERIES["topk_orders"](spark, SF))
    assert uses_take_ordered(QUERIES["embed_cosine_topk"](spark, SF))


def test_single_shuffle_for_flagship_agg(spark):
    # scan → partial agg → ONE exchange → final agg
    assert shuffle_count(QUERIES["pricing_summary"](spark, SF)) == 1


def test_asof_join_single_shuffle(spark):
    # the union+window as-of formulation must shuffle once (on user_id)
    df = QUERIES["join_asof"](spark, SF)
    assert shuffle_count(df) == 1


def test_minhash_signature_no_shuffle(spark):
    # signatures are row-level array exprs over a (possibly repartitioned)
    # scan: at most the one explicit round-robin exchange, none from the op
    df = QUERIES["text_minhash_signature"](spark, SF)
    assert shuffle_count(df) <= 1


def test_null_scan_is_single_pass(spark):
    from nyc_taxi_pyspark_spark.plans.explain import count_nodes

    df = QUERIES["null_scan"](spark, SF)
    assert count_nodes(df, "Scan parquet") == 1
    # one exchange: the unavoidable single-partition merge of a global agg
    assert shuffle_count(df) == 1


def test_funnel_windows_share_one_exchange(spark):
    """Three stacked user_id windows must reuse a single Exchange+Sort;
    total shuffles = 1 (windows) + 2 (countDistinct expand/final)."""
    df = QUERIES["events_funnel"](spark, SF)
    tree = formatted_plan(df).split("\n\n")[0]
    assert tree.count("Window") == 3
    assert shuffle_count(df) == 3


def test_int8_ann_is_scan_plus_topk(spark):
    """Quantized top-k must stay scan + TakeOrdered — no join machinery,
    one shuffle at most (the TakeOrdered merge)."""
    df = QUERIES["embed_ann_int8"](spark, SF)
    assert uses_take_ordered(df)
    assert shuffle_count(df) <= 1


def test_stream_dedup_single_shuffle(spark):
    assert shuffle_count(QUERIES["stream_dedup"](spark, SF)) == 1


def test_corpus_pipeline_bounded_shuffles(spark):
    """Dedup agg + semi-join + final split agg — the composed pipeline must
    not multiply exchanges beyond its three logical stages (AQE may add a
    broadcast for the survivor side)."""
    assert shuffle_count(QUERIES["corpus_pipeline"](spark, SF)) <= 4


def test_tficf_no_cartesian_no_python(spark):
    plan = formatted_plan(QUERIES["text_tficf_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_no_cartesian_no_python(spark):
    """Candidate generation must be the probe-bucket equi-join, never an
    n² cross product; the whole pipeline stays JVM-side."""
    plan = formatted_plan(QUERIES["embed_semantic_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_rarity_plan_shape(spark):
    """Three real exchanges (vocab agg, per-doc agg, 1-row total) — the
    other three are parallelize_scan's round-robin repartitions of the
    tiny local file, absent at scale. The load-bearing properties: the
    token→vocab join must be a BROADCAST (a sort-merge there would shuffle
    the full exploded token stream a second time), the 1-row total must
    not surface as a CartesianProduct, and the whole plan stays JVM-side."""
    df = QUERIES["text_unigram_rarity"](spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan  # 1-row total is BroadcastNestedLoop
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # r16: the 1-row total now rides the vocab aggregate (SUM(cnt) ==
    # COUNT(*) over the token stream), which removes the third full
    # tokenize+explode pass but adds one STATIC reference to the vocab
    # exchange under the total branch — identical to the join-side one,
    # so it is exchange-reused at runtime, not a new shuffle
    assert shuffle_count(df) <= 7


def test_pack_bins_window_is_sharded(spark):
    """The packing cumsum must run TWO-TIER (r13): the data-sized window
    keyed by (shard, cell) — never by the low-cardinality shard alone,
    which is #shards tasks over the whole corpus at any cluster width —
    with the shard-only window confined to the reduced per-cell frame.
    No single-partition window, no Python."""
    df = QUERIES["corpus_pack_bins"](spark, SF)
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the data-sized window must carry the cell key
    assert "windowspecdefinition(lang" not in plan.replace("#", " #") or (
        "__cell" in plan
    )
    # cells agg + cell-frame window shard + within-cell window shard +
    # final agg, plus the n_tokens layout build's repartition visible in
    # one or both branches depending on whether the session cache is
    # already materialized (suite order vs standalone)
    assert shuffle_count(df) <= 6


def test_domain_cap_window_is_sharded(spark):
    plan = formatted_plan(QUERIES["corpus_domain_cap"](spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_rules_row_local(spark):
    """Pure per-row array expressions: no aggregation exchange, no Python."""
    df = QUERIES["text_gopher_rules"](spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) <= 1  # parallelize_scan's repartition only


def test_mixture_sample_single_agg_shuffle(spark):
    df = QUERIES["corpus_mixture_sample"](spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) <= 2  # parallelize_scan + one hash agg


def test_sessionize_windows_share_user_exchange(spark):
    """lag + cumsum windows and the per-session agg: one hash exchange on
    user_id feeds both window passes; only the final (user, session) agg
    re-partitions."""
    df = QUERIES["events_sessionize"](spark, SF)
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) <= 2


def test_chunk_dedup_no_window_no_python(spark):
    """Survivor selection must be the min-struct AGGREGATE — never a window
    over the skew-prone chunk key — and the whole pipeline stays JVM-side."""
    df = QUERIES["text_chunk_dedup"](spark, SF)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) <= 6


def test_ivf_train_assign_is_row_local(spark):
    """The returned assignment plan: literal-centroid argmin is row-local
    (no join, no window, no SinglePartition), plus the final per-cell agg."""
    df = QUERIES["embed_ivf_train"](spark, SF)
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) <= 3


def test_pq_codes_no_shuffle(spark):
    """PQ assignment is row-local argmin over literal codebooks: narrow
    scan only (parallelize_scan's repartition is the lone exchange)."""
    df = QUERIES["embed_pq_codes"](spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 1


def test_pq_search_scan_plus_topk(spark):
    """ADC scoring is LUT lookups over the codes column + TakeOrdered —
    row-local, never a join against the codebook at scan time."""
    df = QUERIES["embed_pq_search"](spark, SF)
    plan = formatted_plan(df)
    assert uses_take_ordered(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 1


def test_ivfpq_pruned_scan_plus_topk(spark):
    """Cell filter prunes the scan; ADC stays row-local; TakeOrdered tops.
    The ≤2 exchanges are the persisted _ivf layout's BUILD plan showing
    through InMemoryTableScan — session-once cost (ingest-time at scale);
    the per-query slice adds no exchange of its own."""
    df = QUERIES["embed_ivfpq_search"](spark, SF)
    plan = formatted_plan(df)
    assert uses_take_ordered(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) <= 2


def test_knn_join_no_cartesian_bounded_shuffles(spark):
    """kNN-join: bucket equi-join + one id_q ranking window — never a
    cartesian; python-free."""
    df = QUERIES["embed_knn_join"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Python" not in p


def test_bm25_is_broadcast_stats_plus_topk(spark):
    """BM25: the 1-row stats side must broadcast and the top-10 must be a
    heap, not a global sort."""
    df = QUERIES["text_bm25_topk"](spark, SF)
    assert has_broadcast_join(df)
    assert uses_take_ordered(df)
    assert "Python" not in formatted_plan(df)


def test_bloom_prefilter_broadcast_no_cartesian(spark):
    """Bloom probe: bit-set and fingerprint sides broadcast; the batch is
    never shuffled through a cartesian."""
    df = QUERIES["corpus_bloom_prefilter"](spark, SF)
    p = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in p


def test_cms_sketch_python_free(spark):
    """Count-min: explode + groupBy + probe join, all JVM-side."""
    df = QUERIES["text_cms_counts"](spark, SF)
    assert "Python" not in formatted_plan(df)


def test_dq_audit_single_scan_single_agg(spark):
    """Constraint audit: one scan of orders, no join, python-free; the
    explode runs on the 1-row aggregate, not the base data."""
    import re

    df = QUERIES["dq_audit_orders"](spark, SF)
    p = formatted_plan(df)
    assert len(set(re.findall(r"\(\d+\) Scan parquet", p))) == 1
    assert "Join" not in p and "Python" not in p


def test_table_diff_is_one_sortmerge_no_python(spark):
    """Snapshot diff: a single full-outer join, never a cartesian."""
    df = QUERIES["table_diff_orders"](spark, SF)
    p = formatted_plan(df)
    assert "FullOuter" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Python" not in p


def test_feature_scaling_broadcasts_fitted_stats(spark):
    """Scatter-the-fit: the 1-row stats side must broadcast; codegen
    arithmetic, no Python."""
    df = QUERIES["feature_scaling"](spark, SF)
    assert has_broadcast_join(df)
    assert "Python" not in formatted_plan(df)


def test_rfm_is_cutpoint_buckets_no_window(spark):
    """RFM: quartile scores come from broadcast cutpoints (one percentile
    aggregate over the customer rollup), NEVER an unpartitioned NTILE —
    no Window node may appear anywhere in the plan."""
    df = QUERIES["customer_rfm"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p
    assert "BroadcastExchange" in p
    # the anchor scan reads only the date column
    assert "ReadSchema: struct<o_orderdate" in p
    assert "Python" not in p


def test_equidepth_histogram_is_cutpoint_buckets_no_window(spark):
    """histogram_equidepth: decile boundaries from ONE percentile
    aggregate, broadcast range lookup per row — no Window (the former
    NTILE funneled the whole table through one task)."""
    df = QUERIES["histogram_equidepth"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p
    assert "BroadcastExchange" in p
    assert "Python" not in p


def test_pareto_share_is_cutpoint_buckets_no_window(spark):
    """orders_pareto_share: revenue deciles from broadcast cutpoints over
    the per-customer aggregate — no Window node."""
    df = QUERIES["orders_pareto_share"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p
    assert "BroadcastExchange" in p
    assert "Python" not in p


def test_sequence_gaps_windows_are_partitioned_or_bounded(spark):
    """sequence_gaps: the range-partitioned keyed frame is pinned with an
    eager localCheckpoint (the repartitionByRange shuffle runs inside that
    materialization, so the visible plan reads the lineage-cut scan — both
    branches provably share one pid→range mapping, ADVICE r7); above the
    cut, the data-volume window must partition by the pinned __pid
    (hashpartitioning), and the only SinglePartition exchange sits on the
    handoff side over the bounded per-partition min AGGREGATE — never over
    base rows."""
    import re

    df = QUERIES["sequence_gaps"](spark, SF)
    p = formatted_plan(df)
    assert "ExistingRDD" in p  # the pinned (checkpointed) keyed frame
    assert "rangepartitioning(" not in p  # shuffle consumed by the pin
    # the base-data window partitions by __pid (hashpartitioning), not
    # SinglePartition
    assert re.search(r"hashpartitioning\(__pid", p)
    assert "Python" not in p


def test_tfidf_pairs_no_cartesian_term_equijoin(spark):
    """Sparse cosine pairs: the doc-pair blowup must come only from a
    TERM equi-join over truncated postings — never a cartesian — and the
    per-doc truncation window partitions by doc_id (scales with docs)."""
    df = QUERIES["text_tfidf_cosine_pairs"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p
    assert "Python" not in p
    assert "Exchange SinglePartition" not in p


def test_markov_transitions_user_partitioned_window(spark):
    """Sequence stats: LEAD must partition by user_id (scales with users);
    the out-degree normalizer joins back broadcast."""
    df = QUERIES["events_markov_transitions"](spark, SF)
    p = formatted_plan(df)
    assert "Exchange SinglePartition" not in p
    assert has_broadcast_join(df)
    assert "Python" not in p


def test_embed_dim_stats_single_pass_no_window(spark):
    df = QUERIES["embed_dim_stats"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p
    assert "Join" not in p
    assert "Python" not in p


def test_syndication_rank_no_cartesian_no_python(spark):
    """PageRank over the syndication graph: every iteration is a keyed
    join + aggregate over the checkpointed rank frame — no cartesian
    blowup, no Python in the plan (the 1-row dangling-mass broadcast is
    the only nested-loop, same shape as the broadcast-stats queries)."""
    df = QUERIES["source_syndication_rank"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_range_frame_windows_over_day_rollup_not_base(spark):
    """window_range_frame: the RANGE window's input must be the per-day
    AGGREGATE (calendar-bounded), broadcast-joined back to rows — never
    an unpartitioned window over the base table. The plan therefore has
    a HashAggregate feeding the Window and a broadcast join."""
    import re

    df = QUERIES["window_range_frame"](spark, SF)
    p = formatted_plan(df)
    assert has_broadcast_join(df)
    # the Window's subtree contains the day HashAggregate: in the
    # formatted tree the Window node appears after an Aggregate on the
    # broadcast side, and only one Window exists
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert "Python" not in p


def test_tpch_q5_pushes_filters_and_broadcasts_dims(spark):
    """Q5: the order-date range and region name must reach the scans as
    pushed filters; dims broadcast; no cartesian."""
    df = QUERIES["tpch_q5_local_volume"](spark, SF)
    p = formatted_plan(df)
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "EqualTo(r_name,ASIA)" in p
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_tpch_q17_decorrelated_no_python(spark):
    """Q17: the per-part average must be a keyed aggregate joined back —
    exactly 2 joins (part dim + average), no cartesian, no Python."""
    import re

    df = QUERIES["tpch_q17_small_qty_revenue"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", p)) == 2
    assert "Python" not in p


def test_cohort_ltv_keyed_stages_only(spark):
    df = QUERIES["orders_cohort_ltv"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_benford_broadcasts_total(spark):
    df = QUERIES["benford_first_digit"](spark, SF)
    assert has_broadcast_join(df)
    assert "Python" not in formatted_plan(df)


def test_shard_manifest_single_agg_no_join(spark):
    df = QUERIES["corpus_shard_manifest"](spark, SF)
    p = formatted_plan(df)
    assert "Join" not in p and "Python" not in p


def test_tpch_q3_plan_shape(spark):
    # date predicates push to the scans, top-10 is a heap not a global sort
    df = QUERIES["tpch_q3_shipping_priority"](spark, SF)
    assert uses_take_ordered(df)
    plan = formatted_plan(df)
    assert "o_orderdate" in plan and "l_shipdate" in plan
    pushed = scan_pushed_filters(df)
    assert "c_mktsegment" in pushed or "c_mktsegment" in plan


def test_tpch_q10_returnflag_pushdown_and_broadcast(spark):
    df = QUERIES["tpch_q10_returned_items"](spark, SF)
    assert uses_take_ordered(df)
    assert has_broadcast_join(df)  # nation dim
    assert "l_returnflag" in scan_pushed_filters(df)


def test_doc_surprisal_shuffle_budget(spark):
    # explode -> vocab agg -> token join (both sides) -> doc agg, plus the
    # ingest repartition and the 1-row total's single-partition merge —
    # and the total must broadcast into the join, never shuffle-join.
    # r16: the total rides the vocab aggregate (one fewer tokenize pass);
    # its branch re-references the vocab exchange statically (runtime
    # exchange reuse), so the static budget is 7
    df = QUERIES["text_doc_surprisal"](spark, SF)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 7


def test_sliding_chunks_is_map_side_only(spark):
    # sequence+posexplode+slice: a pure 1:N row expansion — no exchange
    # beyond the ingest repartition, no Python in the plan
    df = QUERIES["text_sliding_chunks"](spark, SF)
    assert shuffle_count(df) <= 1
    plan = formatted_plan(df)
    assert "Generate" in plan  # the posexplode expansion
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q18_single_lineitem_scan_topk(spark):
    from nyc_taxi_pyspark_spark.plans.explain import count_nodes

    df = QUERIES["tpch_q18_large_orders"](spark, SF)
    assert uses_take_ordered(df)
    assert count_nodes(df, "Scan parquet") == 3  # lineitem touched ONCE


def test_runtime_bloom_filter_injected(spark):
    """The selective shuffle join must carry a runtime Bloom filter: a
    bloom_filter_agg build over the selected order keys and a
    might_contain probe pushed into the lineitem side — rows drop at the
    scan, before the shuffle."""
    plan = formatted_plan(QUERIES["join_runtime_bloom"](spark, SF))
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_join_strategy_hints_are_honored(spark):
    """The three physical join strategies must be selectable per-side via
    hints — the manual override when AQE's choice is wrong for a known
    workload (e.g. forcing shuffle-hash for a huge-but-uniform build
    side, or merge for pre-sorted bucketed tables)."""
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    for hint, node in [
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ]:
        df = li.join(o.hint(hint), li["l_orderkey"] == o["o_orderkey"])
        assert node in formatted_plan(df), hint


def test_tpch_q4_semi_join_shape(spark):
    """Q4: EXISTS must be a left-semi join (no fan-out, no distinct), with
    the quarter filter pushed to the orders scan."""
    df = QUERIES["tpch_q4_priority_check"](spark, SF)
    p = formatted_plan(df)
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_tpch_q7_q8_broadcast_dims_no_cartesian(spark):
    """Q7/Q8: the twice-joined nation dim (and part/supplier/region for
    Q8) broadcast; the big-side chain never degrades to a cartesian."""
    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        df = QUERIES[name](spark, SF)
        p = formatted_plan(df)
        assert has_broadcast_join(df), name
        assert "CartesianProduct" not in p, name
        assert "Python" not in p, name


def test_tpch_q13_outer_join_preserved(spark):
    """Q13: the priority exclusion must stay in the join condition —
    the plan keeps LeftOuter (a WHERE placement would have turned it
    inner and dropped the zero-order customers)."""
    p = formatted_plan(QUERIES["tpch_q13_order_distribution"](spark, SF))
    assert "LeftOuter" in p


def test_tpch_q19_equi_join_with_residual(spark):
    """Q19: the OR-of-ANDs must ride an equi-join on partkey (hash or
    merge — never nested-loop/cartesian), with the derived quantity
    envelope pushed to the lineitem scan."""
    df = QUERIES["tpch_q19_disjunctive_join"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Join" in p


def test_tpch_q22_anti_join_and_scalar_broadcast(spark):
    """Q22: NOT EXISTS must be a left-anti join; the scalar cutoff is a
    1-row broadcast (nested-loop over one row is fine — it must NOT be a
    shuffled join)."""
    p = formatted_plan(QUERIES["tpch_q22_no_order_customers"](spark, SF))
    assert "LeftAnti" in p


def test_tpch_q6_scan_aggregate_only(spark):
    """Q6: zero joins; date/discount/quantity predicates all pushed to the
    scan; one partial/final aggregate pair."""
    df = QUERIES["tpch_q6_revenue_delta"](spark, SF)
    p = formatted_plan(df)
    assert "Join" not in p
    pushed = scan_pushed_filters(df)
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "l_quantity" in pushed


def test_tpch_q9_broadcast_dims_single_big_shuffle(spark):
    """Q9: part (LIKE-filtered), supplier, nation broadcast; only the
    lineitem⋈orders chain shuffles; no cartesian, no Python."""
    df = QUERIES["tpch_q9_profit_by_nation"](spark, SF)
    p = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_tpch_q12_one_aggregate_pass(spark):
    """Q12: both priority classes come from ONE aggregate (conditional
    sums), not two scans or a pivot — exactly one HashAggregate pair."""
    import re

    df = QUERIES["tpch_q12_late_priority_classes"](spark, SF)
    p = formatted_plan(df)
    # partial+final = 2 HashAggregate nodes for the single logical agg
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2
    assert "CartesianProduct" not in p


def test_tpch_q15_max_is_broadcast_not_global_sort(spark):
    """Q15: the scalar MAX attaches as a 1-row broadcast; the plan must
    not sort all suppliers to take the top row (no TakeOrdered/global
    Sort ahead of the filter)."""
    df = QUERIES["tpch_q15_top_supplier"](spark, SF)
    p = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in p
    assert not uses_take_ordered(df)


def test_tpch_q21_semi_plus_anti_topk(spark):
    """Q21: the EXISTS/NOT-EXISTS double correlation must be one semi
    join plus one anti join over the shared late frame, with the top-10
    as a TakeOrdered heap."""
    df = QUERIES["tpch_q21_waiting_suppliers"](spark, SF)
    p = formatted_plan(df)
    assert "LeftSemi" in p and "LeftAnti" in p
    assert uses_take_ordered(df)
    assert "CartesianProduct" not in p


def test_tpch_q2_group_min_joinback_no_cartesian(spark):
    """Q2: the correlated scalar MIN decorrelates to a group-min joined
    back by (partkey, cost) equality; part/supplier/nation/region all
    broadcast; the top-100 is a TakeOrdered heap, never a global sort."""
    df = QUERIES["tpch_q2_min_cost_supplier"](spark, SF)
    p = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in p
    assert uses_take_ordered(df)


def test_tpch_q11_global_scalar_is_broadcast(spark):
    """Q11: the HAVING threshold (fraction of the nation total) attaches
    as a 1-row broadcast — no shuffled join, no window over the whole
    result, no Python."""
    df = QUERIES["tpch_q11_important_stock"](spark, SF)
    p = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "Window" not in p
    assert "Python" not in p


def test_tpch_q16_anti_join_exclusion(spark):
    """Q16: the NOT IN complaint-supplier exclusion must be a broadcast
    anti join; the distinct count keeps partial aggregation (two
    HashAggregate pairs: partial-distinct and final)."""
    df = QUERIES["tpch_q16_supplier_part_counts"](spark, SF)
    p = formatted_plan(df)
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_tpch_q20_stacked_semi_joins(spark):
    """Q20: both IN levels become semi joins (red-part restriction on
    partsupp, surviving-supplier restriction on supplier); the half-sum
    correlation is an equi-join on (part, supplier), never a cartesian."""
    df = QUERIES["tpch_q20_promotion_suppliers"](spark, SF)
    p = formatted_plan(df)
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_duplicate_spans_single_wide_exchange_no_python(spark):
    """The only corpus-wide exchange is the gram-frequency window; island
    merging is doc-partitioned; nothing drops to Python."""
    plan = formatted_plan(QUERIES["text_duplicate_spans"](spark, SF))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # gram window + doc window + top-k sort boundary: bounded exchanges
    assert shuffle_count(QUERIES["text_duplicate_spans"](spark, SF)) <= 4


def test_ewma_single_user_shuffle_one_window(spark):
    """All 8 lags must share ONE Window node over one user_id exchange."""
    df = QUERIES["events_ewma_anomaly"](spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2
    assert shuffle_count(df) <= 2  # user partition + final TakeOrdered


def test_mann_whitney_window_runs_over_aggregate_not_rows(spark):
    """The prefix-sum window must sit ABOVE the value groupBy (distinct-
    value cardinality), never over base rows."""
    plan = formatted_plan(QUERIES["stats_mann_whitney"](spark, SF))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans print top-down: the Window node appears before
    # (above) the value aggregate it consumes
    assert win_pos < plan.rfind("HashAggregate")


def test_kcore_peel_round_joins_broadcast(spark):
    """Every peel round's joins must broadcast — a SortMergeJoin of the
    edge view would shuffle the full edge list every round. r16 delta
    form: the removed-set semi-join filters the sym scan and the cut
    counts broadcast into the survivor decrement join. The catalog query
    hides round internals behind per-round lineage cuts, so inspect the
    symbolic (checkpoint=False) peel directly."""
    from nyc_taxi_pyspark_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u bigint, v bigint"
    )
    plan = formatted_plan(kcore_peel(edges, k=2, rounds=2, checkpoint=False))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the decrement form never re-aggregates the full alive edge view:
    # each round has exactly one semi-join (removed set) per sym scan
    assert "LeftSemi" in plan


def test_power_iteration_no_python_no_cartesian(spark):
    df = QUERIES["embed_power_iteration_pc1"](spark, SF)
    plan = formatted_plan(df)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_cusum_totals_broadcast_back(spark):
    """Per-type totals must broadcast to the prefix-sum pass, not SMJ."""
    df = QUERIES["events_cusum_changepoint"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan


def test_token_allocation_one_wide_aggregate(spark):
    """Everything after the source aggregate runs on |sources| rows: the
    plan may exchange the aggregate output and the tiny window input but
    never re-shuffle document rows."""
    df = QUERIES["corpus_token_allocation"](spark, SF)
    plan = formatted_plan(df)
    assert "PythonUDF" not in plan
    assert shuffle_count(df) <= 4


def test_skyline_no_pairwise_join(spark):
    """Skyline must never self-join the table: broadcast of the bounded
    cell stats, partitioned windows, no cartesian/SMJ of data rows."""
    df = QUERIES["part_skyline"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_hybrid_rrf_topk_arms_no_corpus_rank(spark):
    """Both retrieval arms must reach their candidate lists via TakeOrdered
    heaps (never a corpus-wide sort), and fusion stays JVM-side."""
    df = QUERIES["search_hybrid_rrf"](spark, SF)
    plan = formatted_plan(df)
    assert uses_take_ordered(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_session_overlap_equi_join_candidates(spark):
    """Overlap candidates must come from the grid-cell EQUI join — any
    nested-loop/cartesian means the range predicate leaked into the join
    strategy."""
    df = QUERIES["events_session_overlap"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_diff_in_diff_single_scan_one_row_agg(spark):
    """DiD is scan → partial agg → 1-row final: at most one exchange, no
    join, no Python."""
    df = QUERIES["events_diff_in_diff"](spark, SF)
    plan = formatted_plan(df)
    assert shuffle_count(df) <= 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_k_anonymity_two_aggregates_no_python(spark):
    """QI classes then the size histogram: two exchanges max, all JVM."""
    df = QUERIES["privacy_k_anonymity"](spark, SF)
    plan = formatted_plan(df)
    assert shuffle_count(df) <= 3
    assert "Python" not in plan and "Join" not in plan


def test_l_diversity_single_agg_take_ordered(spark):
    """Class size + distinct-count in ONE aggregate, worst-20 via heap."""
    df = QUERIES["privacy_l_diversity"](spark, SF)
    assert uses_take_ordered(df)
    assert "Python" not in formatted_plan(df)


def test_link_prediction_broadcast_seeds_no_cartesian(spark):
    """The 20-seed side must broadcast into the wedge join; no pairwise
    blowup anywhere."""
    df = QUERIES["graph_link_prediction"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_centroid_drift_bounded_aggregates_no_pairs(spark):
    """Drift is keyed aggregates + one broadcast join — never per-pair
    vector work or Python."""
    df = QUERIES["embed_centroid_drift"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert has_broadcast_join(df)


def test_anova_no_data_shuffle_beyond_group_agg(spark):
    """ANOVA: one event_type aggregate, a 1-row broadcast back, no Python."""
    df = QUERIES["stats_anova_oneway"](spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 3


def test_trigram_search_broadcast_verify_no_python(spark):
    """Candidates broadcast into the verify scan; no corpus-wide sort or
    Python anywhere."""
    df = QUERIES["text_trigram_search"](spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_modularity_broadcast_dims_no_cartesian(spark):
    """Brand dim and the 1-row m/Q stats broadcast; the only data-sized
    work is the edge list itself."""
    df = QUERIES["graph_brand_modularity"](spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_neyman_windows_on_strata_frame_only(spark):
    """One events aggregate; every window runs on the |strata|-row frame."""
    df = QUERIES["sample_neyman_allocation"](spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_gram_equijoin_no_cartesian(spark):
    """Intersections ride the gram equi-join; the only nested-loop is the
    bounded |sources|² pair grid."""
    df = QUERIES["corpus_source_overlap"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_rake_partitioned_windows_take_ordered(spark):
    """Run-splitting windows are per-doc partitioned; top-20 is a heap."""
    df = QUERIES["text_keyphrases_rake"](spark, SF)
    plan = formatted_plan(df)
    assert uses_take_ordered(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_survival_km_one_user_aggregate(spark):
    """Durations come from one conditional groupBy(user_id); the only
    join is the broadcast of the bounded cell-offset frame."""
    df = QUERIES["events_survival_km"](spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ks_distinct_value_frame_take_ordered(spark):
    """KS: one value aggregate, two-tier partitioned windows, 1-row heap;
    the only join is the broadcast of the bounded cell offsets."""
    df = QUERIES["stats_ks_test"](spark, SF)
    plan = formatted_plan(df)
    assert uses_take_ordered(df)
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_lateral_topn_decorrelates_to_window_no_nested_loop(spark):
    """The correlated LATERAL LIMIT must decorrelate (window/join plan) —
    a per-left-row nested-loop execution would be the scale trap."""
    df = QUERIES["sql_lateral_topn"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "BroadcastHashJoin" in plan


def test_gini_partitioned_rank_no_global_sort_of_customers(spark):
    """Gini's rank is two-tier: the only unpartitioned window runs on the
    bounded cell frame, and the customer-sized window is partitioned."""
    df = QUERIES["orders_gini_concentration"](spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)


def test_ks_value_frame_window_is_partitioned(spark):
    """KS's ECDF cumulative sums must NEVER run an unpartitioned window
    over the distinct-value frame (unbounded cardinality at scale): the
    two-tier rank hash-partitions the value window on the $10 cell key,
    and the only SinglePartition exchange feeds the bounded cell frame
    (value range / cell width — catalog metadata, not data-sized)."""
    df = QUERIES["stats_ks_test"](spark, SF)
    plan = formatted_plan(df)
    assert "hashpartitioning(cell" in plan  # value window sharded by cell
    assert plan.count("SinglePartition") <= 1  # cell-frame prefix only
    assert has_broadcast_join(df)  # cell offsets rejoin via broadcast
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_survival_km_risk_window_is_partitioned(spark):
    """Kaplan-Meier's reverse cumulative at-risk count must shard the
    distinct-duration frame: tier-1 above-suffix on the bounded 1-hour
    cell frame, tier-2 partitioned reverse prefix within cells."""
    df = QUERIES["events_survival_km"](spark, SF)
    plan = formatted_plan(df)
    assert "hashpartitioning(cell" in plan
    assert plan.count("SinglePartition") <= 1  # cell-frame suffix only
    assert has_broadcast_join(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_novelty_curve_cumsum_window_is_partitioned(spark):
    """The novelty running total must never single-task the corpus-sized
    per-doc frame: tier-1 prefix on the 1/1024 cell frame, tier-2
    partitioned within-cell prefix, broadcast rejoin."""
    df = QUERIES["text_novelty_curve"](spark, SF)
    plan = formatted_plan(df)
    assert "hashpartitioning(cell" in plan
    assert has_broadcast_join(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_value_frame_window_is_partitioned(spark):
    """Same two-tier discipline for the rank-sum midranks: the distinct-
    value cumulative count is a PARTITIONED window on the unit-width
    cell; SinglePartition exchanges are only the bounded cell prefix and
    the final 1-row statistic merge."""
    df = QUERIES["stats_mann_whitney"](spark, SF)
    plan = formatted_plan(df)
    assert "hashpartitioning(cell" in plan
    assert plan.count("SinglePartition") <= 2  # cell prefix + 1-row agg
    assert has_broadcast_join(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_cusum_prefix_window_is_partitioned(spark):
    """The CUSUM prefix must never run the naive per-type ordered window
    (cardinality ~5 → each type's whole history through one task; the
    amplified sweep measured it at E(32)=0.14 before the r12 re-plan):
    the fact shuffles once on (event_type, cell) and every window over a
    data-sized frame is partitioned by that composite; the only
    type-partitioned window runs on the bounded cell frame. Offsets
    rejoin via broadcast; argmax is an aggregate, not a second window."""
    from scripts.plan_audit import _single_partition_window

    df = QUERIES["events_cusum_changepoint"](spark, SF)
    plan = formatted_plan(df)
    assert "hashpartitioning(event_type" in plan  # (type, cell) shuffle
    assert not _single_partition_window(plan)
    assert has_broadcast_join(df)  # cell offsets rejoin via broadcast
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_asof_forward_single_user_shuffle(spark):
    """Forward as-of keeps the union+window shape: no join node at all."""
    df = QUERIES["join_asof_forward"](spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "Window" in plan
    assert shuffle_count(df) <= 2


def test_plan_audit_detector_classifies_window_shapes(spark):
    """The whole-catalog plan audit (scripts/plan_audit.py) is only as
    good as its detector: a GLOBAL window (Exchange SinglePartition ->
    Sort -> Window) must flag, while a partitioned window and a global
    aggregate's bounded single-partition merge must not."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )
    from pyspark.sql import Window as W

    from scripts.plan_audit import _single_partition_window

    base = spark.range(100)
    global_w = base.withColumn(
        "rn", F.row_number().over(W.orderBy("id"))
    )
    assert _single_partition_window(formatted_plan(global_w))

    part_w = base.withColumn(
        "rn", F.row_number().over(W.partitionBy(F.col("id") % 10).orderBy("id"))
    )
    assert not _single_partition_window(formatted_plan(part_w))

    global_agg = base.agg(F.sum("id").alias("s"))
    assert not _single_partition_window(formatted_plan(global_agg))


def test_grouped_map_single_wide_exchange(spark):
    """The grouped Python maps hash-partition on the group key ONCE at
    cluster width (functions.udfs._spread_groups): exactly one Exchange,
    keyed so the grouped-map clustering requirement inserts no second one,
    and pinned (REPARTITION_BY_NUM) so AQE byte-based coalescing cannot
    serialize the per-group Python work into one worker."""
    for name in ("udf_group_center", "udf_arrow_center"):
        df = QUERIES[name](spark, SF)
        plan = formatted_plan(df)
        assert shuffle_count(df) == 1, name
        assert "hashpartitioning(user_id" in plan, name

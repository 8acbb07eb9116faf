"""Results must be invariant to the shuffle-partition count.

At 100 TB the executor count and `spark.sql.shuffle.partitions` are tuning
knobs, not semantics — a query whose RESULT changes when the partitioning
changes is silently broken at scale (the advisor's key_sequence_gaps
boundary-handoff finding was exactly this class). This sweep runs the
partition-sensitive catalog shapes — boundary handoffs, window frames over
repartitioned keys, min-struct survivor picks, iterative label
propagation, range-bucketed layouts — under 3 vs 32 shuffle partitions in
two sibling sessions of one JVM and requires bit-identical canonical
results.

Queries built on seeded RNG sampling (sampled_agg, stratified_sample,
corpus_weighted_sample) are EXCLUDED by design: Spark's sample() is
seeded per-partition, so their row sets legitimately depend on the
partition layout — that contract is pinned by their own determinism tests
(same seed + same partitioning => same rows), not by this sweep.
"""

from __future__ import annotations

import pytest

from nyc_taxi_pyspark_spark.catalog import QUERIES
from nyc_taxi_pyspark_spark.catalog._cache import STATE
from scripts.layout_invariance_audit import canon_hash

SF = "/root/testdata/sf0.001"

# Partition-sensitive shapes: every query here must produce identical
# results at any shuffle-partition count.
SWEEP = [
    "sequence_gaps",  # range-partition boundary handoff
    "dedup_keep_first",  # min-struct survivor pick
    "text_chunk_dedup",  # min-(doc,pos) survivor over skewed chunk keys
    "events_sessionize",  # lag/cumsum windows over user partitions
    "corpus_pack_bins",  # sharded packing cumsum
    "text_near_dup_pairs",  # LSH band join + pair dedup
    "text_dup_clusters",  # iterative star-contraction components
    "source_syndication_rank",  # iterative pagerank accumulation
    "corpus_budget_select",  # bounded cumulative window + threshold
    "window_topn_per_group",  # rank over partitioned window
    "tpch_q18_large_orders",  # agg -> filter -> join -> top-k
    "events_gapfill",  # sequence expansion against sparse keys
    "orders_open_interval_count",  # sweep-line prefix sums
    "histogram_equidepth",  # sketch-based cutpoints (deterministic merge)
    # TPC-H round-8 batch: the shapes where partitioning could plausibly
    # leak into results — exact-cents max equality (Q15), semi+anti over
    # a shared derived frame (Q21), signed exact-cents sums (Q9), and the
    # conditional-share divisions (Q8/Q14)
    "tpch_q15_top_supplier",
    "tpch_q21_waiting_suppliers",
    "tpch_q9_profit_by_nation",
    "tpch_q8_market_share",
    "tpch_q14_promo_share",
    # TPC-H round-9 partsupp family: min-equality join-back (Q2), exact-
    # cents threshold against a 1-row global (Q11), and the correlated
    # half-sum comparison (Q20) are the partition-sensitive candidates
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q20_promotion_suppliers",
    # MG candidate sets vary with layout; the exact-verify phase must erase
    # that so the final heavy-hitter rows are layout-independent
    "text_heavy_hitters",
    # split -> merge of partial states must be bit-identical to the
    # one-shot aggregate at any partitioning (integer-cents merge law)
    "orders_incremental_kpis",
    # round-9 additions: gram-frequency window + island merge (spans),
    # per-user lag windows (ewma), exact-dyadic rank sums claimed
    # order-independent (mann-whitney), iterative semi-join peel (k-core)
    "text_duplicate_spans",
    "events_ewma_anomaly",
    "stats_mann_whitney",
    "graph_kcore_membership",
    # exact-int64 power iteration: sums must be order-independent
    "embed_power_iteration_pc1",
    # undivided integer CUSUM argmax; largest-remainder integer allocation
    "events_cusum_changepoint",
    "corpus_token_allocation",
    # keyed-MIN first occurrence + cumulative window over the doc agg
    "text_novelty_curve",
    # in-group struct sort fold must not depend on collect order
    "events_pattern_match",
    # round-9 third batch: prefix-max tiers over bucketed price order
    # (skyline), grid-cell join + pair distinct (overlap), candidate-list
    # ranks fused across two arms (hybrid RRF)
    "part_skyline",
    "events_session_overlap",
    "search_hybrid_rrf",
    # two-tier global rank (cells below + partitioned row_number) must not
    # depend on layout; integer remainder ranking; per-community int folds
    "orders_gini_concentration",
    "sample_neyman_allocation",
    "graph_brand_modularity",
    # distinct-value cumulative counts + integer argmax; reverse cumsum
    # risk sets over the distinct-duration frame
    "stats_ks_test",
    "events_survival_km",
    # registers a temp view over the cached pair frame (a sibling reading
    # another session's layout through it: tests/test_sibling_sessions.py)
    "sql_dup_clusters_recursive",
]


@pytest.fixture(scope="module")
def sessions(spark):
    lo = spark.newSession()
    lo.conf.set("spark.sql.shuffle.partitions", "3")
    hi = spark.newSession()
    hi.conf.set("spark.sql.shuffle.partitions", "32")
    return lo, hi


def _own_build_hash(session, name) -> str:
    """Hash the query's result with every layout built in ``session``:
    without the invalidate, a sibling would read the layout the other side
    persisted (catalog._cache), and the sweep would not test its own build."""
    STATE.invalidate()
    return canon_hash(QUERIES[name](session, SF).toPandas())


@pytest.mark.parametrize("name", SWEEP)
def test_result_invariant_to_shuffle_partitions(sessions, name):
    lo, hi = sessions
    assert _own_build_hash(lo, name) == _own_build_hash(hi, name)

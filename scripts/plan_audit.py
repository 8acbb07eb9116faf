#!/usr/bin/env python
"""Whole-catalog physical-PLAN audit.

tests/test_plans.py gates the plan shape of ~100 hand-picked queries;
this audit sweeps EVERY catalog query's formatted physical plan for the
two statically-detectable scale-killers and reports shuffle-count
outliers, so a Catalyst strategy flip in an ungated query surfaces as an
explicit line instead of a cluster incident:

  1. CartesianProduct — an all-pairs physical join. Allowlisted only for
     the deliberate cross-join demo; everywhere else the engine's
     LSH/banding/broadcast designs exist precisely to avoid this node.
  2. `Exchange SinglePartition` feeding a Window — a window over the
     whole dataset in ONE task. The round-10 window audit eliminated
     every instance (two-tier re-plans); this keeps the class dead.
     Single-partition exchanges into global aggregates / limits are fine
     (bounded rows) and are not flagged.
  3. (r13, VERDICT r12 item 6) a hash-partitioned exchange feeding a
     Window where EVERY partitioning key is a documented low-cardinality
     column (the type/flag/status columns of schemas.py) — parallelism
     capped at #distinct-values regardless of cluster width, the shape
     that made events_cusum_changepoint serial at scale while staying
     invisible to axis 2 (the exchange was hash(event_type), not
     SinglePartition). A composite key with at least one high-cardinality
     member (cell/bucket/day …) is the two-tier FIX and does not flag;
     windows over already-reduced bounded frames are allowlisted with
     their bound named in _EXPECTED.

Shuffle counts are informational (top offenders printed, no gate): the
right number is query-dependent, but a sudden jump shows up in the log
diff.

Planning only — no query is executed; AQE plans are inspected in their
initial (pre-runtime) form, which is exactly the static strategy being
audited. Streaming catalog entries DO start their (tiny, sf0.001)
streams on invocation; their final batch-side plan is what gets
audited. Usage:

    python scripts/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# Documented plan exceptions: query -> why the flagged node is correct.
#
# The single-partition-Window entries are all the BOUNDED second tier of
# a two-tier re-plan (the r10 window-audit discipline): tier 1
# distributes the data-sized work (per-cell/bucket/day aggregation),
# tier 2 runs the global window over the REDUCED frame whose row count
# is bounded by a domain constant, never by the data. The audit cannot
# see boundedness statically, so each entry names its bound; a NEW
# single-partition window not listed here is a regression and fails.
_EXPECTED: dict[str, str] = {
    # J-ext demo of the operator itself — the docstring warns it is the
    # anti-pattern at scale and exists for surface parity (compiles to a
    # broadcast nested-loop cross at testdata stats; kept in case stats
    # ever flip it to CartesianProduct)
    "join_cross": "deliberate cross-join demo (CartesianProduct is the point)",
    "window_range_frame": "tier-2 over per-day rollup (~2.5k calendar rows)",
    "orders_mom_growth": "tier-2 over ~80-row monthly series",
    "histogram_equidepth_exact": (
        "deliberate single-task exact demo; scalable form is "
        "histogram_equidepth"
    ),
    "sequence_gaps": "tier-2 over O(partitions) boundary-handoff rows",
    "orders_open_interval_count": "tier-2 over per-day sweep-line aggregate",
    "stats_mann_whitney": "tier-2 over one count per unit-width value cell",
    "part_skyline": "tier-2 over $100 price-cell stats (data-independent)",
    "sample_neyman_allocation": "tier-2 over one row per event-type stratum",
    "orders_gini_concentration": "tier-2 over $1000 revenue-cell stats",
    "stats_ks_test": "tier-2 over per-cell counts, not the distinct-value frame",
    "events_survival_km": "tier-2 over 1-hour duration cells",
    "corpus_budget_select": "tier-2 over <=1001 permille buckets",
    "corpus_token_allocation": "tier-2 over the tiny domain-cap frame",
    "embed_power_iteration_pc1": (
        "in-plan renormalizer max over the DIM^2=4096-row Gram sketch — "
        "frame bounded by the embedding dimension, not data (r15 one-pass "
        "Gram restructure)"
    ),
    # low-cardinality-hash-window axis (r13): tier-2 frames whose row
    # count the audit cannot see is already reduced/bounded, plus the
    # two deliberate window-function surface demos
    "events_cusum_changepoint": (
        "tier-2 over per-(type, 1-hour cell) aggregate — frame bounded "
        "by timespan hours, not data (r12 two-tier re-plan)"
    ),
    "corpus_pack_bins": (
        "tier-2 over per-(lang, 1024-id cell) token totals — 1/1024 "
        "frame; recurse the split if it outgrows a task (r13 re-plan)"
    ),
    "corpus_domain_cap": (
        "tier-2 over <=256 md5-prefix cells per source (r13 re-plan)"
    ),
    "window_rank_dense": (
        "deliberate rank/dense_rank surface demo; scalable global-rank "
        "form is the cell pattern (orders_gini_concentration)"
    ),
    "window_ntile_pctrank": (
        "deliberate ntile/percent_rank surface demo; scalable form is "
        "customer_rfm's cutpoint buckets"
    ),
}


def _tree_nodes(plan: str) -> list[tuple[int, str, int]]:
    """(depth, name, id) per operator-tree line, in tree order.

    The formatted plan's tree section lists `NodeName ... (id)` lines with
    `+- `/`:  ` indentation; the per-node details follow after a blank
    line. Depth is the column where the node name starts."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    nodes = []
    for ln in tree:
        m = re.search(r"([A-Za-z][A-Za-z0-9_]*(?: [A-Za-z]\w*)*)\s+\((\d+)\)\s*$", ln)
        if not m:
            continue
        nodes.append((ln.index(m.group(1)), m.group(1), int(m.group(2))))
    return nodes


def _single_partition_ids(plan: str) -> set[int]:
    """Ids of Exchange nodes whose details say `Arguments: SinglePartition`."""
    ids = set()
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange\b", block)
        if m and "SinglePartition" in block:
            ids.add(int(m.group(1)))
    return ids


# nodes a single-partition exchange may pass through before its real
# consumer (single-child, row-preserving)
_PASS_THROUGH = ("Sort", "Project", "Filter", "InputAdapter", "ColumnarToRow")

# Documented low-cardinality columns (schemas.py type/flag/status fields):
# a window hash-partitioned by ONLY these caps parallelism at the column's
# distinct count — single-digit for most of them — no matter how wide the
# cluster is. Derived all-caps variants cover the catalog's normalized
# projections of the same fields.
_LOW_CARD_COLS = {
    "c_mktsegment",
    "o_orderstatus",
    "o_orderpriority",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "event_type",
    "lang",
    "source",
    "store_and_fwd_flag",
    "payment_type",
    "payment_name",
    "p_brand",
    "p_container",
}


def _low_card_hash_ids(plan: str) -> dict[int, str]:
    """Ids of Exchange nodes whose hashpartitioning keys are ALL documented
    low-cardinality columns, mapped to the offending key list."""
    ids: dict[int, str] = {}
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange\b", block)
        if not m:
            continue
        hm = re.search(r"Arguments: hashpartitioning\((.+?), \d+\)", block)
        if not hm:
            continue
        cols = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", hm.group(1)))
        if cols and all(c.lower() in _LOW_CARD_COLS for c in cols):
            ids[int(m.group(1))] = ",".join(sorted(cols))
    return ids


def _low_card_windows(plan: str) -> list[str]:
    """Key lists of low-cardinality hash exchanges that feed a Window
    (through the same row-preserving pass-through chain as axis 2).

    A `WindowGroupLimit` BELOW the exchange (map-side partial top-k, the
    Spark 3.5+ rank<=k pushdown) bounds the shuffled frame to
    k × input-partitions rows per group — scale-safe, not flagged."""
    lc = _low_card_hash_ids(plan)
    if not lc:
        return []
    hits = []
    nodes = _tree_nodes(plan)
    for i, (depth, name, nid) in enumerate(nodes):
        if nid not in lc:
            continue
        # child chain: subsequent tree lines deeper than the exchange —
        # a map-side WindowGroupLimit there means the frame is bounded
        bounded = False
        for j in range(i + 1, len(nodes)):
            dj, namej, _ = nodes[j]
            if dj <= depth:
                break
            if namej.startswith("WindowGroupLimit"):
                bounded = True
                break
            if not namej.startswith(_PASS_THROUGH):
                break
        if bounded:
            continue
        d = depth
        for j in range(i - 1, -1, -1):
            dj, namej, _ = nodes[j]
            if dj >= d:
                continue
            if namej.startswith(("Window", "WindowGroupLimit")):
                hits.append(lc[nid])
                break
            if not namej.startswith(_PASS_THROUGH):
                break
            d = dj
    return hits


def _single_partition_window(plan: str) -> bool:
    """True if an `Exchange SinglePartition` feeds a Window node (possibly
    through a Sort/Project chain) — the whole dataset in ONE window task.
    Single-partition merges into global aggregates / limits are bounded
    and not flagged."""
    sp = _single_partition_ids(plan)
    if not sp:
        return False
    nodes = _tree_nodes(plan)
    for i, (depth, name, nid) in enumerate(nodes):
        if nid not in sp:
            continue
        # walk ancestors: nearest preceding line with smaller depth each
        # time, passing through row-preserving single-child nodes
        d = depth
        for j in range(i - 1, -1, -1):
            dj, namej, _ = nodes[j]
            if dj >= d:
                continue
            if namej.startswith(("Window", "WindowGroupLimit")):
                return True
            if not namej.startswith(_PASS_THROUGH):
                break
            d = dj
    return False


def main(argv: list[str]) -> int:
    sf_dir = (
        argv[0]
        if argv and os.path.isdir(argv[0])
        else "/root/testdata/sf0.001"
    )
    only = set(argv[1:] if argv and os.path.isdir(argv[0]) else argv)

    from nyc_taxi_pyspark_spark.catalog import QUERIES
    from nyc_taxi_pyspark_spark.plans.explain import formatted_plan
    from nyc_taxi_pyspark_spark.session import get_spark

    spark = get_spark("plan-audit")
    n_pass = n_flag = n_error = 0
    unexpected: list[str] = []
    expected_seen: list[str] = []
    shuffles: dict[str, int] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            n_error += 1
            line = f"ERROR {name}: {type(e).__name__}: {str(e)[:200]}"
            print(line, flush=True)
            unexpected.append(line)
            continue
        # plain `Exchange (id)` tree nodes are shuffles; BroadcastExchange
        # is a separate node name and not counted
        shuffles[name] = sum(
            1 for _, n, _ in _tree_nodes(plan) if n == "Exchange"
        )
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if _single_partition_window(plan):
            flags.append("single-partition Window")
        for keys in _low_card_windows(plan):
            flags.append(f"low-cardinality hash({keys}) Window")
        dt = time.time() - t0
        if not flags:
            n_pass += 1
            print(f"pass  {name} ({dt:.1f}s)", flush=True)
            continue
        n_flag += 1
        line = f"FLAG  {name}: {', '.join(flags)} ({dt:.1f}s)"
        print(line, flush=True)
        if name in _EXPECTED:
            expected_seen.append(f"{name}: {_EXPECTED[name]}")
        else:
            unexpected.append(line)

    top = sorted(shuffles.items(), key=lambda kv: -kv[1])[:10]
    print(f"\n{n_pass} pass, {n_flag} flagged, {n_error} error")
    print("--- shuffle-count top 10 (informational) ---")
    for n, c in top:
        print(f"  {c:3d}  {n}")
    print(f"--- audit: {len(expected_seen)} documented plan exceptions ---")
    for e in expected_seen:
        print("  documented:", e)
    if unexpected:
        print(f"--- audit: {len(unexpected)} UNEXPECTED plan flags ---")
        for u in unexpected:
            print("  UNEXPECTED:", u)
        return 1
    print("--- audit: no scale-killer plan nodes outside documented demos ---")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

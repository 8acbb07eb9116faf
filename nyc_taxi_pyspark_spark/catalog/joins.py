"""Join queries (SURVEY.md §2.3: J1 + the generalized join surface)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.functions.exact import davg, dsum, oracle_davg, oracle_dsum
from nyc_taxi_pyspark_spark.operators.joins import (
    asof_join,
    enrich_with_lookup,
    range_join_buckets,
)
from nyc_taxi_pyspark_spark.sources.io import load_table


@query(
    "join_lookup_enrich",
    oracle="""
    SELECT r.r_name AS region_name, COUNT(*) AS n_nations
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    ORDER BY n_nations DESC, region_name
    """,
)
def join_lookup_enrich(spark, sf_dir):
    """J1 — broadcast left enrich + grouped agg (the reference's only join,
    spark_jobs/02e_join_lookup.py:57-66, re-targeted at nation⋈region)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    enriched = enrich_with_lookup(
        nation, region, on=nation.n_regionkey == region.r_regionkey, how="left"
    )
    return (
        enriched.groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count("*").alias("n_nations"))
        .orderBy(F.desc("n_nations"), "region_name")
    )


@query(
    "join_inner_agg",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {oracle_dsum('o.o_totalprice', 2)} AS sum_total,
           {oracle_davg('o.o_totalprice', 2)} AS avg_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_inner_agg(spark, sf_dir):
    """Inner equi-join fact⋈dim + KPI agg. Customer is broadcast-sized at
    every SF (1.5 % of orders), so the hint avoids shuffling orders."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_total"),
            davg("o_totalprice", 2).alias("avg_total"),
        )
    )


@query(
    "join_left_missing",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IS NULL
    """,
)
def join_left_missing(spark, sf_dir):
    """Left join + null probe: customers with no orders (the classic
    enrich-miss diagnostic of J1's left-preserving semantics)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .filter(F.col("o_orderkey").isNull())
        .select("c_custkey", "c_name")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_with_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def join_semi(spark, sf_dir):
    """left_semi — EXISTS without right-payload shuffle (§2.3 extension)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_with_orders"))
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark, sf_dir):
    """left_anti — NOT EXISTS (§2.3 extension)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_three_way",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_lines,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_three_way(spark, sf_dir):
    """Three-way fact⋈fact⋈dim: lineitem⋈orders is PINNED to the shuffle
    sort-merge join (the only honest strategy for fact⋈fact — orders does
    not fit a broadcast at 100 TB); customer is broadcast. Revenue via
    exact decimal sum.

    The shuffle_merge hint is a round-10 adjudication result: a testdata
    regeneration shrank orders.parquet under the static broadcast
    threshold, and Catalyst's flip to a driver-built 150k-row hashed
    relation crept the warm median 0.68 s → ~1.09 s across rounds 1→9
    (the worst baseline ratio in the catalog). Interleaved A/B at sf0.1:
    hinted SMJ 0.63 s vs static broadcast 0.87 s median — the hint
    restores BOTH the baseline number and the scale-honest plan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.hint("shuffle_merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_lines"), dsum(revenue, 4).alias("revenue"))
    )


@query(
    "join_range_buckets",
    oracle=f"""
    SELECT b.bucket_label,
           COUNT(e.event_id) AS n,
           {oracle_dsum('e.value', 2)} AS sum_value
    FROM events e
    LEFT JOIN (VALUES
        ('low', 0.0, 5.0), ('mid', 5.0, 20.0),
        ('high', 20.0, 100.0), ('extreme', 100.0, 1e9)
    ) AS b(bucket_label, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)
def join_range_buckets(spark, sf_dir):
    """Range (non-equi) join against an in-memory interval dim (S4 + §2.3
    extension): broadcast nested-loop — each fact partition streams against
    the 4-row dim, zero shuffle."""
    ev = load_table(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 20.0), ("high", 20.0, 100.0), ("extreme", 100.0, 1e9)],
        T.StructType(
            [
                T.StructField("bucket_label", T.StringType(), False),
                T.StructField("lo", T.DoubleType(), False),
                T.StructField("hi", T.DoubleType(), False),
            ]
        ),
    )
    joined = range_join_buckets(ev, buckets, "value")
    return joined.groupBy("bucket_label").agg(
        F.count("event_id").alias("n"), dsum("value", 2).alias("sum_value")
    )


def _asof_same_scan(spark, sf_dir, direction: str):
    """Single-scan as-of for the click→error pairing (r16, guide §2.3):
    both sides of the as-of come from the SAME events table, so the
    generic ``operators.joins.asof_join`` union-of-two-filtered-scans
    form read the fact twice per call. One tagged scan halves the input;
    the window ordering and frames match the generic operator exactly
    (right rows visible at equal timestamps in both directions), so the
    result is bit-identical — interleaved A/B 0.487 → 0.418 s backward.
    The generic operator stays for the true two-table case."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    rows = ev.filter(F.col("event_type").isin("click", "error")).select(
        F.when(is_click, F.col("event_id")).alias("event_id"),
        "ts",
        "user_id",
        is_click.cast("int").alias("__is_left"),
        F.when(~is_click, F.col("ts")).alias("__r_ts"),
    )
    if direction == "backward":
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.col("ts").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        asof_ts = F.last("__r_ts", ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.col("ts").asc(), F.col("__is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        asof_ts = F.first("__r_ts", ignorenulls=True).over(w)
    return (
        rows.withColumn("asof_ts", asof_ts)
        .filter(F.col("__is_left") == 1)
        .select("event_id", "ts", "user_id", "asof_ts")
    )


@query(
    "join_asof",
    oracle="""
    SELECT c.event_id, c.ts, c.user_id,
           e.ts AS asof_ts,
           CAST(date_diff('second', e.ts, c.ts) AS BIGINT) AS secs_since_error
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def join_asof(spark, sf_dir):
    """As-of join (§2.3 extension; Spark has no native one): for each click,
    the most recent error by the same user. Tagged single-scan + window
    formulation (:func:`_asof_same_scan`) — one shuffle on user_id, linear
    per-group scan; oracle is DuckDB's native ASOF JOIN."""
    joined = _asof_same_scan(spark, sf_dir, "backward")
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        F.col("asof_ts"),
        (F.col("ts").cast("long") - F.col("asof_ts").cast("long")).alias(
            "secs_since_error"
        ),
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n.n_name, COUNT(s.s_suppkey) AS n_suppliers
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_right_outer(spark, sf_dir):
    """Right outer join — nations keep their row with 0 suppliers."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(c.n_customers, 0) AS n_customers,
           COALESCE(s.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
          FROM supplier GROUP BY 1) s
      ON c.nationkey = s.nationkey
    """,
)
def join_full_outer(spark, sf_dir):
    """Full outer join of two aggregates — nations with customers XOR
    suppliers survive on either side."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    joined = c.alias("c").join(
        s.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
        F.coalesce(F.col("c.n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("s.n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.status, COUNT(*) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) s
    GROUP BY 1, 2
    """,
)
def join_cross(spark, sf_dir):
    """Cross join (small×small only — the engine's big-data cross-product
    answer is LSH bucketing, see embed_near_dup_pairs)."""
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()
    return r.crossJoin(s).groupBy("r_name", "status").agg(F.count("*").alias("n"))


@query(
    "tpch_q5_local_volume",
    oracle=f"""
    SELECT n.n_name,
           {oracle_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)}
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def tpch_q5_local_volume(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): the 6-table join with the
    correlated locality predicate (customer and supplier share a nation)
    — the classic composite-plan benchmark. Catalyst's job here is the
    point: the region filter prunes before joining, nation/region/
    supplier broadcast as dims, the orders date range pushes to the
    scan, and only the customer⋈orders⋈lineitem chain shuffles on its
    keys. Revenue is the exact 4-decimal discounted-price sum, so the
    DESC ordering (tie-broken on nation) hash-checks."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    joined = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey,
               (CAST(SUM(try_cast(ROUND(l_quantity * 100.0) as bigint))
                     AS DOUBLE) / 100.0) / COUNT(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           {oracle_dsum("l.l_extendedprice", 2)} / CAST(7.0 AS DOUBLE)
               AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN per_part a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND l.l_quantity < CAST(0.2 AS DOUBLE) * a.avg_qty
    """,
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the correlated-scalar-
    subquery benchmark — "lines whose quantity is below 20 % of that
    part's average" — written the way Catalyst decorrelates it: the
    per-part average becomes a keyed aggregate joined back on the part
    key (one shuffle each side, AQE-broadcast when small), never a
    per-row subquery execution. The average is the exact integer-cents
    form (functions/exact.davg) so the 0.2·avg threshold is the
    identical double on both engines, and revenue/7 is one mirrored
    division of an exact sum."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#12"
    )
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        davg("l_quantity", 2).alias("avg_qty")
    )
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(per_part, li["l_partkey"] == F.col("__pk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
        (dsum("l_extendedprice", 2) / F.lit(7.0)).alias("avg_yearly"),
    )


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {oracle_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)}
               AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01'
      AND l.l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority): unshipped-order revenue for one
    market segment — the canonical selective-3-way-join-then-top-k.
    Catalyst gets the right plan from the declarative form alone: both
    date predicates push to the parquet scans, the BUILDING filter
    shrinks customer before its join (broadcast at bench SF, shuffle
    hash at 100 TB where AQE decides), and the final ORDER BY..LIMIT 10
    is a TakeOrdered — no global sort materializes. Revenue is the exact
    4-decimal discounted-price sum (functions/exact.dsum) so the DESC
    top-10, tie-broken on (o_orderdate, l_orderkey), hash-checks."""
    cutoff = F.lit("1998-07-01").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {oracle_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)}
               AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue from returned lineitems in one quarter. Shape notes for
    scale: the returnflag filter pushes into the lineitem scan (drops
    ~2/3 of the fact table before any join), the quarter window pushes
    into orders, nation broadcasts, and the customer⋈orders⋈lineitem
    chain shuffles once per key; grouping on the customer key keeps the
    aggregate partial-able. Exact 4-decimal revenue + c_custkey
    tie-break makes the top-20 hash-stable."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q18_large_orders",
    oracle=f"""
    WITH s AS (
        SELECT l_orderkey, {oracle_dsum("l_quantity", 2)} AS total_qty
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, s.total_qty
    FROM s
    JOIN orders o ON s.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE s.total_qty > 300
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): orders whose summed quantity
    tops 300 — the classic HAVING-subquery, decorrelated the way Catalyst
    wants it: ONE per-order aggregate (map-side partial, exact 2-decimal
    quantity sum) filtered to the rare heavy orders, then joined to
    orders/customer. The >300 filter makes the aggregate output tiny, so
    AQE broadcasts it into both joins at any scale — the big lineitem
    table is touched exactly once. Top-100 is a TakeOrdered on the stored
    o_totalprice double (read, not computed — bit-identical in both
    engines) with (o_orderdate, o_orderkey) tie-breaks."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "join_runtime_bloom",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           {oracle_dsum("l.l_quantity", 2)} AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_runtime_bloom(spark, sf_dir):
    """Shuffle join with runtime Bloom-filter pushdown: urgent orders
    select ~20 % of the order keys, and instead of shuffling the full
    lineitem table and discarding non-matches post-join, Catalyst builds
    a Bloom filter over the selected o_orderkey set and injects a
    ``might_contain`` probe into the lineitem scan — rows drop at the
    scan, before the shuffle. This is THE mechanism for selective
    fact⋈fact joins at 100 TB where the selective side exceeds broadcast
    size; plan-gated in tests/test_plans.py (bloom_filter_agg build +
    might_contain probe both present). Runs in a knob-scoped sibling
    session (operators/joins.runtime_bloom_session) so the shared
    session's broadcast behavior is untouched."""
    from nyc_taxi_pyspark_spark.operators.joins import runtime_bloom_session

    s = runtime_bloom_session(spark)
    o = load_table(s, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(s, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            dsum("l_quantity", 2).alias("sum_qty"),
        )
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT c.event_id, c.ts, c.user_id,
           e.ts AS asof_ts,
           CAST(date_diff('second', c.ts, e.ts) AS BIGINT)
             AS secs_until_error
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts <= e.ts
    """,
)
def join_asof_forward(spark, sf_dir):
    """Forward as-of join: for each click, the NEXT error by the same user
    — the time-to-failure / time-to-conversion direction the backward
    as-of can't answer. Same union + window formulation (one user_id
    shuffle, linear per-group scan) with the frame flipped to
    current..following and left rows sorting first at ties so an
    equal-timestamp error still matches (>= semantics, mirroring DuckDB's
    forward ASOF JOIN). Tagged single-scan form (:func:`_asof_same_scan`,
    r16) — same semantics, half the fact reads."""
    joined = _asof_same_scan(spark, sf_dir, "forward")
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        F.col("asof_ts"),
        (F.col("asof_ts").cast("long") - F.col("ts").cast("long")).alias(
            "secs_until_error"
        ),
    )

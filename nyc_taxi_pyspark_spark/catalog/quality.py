"""Data-quality, reconciliation, segmentation, and statistics queries.

Extends the reference's validation/EDA surface (null scan
``spark_jobs/02c_nulls_and_stats.py:31-52``, range-rule battery
``spark_jobs/02_clean_eda.py:31-43``, describe
``spark_jobs/02_clean_eda.py:58-66``) into the audit-and-repair toolkit a
large pipeline runs around every load: constraint audits, snapshot diffs,
group-mean imputation, RFM segmentation, closed-form regression, equi-width
histograms, and an explicitly salted two-phase aggregate for extreme-skew
keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.functions.exact import (
    dsum,
    dsum_wide,
    is_finite,
    oracle_dsum,
    oracle_dsum_wide,
    sdiv,
)
from nyc_taxi_pyspark_spark.operators.quality import (
    dq_audit,
    fill_group_mean,
    key_sequence_gaps,
    table_diff,
)
from nyc_taxi_pyspark_spark.operators.skew import salted_aggregate
from nyc_taxi_pyspark_spark.sources.io import load_table


def _dq_oracle() -> str:
    def row(name: str, viol: str) -> str:
        return f"""
        SELECT '{name}' AS constraint, COUNT(*) AS n_rows,
               CAST({viol} AS BIGINT) AS n_violations,
               ({viol}) = 0 AS passed
        FROM orders"""

    return " UNION ALL ".join(
        [
            row("not_null_custkey", "COUNT(*) - COUNT(o_custkey)"),
            row(
                "positive_totalprice",
                "SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)",
            ),
            row(
                "status_domain",
                "SUM(CASE WHEN o_orderstatus IN ('O','F','P') "
                "THEN 0 ELSE 1 END)",
            ),
            row(
                "priority_pattern",
                "SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') "
                "THEN 0 ELSE 1 END)",
            ),
            row(
                "orderdate_range",
                "SUM(CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= "
                "TIMESTAMP '1995-01-01 00:00:00' AND "
                "CAST(o_orderdate AS TIMESTAMP) < "
                "TIMESTAMP '2001-01-01 00:00:00' THEN 0 ELSE 1 END)",
            ),
            row("unique_orderkey", "COUNT(*) - COUNT(DISTINCT o_orderkey)"),
        ]
    )


@query("dq_audit_orders", oracle=_dq_oracle())
def dq_audit_orders(spark, sf_dir):
    """Deequ-style constraint audit (ref null scan + range battery unified,
    spark_jobs/02c_nulls_and_stats.py:31-52, 02_clean_eda.py:31-43): six
    constraints — including a deliberately failing date-range rule — in ONE
    scan + one aggregate, exploded to a long-form report."""
    orders = load_table(spark, sf_dir, "orders")
    return dq_audit(
        orders,
        checks=[
            ("not_null_custkey", F.col("o_custkey").isNotNull()),
            ("positive_totalprice", F.col("o_totalprice") > 0),
            ("status_domain", F.col("o_orderstatus").isin("O", "F", "P")),
            ("priority_pattern", F.col("o_orderpriority").rlike("^[1-5]-")),
            (
                "orderdate_range",
                (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderdate") < F.lit("2001-01-01")),
            ),
        ],
        unique_keys=[("unique_orderkey", ["o_orderkey"])],
    )


@query(
    "table_diff_orders",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE AS in_old
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 53 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice, TRUE AS in_new
        FROM orders WHERE o_orderkey % 89 <> 0
    ),
    d AS (
        SELECT CASE
            WHEN old.in_old IS NULL THEN 'added'
            WHEN new.in_new IS NULL THEN 'removed'
            WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
              OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
              THEN 'changed'
            ELSE 'same' END AS status
        FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    )
    SELECT status, COUNT(*) AS n_rows FROM d GROUP BY status ORDER BY status
    """,
)
def table_diff_orders(spark, sf_dir):
    """Snapshot reconciliation: two deterministic snapshots derived from
    orders (rows dropped on each side, prices changed on a third stripe),
    full-outer key join with null-safe column compare, rolled up to
    added/removed/changed/same counts. At 100 TB this is the daily
    load-verification query: one shuffle per snapshot on the key, AQE skew
    handling, no driver state. The doubled price stays IEEE-exact (×2 is a
    power of two), so the compare is bit-stable across engines."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 53 == 0, F.col("o_totalprice") * 2
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    diff = table_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return (
        diff.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("status")
    )


@query(
    "null_fill_group_mean",
    oracle="""
    WITH masked AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    means AS (
        SELECT event_type,
               (CAST(SUM(try_cast(ROUND(v * 100.0) as bigint)) AS DOUBLE)
                / 100.0) / COUNT(v) AS grp_mean
        FROM masked GROUP BY event_type
    )
    SELECT m.event_id, m.event_type, mm.grp_mean AS value
    FROM masked m JOIN means mm USING (event_type)
    WHERE m.event_id % 10 = 0
    """,
    # the mask predicate, NOT "v IS NULL": an event whose value is NULL in
    # the source data satisfies v IS NULL without being masked, so the
    # proxy diverges from the Spark plan's event_id-stripe filter the
    # moment real data has NULL measures (round-11 dirty-parity audit)
)
def null_fill_group_mean(spark, sf_dir):
    """Group-aware imputation (ref global null-fill,
    spark_jobs/02c_nulls_and_stats.py:54-63, upgraded to per-group): mask a
    deterministic 1/10 stripe of ``events.value`` to NULL, fill each hole
    with its event_type's mean via an order-independent integer-cents
    window sum, and return the imputed rows. One shuffle on the group key;
    the mean is bit-identical across engines (see functions/exact.py)."""
    # direct scan (r16, guide 2.4): the first wide op is a keyed
    # exchange, so the round-robin repartition was a wasted shuffle
    # of the full fact - interleaved A/B 0.465 -> 0.344 s, bit-identical
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 10 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    was_null = F.col("event_id") % 10 == 0
    filled = fill_group_mean(masked, ["event_type"], "value", scale=2)
    return filled.filter(was_null).select("event_id", "event_type", "value")


@query(
    "customer_rfm",
    oracle="""
    WITH anchor AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d FROM orders
    ),
    per_cust AS (
        SELECT o_custkey,
               date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                         (SELECT max_d FROM anchor)) AS recency_days,
               COUNT(*) AS frequency,
               SUM(try_cast(ROUND(o_totalprice * 100.0) as bigint))
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_disc(recency_days, [0.25, 0.5, 0.75]) AS rc,
               quantile_disc(frequency, [0.25, 0.5, 0.75]) AS fc,
               quantile_disc(monetary_cents, [0.25, 0.5, 0.75]) AS mc
        FROM per_cust
    ),
    scored AS (
        SELECT o_custkey, monetary_cents,
               1 + len(list_filter(rc, c -> recency_days > c)) AS r_score,
               1 + len(list_filter(fc, c -> frequency < c)) AS f_score,
               1 + len(list_filter(mc, c -> monetary_cents < c)) AS m_score
        FROM per_cust CROSS JOIN cuts
    )
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           CAST(SUM(monetary_cents) AS DOUBLE) / 100.0 AS total_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def customer_rfm(spark, sf_dir):
    """RFM segmentation — the classic customer-value rollup the reference's
    KPI jobs (spark_jobs/03_kpis.py) stop short of: per-customer recency/
    frequency/monetary, quartile scores (1 = best: most recent, most
    frequent, highest spend), segment counts.

    The quartile scores come from three cutpoint triples computed in ONE
    aggregate over the per-customer rollup and broadcast as a range
    lookup — never unpartitioned NTILE, whose single-task global sort
    (three of them, previously) dies at billions of customers. Ties at a
    cutpoint share a score. The cutpoints are MERGEABLE approx_percentile
    sketches (bounded partials — exact `percentile` would buffer every
    customer row in the final reducer), exact and quantile_disc-
    adjudicated up to the 1e6-value accuracy bound, graceful past it; as
    discrete data values they are integers, so every bucket comparison
    is int-vs-int."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("__max_d")
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).try_cast("bigint")
            ).alias("monetary_cents"),
        )
        .join(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("__max_d", "__last_d"))
    )
    acc = 1000000
    cuts = per_cust.agg(
        F.expr(
            f"approx_percentile(recency_days, array(0.25, 0.5, 0.75), {acc})"
        ).alias("__rc"),
        F.expr(
            f"approx_percentile(frequency, array(0.25, 0.5, 0.75), {acc})"
        ).alias("__fc"),
        F.expr(
            f"approx_percentile(monetary_cents, array(0.25, 0.5, 0.75), {acc})"
        ).alias("__mc"),
    )
    rec, freq, mon = (
        F.col("recency_days"),
        F.col("frequency"),
        F.col("monetary_cents"),
    )
    scored = per_cust.join(F.broadcast(cuts)).select(
        "o_custkey",
        "monetary_cents",
        (
            F.lit(1) + F.size(F.filter(F.col("__rc"), lambda c: rec > c))
        ).alias("r_score"),
        (
            F.lit(1) + F.size(F.filter(F.col("__fc"), lambda c: freq < c))
        ).alias("f_score"),
        (
            F.lit(1) + F.size(F.filter(F.col("__mc"), lambda c: mon < c))
        ).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("monetary_cents").cast("double") / 100.0).alias(
                "total_monetary"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def _regr_oracle() -> str:
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx = oracle_dsum("l_quantity", 2)
    sy = oracle_dsum("l_extendedprice", 2)
    sxy = oracle_dsum_wide("l_quantity * l_extendedprice", 4)
    sxx = oracle_dsum("l_quantity * l_quantity", 4)
    syy = oracle_dsum_wide("l_extendedprice * l_extendedprice", 4)
    slope = f"(({n} * {sxy}) - ({sx} * {sy})) / (({n} * {sxx}) - ({sx} * {sx}))"
    return f"""
    SELECT l_returnflag, COUNT(*) AS n,
           {slope} AS slope,
           ({sy} - ({slope}) * {sx}) / {n} AS intercept,
           (({slope}) * ({slope})) * (({n} * {sxx}) - ({sx} * {sx}))
               / (({n} * {syy}) - ({sy} * {sy})) AS r2
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """


@query("stats_regression", oracle=_regr_oracle())
def stats_regression(spark, sf_dir):
    """Closed-form per-group OLS (extendedprice ~ quantity by returnflag)
    from exact moment sums — the distributed way to fit millions of
    per-segment models: one scan, one hash aggregate, arithmetic on the
    1-row-per-group result. The moment sums use integer-cents accumulation
    and the slope/intercept/r² arithmetic mirrors the oracle expression
    shape exactly, so every double is bit-identical across engines
    (ref describe-stats surface, spark_jobs/02_clean_eda.py:58-66)."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        n.alias("__n"),
        dsum("l_quantity", 2).alias("__sx"),
        dsum("l_extendedprice", 2).alias("__sy"),
        dsum_wide(
            F.col("l_quantity") * F.col("l_extendedprice"), 4
        ).alias("__sxy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), 4).alias("__sxx"),
        dsum_wide(
            F.col("l_extendedprice") * F.col("l_extendedprice"), 4
        ).alias("__syy"),
    )
    nn, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    # sdiv: a single-row group (or zero x/y variance) yields NULL slope/
    # intercept/r² — DuckDB's own x/0 semantics, not an ANSI job abort
    slope = sdiv((nn * sxy) - (sx * sy), (nn * sxx) - (sx * sx))
    return agg.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        sdiv(sy - slope * sx, nn).alias("intercept"),
        sdiv(
            (slope * slope) * ((nn * sxx) - (sx * sx)),
            (nn * syy) - (sy * sy),
        ).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "histogram_totalprice",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) * 25000.0
               AS bucket_lo,
           COUNT(*) AS n_orders,
           {oracle_dsum("o_totalprice", 2)} AS sum_price
    FROM orders GROUP BY 1, 2 ORDER BY 1
    """,
)
def histogram_totalprice(spark, sf_dir):
    """Equi-width histogram of order totals (25k-wide buckets) — the
    describe/EDA primitive (ref spark_jobs/02_clean_eda.py:58-66) as a
    distributed aggregate: bucket id is FLOOR of the identical IEEE
    division on both engines (never ROUND — floor has no boundary mode to
    diverge on), then a single hash aggregate on ~20 keys."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("bigint")
    return (
        orders.groupBy(
            bucket.alias("bucket"),
            (bucket * F.lit(25000.0)).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
        .orderBy("bucket")
    )


@query(
    "stats_chi2",
    oracle="""
    WITH cells AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS nn FROM cells),
    rt AS (SELECT s, SUM(n) AS rn FROM cells GROUP BY s),
    ct AS (SELECT p, SUM(n) AS cn FROM cells GROUP BY p),
    terms AS (
        SELECT
            (CAST(c.n AS DOUBLE)
             - (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)
                / CAST(nn AS DOUBLE))) AS d,
            (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE))
                AS e
        FROM cells c JOIN rt USING (s) JOIN ct USING (p) CROSS JOIN tot
    )
    SELECT COUNT(*) AS n_cells,
           (SELECT (COUNT(DISTINCT s) - 1) * (COUNT(DISTINCT p) - 1)
            FROM cells) AS dof,
           CAST(SUM(CAST(FLOOR((d * d / e) * 1000000000.0) AS BIGINT))
                AS DOUBLE) / 1000000000.0 AS chi2
    FROM terms
    """,
)
def stats_chi2(spark, sf_dir):
    """Chi-square independence test on the status × priority contingency
    table — the categorical-association primitive behind feature selection.
    One hash aggregate builds the cells; row/column totals are window sums
    over the TINY cell table (R×C rows, never the base data); each cell's
    (obs−exp)²/exp term is floor-quantized to nano-units before the final
    sum, so the statistic is order-independent and bit-identical across
    engines (the floor-micro-quantization pattern from
    operators/similarity.py — round would be engine-divergent here because
    the terms are arbitrary reals)."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("nn"))
    enriched = (
        cells.withColumn("rn", F.sum("n").over(Window.partitionBy("s")))
        .withColumn("cn", F.sum("n").over(Window.partitionBy("p")))
        .join(F.broadcast(tot))
    )
    e = (
        F.col("rn").cast("double")
        * F.col("cn").cast("double")
        / F.col("nn").cast("double")
    )
    d = F.col("n").cast("double") - e
    term_q = F.floor((d * d / e) * F.lit(1000000000.0)).cast("bigint")
    dof = cells.agg(
        (
            (F.count_distinct("s") - 1) * (F.count_distinct("p") - 1)
        ).alias("dof")
    )
    return (
        enriched.agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.sum(term_q).cast("double") / F.lit(1000000000.0)).alias(
                "chi2"
            ),
        )
        .join(F.broadcast(dof))
        .select("n_cells", "dof", "chi2")
    )


def _scaling_oracle() -> str:
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx = oracle_dsum("l_extendedprice", 2)
    sxx = oracle_dsum_wide("l_extendedprice * l_extendedprice", 4)
    return f"""
    WITH stats AS (
        SELECT {n} AS n, {sx} AS sx, {sxx} AS sxx,
               MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           (l_extendedprice - (sx / n))
               / SQRT((sxx - (sx * sx) / n) / (n - 1.0)) AS price_z,
           (l_quantity - qmin) / (qmax - qmin) AS qty_minmax
    FROM lineitem CROSS JOIN stats
    WHERE l_orderkey % 997 = 0
    ORDER BY l_orderkey, l_linenumber
    """


@query("feature_scaling", oracle=_scaling_oracle())
def feature_scaling(spark, sf_dir):
    """ML feature preprocessing as a distributed plan: global z-score of
    extendedprice and min-max of quantity, applied row-wise via a 1-row
    broadcast of the fitted stats (the scatter-the-fit pattern — at 100 TB
    the stats pass is one scan + 1-row result, the transform pass is
    embarrassingly parallel). Mean/stddev come from exact integer-cents
    sums (x² widened to a decimal accumulator past int64 range); the
    per-row arithmetic mirrors the oracle expression shape, so every
    scaled double is bit-identical across engines. Output is a
    deterministic key stripe, not a seeded sample."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    stats = li.agg(
        n.alias("__n"),
        dsum("l_extendedprice", 2).alias("__sx"),
        dsum_wide(
            F.col("l_extendedprice") * F.col("l_extendedprice"), 4
        ).alias("__sxx"),
        F.min("l_quantity").alias("__qmin"),
        F.max("l_quantity").alias("__qmax"),
    )
    nn, sx, sxx = F.col("__n"), F.col("__sx"), F.col("__sxx")
    sd = F.sqrt((sxx - (sx * sx) / nn) / (nn - F.lit(1.0)))
    return (
        li.filter(F.col("l_orderkey") % 997 == 0)
        .join(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_linenumber",
            ((F.col("l_extendedprice") - (sx / nn)) / sd).alias("price_z"),
            (
                (F.col("l_quantity") - F.col("__qmin"))
                / (F.col("__qmax") - F.col("__qmin"))
            ).alias("qty_minmax"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "orders_mom_growth",
    oracle="""
    WITH monthly AS (
        SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
               (CAST(SUM(try_cast(ROUND(o_totalprice * 100.0) as bigint))
                     AS DOUBLE) / 100.0) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           (revenue - LAG(revenue) OVER (ORDER BY month))
               / LAG(revenue) OVER (ORDER BY month) AS mom_growth
    FROM monthly ORDER BY month
    """,
)
def orders_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth — the BI time-series staple (ref KPI
    family, spark_jobs/03_kpis.py): exact monthly sums, a LAG over the
    ~80-row monthly series (tiny single-partition window AFTER
    aggregation, never over base rows), growth as deterministic IEEE
    division. NULL first month on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(dsum("o_totalprice", 2).alias("revenue"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        (
            (F.col("revenue") - F.lag("revenue").over(w))
            / F.lag("revenue").over(w)
        ).alias("mom_growth"),
    ).orderBy("month")


def _ttest_oracle() -> str:
    def side(t: str, alias: str) -> str:
        n = f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS DOUBLE)"
        sx = (
            "(CAST(SUM(CASE WHEN event_type = '" + t + "' THEN "
            "try_cast(ROUND(value * 100.0) as bigint) END) AS DOUBLE) / 100.0)"
        )
        sxx = (
            "(CAST(SUM(CASE WHEN event_type = '" + t + "' THEN "
            "try_cast(ROUND((value * value) * 10000.0) as bigint) END) AS DOUBLE)"
            " / 10000.0)"
        )
        return f"{n} AS n_{alias}, {sx} AS sx_{alias}, {sxx} AS sxx_{alias}"

    return f"""
    WITH s AS (
        SELECT {side("click", "a")}, {side("error", "b")} FROM events
    ),
    m AS (
        SELECT n_a, n_b,
               sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
               (sxx_a - (sx_a * sx_a) / n_a) / (n_a - 1.0) AS var_a,
               (sxx_b - (sx_b * sx_b) / n_b) / (n_b - 1.0) AS var_b
        FROM s
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a - mean_b AS mean_diff,
           (mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b) AS t_stat,
           ((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b))
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1.0)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1.0)) AS welch_df
    FROM m
    """


@query("stats_ttest", oracle=_ttest_oracle())
def stats_ttest(spark, sf_dir):
    """Welch's two-sample t-test (click vs error event values) — the A/B
    comparison primitive, computed in ONE scan with conditional exact-sum
    aggregates per arm: means and variances from integer-cents moments,
    t statistic and Welch-Satterthwaite df as deterministic IEEE
    arithmetic mirrored expression-for-expression with the oracle (sqrt is
    IEEE-correctly-rounded, unlike libm exp/ln, so the statistic stays in
    the hash gate). Completes the stats trio with stats_regression and
    stats_chi2. Direct scan (r16, guide §2.4): the only op before the
    global aggregate is a conditional projection, so the round-robin
    repartition was a wasted exchange — A/B 0.532 → 0.364 s."""
    ev = load_table(spark, sf_dir, "events")

    def side(t: str):
        is_t = F.col("event_type") == t
        cents = F.when(is_t, F.round(F.col("value") * 100).try_cast("bigint"))
        sqc = F.when(
            is_t,
            F.round(F.col("value") * F.col("value") * 10000).try_cast("bigint"),
        )
        return (
            F.count(F.when(is_t, 1)).cast("double"),
            F.sum(cents).cast("double") / F.lit(100.0),
            F.sum(sqc).cast("double") / F.lit(10000.0),
        )

    na, sxa, sxxa = side("click")
    nb, sxb, sxxb = side("error")
    s = ev.agg(
        na.alias("n_a"), sxa.alias("sx_a"), sxxa.alias("sxx_a"),
        nb.alias("n_b"), sxb.alias("sx_b"), sxxb.alias("sxx_b"),
    )
    # every division through sdiv: NULL on a degenerate arm (n<2, or a
    # zero pooled SE) exactly as DuckDB's float division yields NULL —
    # Spark's ANSI mode would otherwise abort the job on a 1-row arm
    n_a, n_b = F.col("n_a"), F.col("n_b")
    mean_a = sdiv(F.col("sx_a"), n_a)
    mean_b = sdiv(F.col("sx_b"), n_b)
    var_a = sdiv(
        F.col("sxx_a") - sdiv(F.col("sx_a") * F.col("sx_a"), n_a),
        n_a - F.lit(1.0),
    )
    var_b = sdiv(
        F.col("sxx_b") - sdiv(F.col("sx_b") * F.col("sx_b"), n_b),
        n_b - F.lit(1.0),
    )
    se2a, se2b = sdiv(var_a, n_a), sdiv(var_b, n_b)
    return s.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        (mean_a - mean_b).alias("mean_diff"),
        sdiv(mean_a - mean_b, F.sqrt(se2a + se2b)).alias("t_stat"),
        sdiv(
            (se2a + se2b) * (se2a + se2b),
            sdiv(se2a * se2a, n_a - F.lit(1.0))
            + sdiv(se2b * se2b, n_b - F.lit(1.0)),
        ).alias("welch_df"),
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_nationkey AS nationkey, 1 AS version,
               TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
               CASE WHEN c_custkey % 50 = 0
                    THEN TIMESTAMP '1998-01-01 00:00:00' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_nationkey + 1, 2,
               TIMESTAMP '1998-01-01 00:00:00', NULL
        FROM customer WHERE c_custkey % 50 = 0
    )
    SELECT d.version, COUNT(*) AS n_orders,
           COUNT(DISTINCT o.o_custkey) AS n_customers
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
        AND CAST(o.o_orderdate AS TIMESTAMP) >= d.valid_from
        AND (d.valid_to IS NULL
             OR CAST(o.o_orderdate AS TIMESTAMP) < d.valid_to)
    GROUP BY d.version ORDER BY d.version
    """,
)
def scd2_point_in_time_join(spark, sf_dir):
    """Point-in-time join against an SCD2 dimension: each order picks the
    dimension version valid AT ITS ORDER DATE (v2 exists for every 50th
    customer from 1998-01-01). The join is an equi-join on the key with a
    residual validity-range predicate — a BroadcastHashJoin when the dim
    fits (here) and a key-partitioned SMJ with the same residual at 100 TB;
    never a range-only nested loop, because the equi-key carries the join.
    Composes scd2_versions (sources/lakehouse.scd2_close_and_insert) with
    the temporal-lookup read side every warehouse backfill needs."""
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        F.lit(1).alias("version"),
        F.lit("1995-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 50 == 0,
            F.lit("1998-01-01 00:00:00").cast("timestamp"),
        ).alias("valid_to"),
    )
    v2 = c.filter(F.col("c_custkey") % 50 == 0).select(
        "c_custkey",
        (F.col("c_nationkey") + 1).alias("nationkey"),
        F.lit(2).alias("version"),
        F.lit("1998-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("o_orderdate") < F.col("valid_to"))
        ),
    )
    return (
        joined.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
        .orderBy("version")
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        moments.append(f"{oracle_dsum(c, 2)} AS s_{c}")
        for d in _CORR_COLS:
            if c <= d:
                moments.append(
                    f"{oracle_dsum_wide(f'{c} * {d}', 4)} AS s_{c}_{d}"
                )
    pairs = []
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1 :]:
            xy = f"s_{min(x, y)}_{max(x, y)}"
            cov = f"(n * {xy} - s_{x} * s_{y})"
            vx = f"(n * s_{x}_{x} - s_{x} * s_{x})"
            vy = f"(n * s_{y}_{y} - s_{y} * s_{y})"
            pairs.append(
                f"SELECT '{x}' AS var_x, '{y}' AS var_y, "
                f"{cov} / (SQRT({vx}) * SQRT({vy})) AS corr FROM m"
            )
    return (
        "WITH m AS (SELECT "
        + ", ".join(moments)
        + " FROM lineitem) "
        + " UNION ALL ".join(pairs)
        + " ORDER BY var_x, var_y"
    )


@query("stats_corr_matrix", oracle=_corr_oracle())
def stats_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations of the four lineitem measures from ONE
    scan + one aggregate of exact moments (products in the wide portable
    accumulator), unrolled to the 6-pair long form on the 1-row result.
    The moment-matrix-then-arithmetic split is how a 100 TB correlation
    matrix is actually computed — never 6 passes; mirrored expression
    shapes keep every double bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(dsum(c, 2).alias(f"s_{c}"))
        for d in _CORR_COLS:
            if c <= d:
                aggs.append(
                    dsum_wide(F.col(c) * F.col(d), 4).alias(f"s_{c}_{d}")
                )
    m = li.agg(*aggs)
    n = F.col("n")
    structs = []
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1 :]:
            xy = f"s_{min(x, y)}_{max(x, y)}"
            cov = n * F.col(xy) - F.col(f"s_{x}") * F.col(f"s_{y}")
            vx = n * F.col(f"s_{x}_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}")
            vy = n * F.col(f"s_{y}_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}")
            structs.append(
                F.struct(
                    F.lit(x).alias("var_x"),
                    F.lit(y).alias("var_y"),
                    (cov / (F.sqrt(vx) * F.sqrt(vy))).alias("corr"),
                )
            )
    return (
        m.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.var_x", "p.var_y", "p.corr")
        .orderBy("var_x", "var_y")
    )


_DECILE_PS = [i / 10.0 for i in range(1, 10)]


@query(
    "histogram_equidepth",
    oracle=f"""
    WITH cuts AS (
        SELECT quantile_disc(try_cast(ROUND(o_totalprice * 100.0) as bigint),
                             [{", ".join(str(p) for p in _DECILE_PS)}]) AS cs
        FROM orders
    ),
    b AS (
        SELECT o_totalprice,
               1 + len(list_filter(cs,
                     c -> try_cast(ROUND(o_totalprice * 100.0) as bigint) > c))
                   AS bucket
        FROM orders CROSS JOIN cuts
    )
    SELECT bucket, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           {oracle_dsum("o_totalprice", 2)} AS sum_price
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def histogram_equidepth(spark, sf_dir):
    """Equi-depth (decile) histogram — the optimizer-statistics twin of
    histogram_totalprice's equi-width form, built the way it must be at
    100 TB: ONE aggregate computes the nine decile cutpoints, the tiny
    1-row result broadcasts, and every row buckets with a range lookup
    (1 + number of cutpoints strictly below it). No unpartitioned
    WindowExec anywhere — the former NTILE form funneled the whole table
    through a single task (Spark moves ALL rows to one partition for an
    unpartitioned window) and is kept as histogram_equidepth_exact for
    small inputs. Cutpoints come from the MERGEABLE approx_percentile
    sketch over integer cents (bounded partials; exact and
    quantile_disc-adjudicated up to the 1e6-value accuracy bound,
    graceful past it), so bucket comparisons are int-vs-int. Ties at a
    cutpoint share a bucket, so depths are near-equal, not exact — the
    honest semantics of any statistics-based equi-depth histogram."""
    orders = load_table(spark, sf_dir, "orders")
    cents_sql = "try_cast(round(o_totalprice * 100.0) as bigint)"
    ps = ", ".join(str(p) for p in _DECILE_PS)
    cuts = orders.agg(
        F.expr(
            f"approx_percentile({cents_sql}, array({ps}), 1000000)"
        ).alias("__cs")
    )
    cents = F.round(F.col("o_totalprice") * 100.0).try_cast("bigint")
    b = orders.join(F.broadcast(cuts)).select(
        "o_totalprice",
        (
            F.lit(1)
            + F.size(F.filter(F.col("__cs"), lambda c: cents > c))
        ).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
        .orderBy("bucket")
    )


@query(
    "histogram_equidepth_exact",
    oracle=f"""
    WITH b AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           {oracle_dsum("o_totalprice", 2)} AS sum_price
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def histogram_equidepth_exact(spark, sf_dir):
    """Exact-depth variant: NTILE(10) with a key tiebreak gives buckets
    whose sizes differ by at most one. The unpartitioned window is a
    DELIBERATE single-task global sort — correct but only usable on
    inputs that fit one task (a pre-aggregated or sampled table); the
    scalable production form is histogram_equidepth."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    b = orders.select(
        "o_totalprice", F.ntile(10).over(w).alias("bucket")
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
        .orderBy("bucket")
    )


@query(
    "group_quantiles",
    oracle="""
    SELECT event_type,
           quantile_cont(try_cast(ROUND(value * 100.0) as bigint), 0.50) / 100.0
               AS p50,
           quantile_cont(try_cast(ROUND(value * 100.0) as bigint), 0.90) / 100.0
               AS p90,
           quantile_cont(try_cast(ROUND(value * 100.0) as bigint), 0.99) / 100.0
               AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def group_quantiles(spark, sf_dir):
    """Per-group exact interpolated percentiles (p50/p90/p99 of event value
    per type) — the latency-SLO observability staple. Values are scaled to
    integer cents BEFORE the percentile so the interpolation runs between
    integers (the engine-portable form proven by exact_quantiles and
    events_anomaly_mad at both SFs), then scaled back. One shuffle on the
    group key; at 100 TB swap to approx_percentile with the same output
    schema when exactness isn't required."""
    # direct scan (r16, guide 2.4): the first wide op is a keyed
    # exchange, so the round-robin repartition was a wasted shuffle
    # of the full fact - interleaved A/B 0.788 -> 0.638 s, bit-identical
    ev = load_table(spark, sf_dir, "events")
    cents = "try_cast(round(value * 100.0) as bigint)"
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr(f"percentile({cents}, 0.50) / 100.0").alias("p50"),
            F.expr(f"percentile({cents}, 0.90) / 100.0").alias("p90"),
            F.expr(f"percentile({cents}, 0.99) / 100.0").alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "group_quantiles_approx",
    oracle="""
    SELECT event_type,
           CAST(qs[1] AS DOUBLE) / 100.0 AS p50,
           CAST(qs[2] AS DOUBLE) / 100.0 AS p90,
           CAST(qs[3] AS DOUBLE) / 100.0 AS p99
    FROM (
        SELECT event_type,
               quantile_disc(try_cast(ROUND(value * 100.0) as bigint),
                             [0.5, 0.9, 0.99]) AS qs
        FROM events GROUP BY event_type
    ) ORDER BY event_type
    """,
)
def group_quantiles_approx(spark, sf_dir):
    """Per-group percentiles via the MERGEABLE sketch (approx_percentile /
    Greenwald-Khanna) — the form that survives both failure modes of exact
    percentile at 100 TB: exact `percentile` partials buffer every value
    (no map-side reduction, reducer memory scales with group size), and a
    low-cardinality group key caps parallelism at #groups. The sketch is
    bounded-size and merges associatively, so map-side partials do real
    work and the reducer sees O(accuracy) state per group. At test SF the
    accuracy bound (1e5) exceeds every group's row count, so the sketch is
    EXACT and hash-checkable against DuckDB's discrete quantile — the same
    plan that would run at scale, adjudicated exactly where it can be."""
    # direct scan (r16, guide 2.4): the first wide op is a keyed
    # exchange, so the round-robin repartition was a wasted shuffle
    # of the full fact - interleaved A/B 0.591 -> 0.276 s, bit-identical
    ev = load_table(spark, sf_dir, "events")
    cents = "try_cast(round(value * 100.0) as bigint)"
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr(
                f"approx_percentile({cents}, array(0.5, 0.9, 0.99), 100000)"
            ).alias("__qs")
        )
        .select(
            "event_type",
            (F.col("__qs")[0].cast("double") / 100.0).alias("p50"),
            (F.col("__qs")[1].cast("double") / 100.0).alias("p90"),
            (F.col("__qs")[2].cast("double") / 100.0).alias("p99"),
        )
        .orderBy("event_type")
    )


_DRIFT_ORACLE = """
    WITH banded AS (
        SELECT event_type,
               CASE WHEN CAST(FLOOR(value / CAST(50.0 AS DOUBLE)) AS BIGINT) > 9
                    THEN 9
                    ELSE CAST(FLOOR(value / CAST(50.0 AS DOUBLE)) AS BIGINT)
               END AS band,
               CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_first
        FROM events
        WHERE value IS NULL OR isfinite(value)
    ),
    cells AS (
        SELECT event_type, band,
               CAST(SUM(is_first) AS BIGINT) AS o1,
               CAST(SUM(1 - is_first) AS BIGINT) AS o2
        FROM banded GROUP BY event_type, band
    ),
    tot AS (
        SELECT event_type,
               CAST(SUM(o1) AS BIGINT) AS n1,
               CAST(SUM(o2) AS BIGINT) AS n2
        FROM cells GROUP BY event_type
    ),
    terms AS (
        SELECT c.event_type, n1, n2,
               CAST(FLOOR((
                 (CAST(o1 AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE))
                 * (CAST(o1 AS DOUBLE)
                    - CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE))
                 + (CAST(o2 AS DOUBLE)
                    - CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE))
                 * (CAST(o2 AS DOUBLE)
                    - CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE))
                 / (CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE))
               ) * CAST(1000000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
               AS BIGINT) AS tq
        FROM cells c JOIN tot USING (event_type)
    )
    SELECT event_type, n1 AS n_first_half, n2 AS n_second_half,
           CAST(COUNT(*) AS BIGINT) AS n_bands,
           CAST(SUM(tq) AS DOUBLE) / 1000000000.0 AS chi_square
    FROM terms GROUP BY event_type, n1, n2 ORDER BY event_type
    """


@query(
    "events_distribution_drift",
    oracle=_DRIFT_ORACLE,
)
def events_distribution_drift(spark, sf_dir):
    """Distribution-drift monitor: two-sample chi-square homogeneity
    statistic per event type between the first and second half of the
    month, over 10 equal-width value bands — the recurring data-quality
    job that catches a silently shifted upstream before it poisons a
    training corpus. PSI wants ln() (libm, not bit-portable); the
    chi-square statistic is the same drift signal in PURE rational
    arithmetic of integer counts, so it hash-checks. Per-band terms are
    quantized to 1e-9 fixed point before the cross-band sum, making the
    only double summation order-independent (exact int64). Plan: one
    scan, one (type, band) aggregate, one type-level rollup — both keyed
    shuffles with map-side combine, no windows, no collects. Direct scan
    (r16, guide §2.4): the per-row work before the first keyed exchange
    is a band expression, so the round-robin repartition was a pure
    extra exchange in front of a shuffle that redistributes anyway —
    interleaved A/B 0.883 → 0.590 s, bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    cells = _drift_banded(ev).groupBy("event_type", "band").agg(
        F.sum("is_first").cast("bigint").alias("o1"),
        F.sum(F.lit(1) - F.col("is_first")).cast("bigint").alias("o2"),
    )
    return _chi2_report(cells)


def _drift_banded(ev):
    """(event_type, band, is_first) projection shared by the batch and
    streaming drift monitors — 10 equal-width value bands, month split.

    Dirty-data contract: non-finite measures are excluded symmetrically
    (Spark floors NaN into band 0 and saturates Inf into band 9 while
    DuckDB's cast errors — a NaN is not a small value and a chi-square
    over it is meaningless); a NULL measure keeps its own NULL band,
    which both engines group identically."""
    ev = ev.filter(F.col("value").isNull() | is_finite("value"))
    band = F.least(
        F.floor(F.col("value") / F.lit(50.0)).cast("bigint"), F.lit(9)
    )
    return ev.select(
        "event_type",
        band.alias("band"),
        F.when(F.dayofmonth("ts") <= 15, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_first"),
    )


def _chi2_report(cells):
    """Chi-square homogeneity rollup from (event_type, band, o1, o2)
    cells — per-band terms nano-quantized so the cross-band sum is an
    exact, order-independent int64."""
    tot = cells.groupBy("event_type").agg(
        F.sum("o1").cast("bigint").alias("n1"),
        F.sum("o2").cast("bigint").alias("n2"),
    )
    o1, o2 = F.col("o1").cast("double"), F.col("o2").cast("double")
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    row_tot = (F.col("o1") + F.col("o2")).cast("double")
    nn = (F.col("n1") + F.col("n2")).cast("double")
    e1 = n1 * row_tot / nn
    e2 = n2 * row_tot / nn
    # sdiv: a band with zero expected count in one half (every event in
    # the other half) NULLs that band's term — DuckDB's x/0 does the
    # same, and SUM skips it identically in both engines
    term = sdiv((o1 - e1) * (o1 - e1), e1) + sdiv(
        (o2 - e2) * (o2 - e2), e2
    )
    tq = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    terms = cells.join(tot, "event_type").select(
        "event_type", "n1", "n2", tq.alias("tq")
    )
    return (
        terms.groupBy("event_type", "n1", "n2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bands"),
            (F.sum("tq").cast("double") / F.lit(1e9)).alias("chi_square"),
        )
        .select(
            "event_type",
            F.col("n1").alias("n_first_half"),
            F.col("n2").alias("n_second_half"),
            "n_bands",
            "chi_square",
        )
        .orderBy("event_type")
    )


@query(
    "events_value_winsorized",
    oracle="""
    WITH cuts AS (
        SELECT event_type,
               quantile_disc(try_cast(ROUND(value * 100.0) as bigint), 0.05)
                   AS lo_c,
               quantile_disc(try_cast(ROUND(value * 100.0) as bigint), 0.95)
                   AS hi_c
        FROM events GROUP BY event_type
    ),
    clipped AS (
        SELECT e.event_type,
               try_cast(ROUND(value * 100.0) as bigint) AS c, lo_c, hi_c,
               CASE
                 WHEN try_cast(ROUND(value * 100.0) as bigint) < lo_c THEN lo_c
                 WHEN try_cast(ROUND(value * 100.0) as bigint) > hi_c THEN hi_c
                 ELSE try_cast(ROUND(value * 100.0) as bigint)
               END AS wc
        FROM events e JOIN cuts USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c < lo_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN c > hi_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           (CAST(SUM(wc) AS DOUBLE) / 100.0) / COUNT(*)
               AS winsorized_mean
    FROM clipped GROUP BY event_type ORDER BY event_type
    """,
)
def events_value_winsorized(spark, sf_dir):
    """Per-group winsorization — the robust-stats preprocessing step a
    feature pipeline applies before scaling: per-type p05/p95 cutpoints
    from the MERGEABLE approx_percentile sketch over integer cents
    (bounded partials, exact and quantile_disc-adjudicated up to the
    1e6-value accuracy bound) computed in ONE grouped aggregate, joined
    back broadcast-size (one row per type), values clamped, and the
    winsorized mean reported from an exact integer-cents sum. Same
    cutpoints-as-a-dim shape as histogram_equidepth/customer_rfm, here
    keyed per group. Discrete cutpoints are themselves whole cents, so
    the clamp and the post-clamp sum stay in exact int64 end to end.
    Direct scan (r16, guide §2.4): both consumers start with a keyed
    aggregate, so the round-robin repartition was a wasted exchange of
    the full fact — A/B 0.958 → 0.660 s, bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    cents_sql = "try_cast(round(value * 100.0) as bigint)"
    cuts = ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile({cents_sql}, 0.05, 1000000)").alias(
            "lo_c"
        ),
        F.expr(f"approx_percentile({cents_sql}, 0.95, 1000000)").alias(
            "hi_c"
        ),
    )
    c = F.round(F.col("value") * 100.0).try_cast("bigint")
    wc = (
        F.when(c < F.col("lo_c"), F.col("lo_c"))
        .when(c > F.col("hi_c"), F.col("hi_c"))
        .otherwise(c)
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        (c < F.col("lo_c")).cast("int").alias("is_lo"),
        (c > F.col("hi_c")).cast("int").alias("is_hi"),
        wc.alias("wc"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("is_lo").cast("bigint").alias("n_clipped_low"),
            F.sum("is_hi").cast("bigint").alias("n_clipped_high"),
            (
                (F.sum("wc").cast("double") / F.lit(100.0))
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


@query(
    "basket_pair_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey % 100 AS item
        FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n
        FROM lineitem
    ),
    item_freq AS (
        SELECT item, COUNT(*) AS n_item FROM items GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        GROUP BY a.item, b.item
    )
    SELECT item_a, item_b, n_pair,
           (CAST(n_pair AS DOUBLE) / n)
               / ((CAST(fa.n_item AS DOUBLE) / n)
                  * (CAST(fb.n_item AS DOUBLE) / n)) AS lift
    FROM pairs
    JOIN item_freq fa ON fa.item = item_a
    JOIN item_freq fb ON fb.item = item_b
    CROSS JOIN n_orders
    ORDER BY n_pair DESC, item_a, item_b LIMIT 20
    """,
)
def basket_pair_lift(spark, sf_dir):
    """Market-basket co-occurrence: item pairs bought in the same order
    with their lift (observed co-rate over independence). Items are
    partkey buckets (raw partkeys rarely repeat at this SF). The pair join
    is a SELF-EQUI-JOIN ON THE ORDER KEY — pair count per order is bounded
    by basket size squared, never a catalog-wide cross join (the same
    bounded-blowup discipline as the LSH band joins); frequencies join
    back broadcast-size, and lift is deterministic division of exact
    counts. Top-20 with full tie-breaks."""
    li = load_table(spark, sf_dir, "lineitem")
    # the distinct item layout feeds three consumers (frequencies + both
    # join sides): persist it once instead of recomputing the distinct
    # (at 100 TB this is the ingest-time basket layout)
    items = STATE.get(
        "quality.basket",
        spark,
        sf_dir,
        lambda: li.select(
            "l_orderkey", (F.col("l_partkey") % 100).alias("item")
        ).distinct(),
    )
    n_orders = li.agg(
        F.count_distinct("l_orderkey").cast("double").alias("__n")
    )
    item_freq = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select("l_orderkey", F.col("item").alias("item_a"))
    b = items.select("l_orderkey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    fa = item_freq.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("__na")
    )
    fb = item_freq.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("__nb")
    )
    n = F.col("__n")
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .join(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            (
                (F.col("n_pair").cast("double") / n)
                / (
                    (F.col("__na").cast("double") / n)
                    * (F.col("__nb").cast("double") / n)
                )
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), "item_a", "item_b")
        .limit(20)
    )


def _copurchase_edges(spark, sf_dir):
    """(u, v) item pairs bought in one order (u < v), persisted once per
    (session, table): triangles, k-core, link prediction and modularity
    all read it (at 100 TB this is the materialized co-purchase graph
    every downstream graph job shares)."""

    def build():
        items = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", F.col("l_partkey").alias("item")
        )
        return (
            items.distinct()
            .alias("a")
            .join(items.distinct().alias("b"), "l_orderkey")
            .filter(F.col("a.item") < F.col("b.item"))
            .select(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
            .distinct()
        )

    return STATE.get("quality.copurchase", spark, sf_dir, build)


def _copurchase_degrees(spark, sf_dir):
    """(node, deg) of the co-purchase graph, persisted beside its edges:
    k-core's first round, link prediction's seeds and modularity's degree
    sums read it (at scale degree is ingest-maintained metadata beside
    the edge table)."""

    def build():
        edges = _copurchase_edges(spark, sf_dir)
        return (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    return STATE.get("quality.copurchase_degrees", spark, sf_dir, build)


@query(
    "graph_triangle_counts",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey AS item
        FROM lineitem
    ),
    edges AS (
        SELECT a.item AS u, b.item AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                    THEN e.u ELSE e.v END AS src,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                    THEN e.v ELSE e.u END AS dst
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM oriented e1
        JOIN oriented e2 ON e2.src = e1.dst
        JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
    )
    GROUP BY node
    ORDER BY triangles DESC, node LIMIT 20
    """,
)
def graph_triangle_counts(spark, sf_dir):
    """Per-node triangle counts over the co-purchase graph — the graph
    clustering-structure primitive (community density, spam/bot-ring
    detection in crawl curation) alongside the catalog's PageRank and
    connected components. Nodes are raw partkeys; an edge exists when two
    parts appear in the same order (the basket_pair_lift edge discipline,
    unbucketed). Raw keys make the graph SF-invariantly sparse: parts and
    orders both grow with scale, so per-node degree stays ~100 at every
    SF (~116k edges/2k nodes at sf0.01; ~1.2M edges/19k nodes at sf0.1)
    and the wedge join stays linear in data size — bucketing to a fixed
    node count would instead densify toward a clique as data grows.

    Scale: degree-ordered orientation (operators/graph.triangle_counts)
    bounds every node's out-degree by O(√m), so the wedge join is
    O(m^1.5) worst-case — the Suri–Vassilvitskii fix for the
    "curse of the last reducer" — and every step is an equi-join or
    keyed aggregate; no driver state. The oracle mirrors the same
    orientation as CTEs. Top-20 nodes with full tie-breaks."""
    from nyc_taxi_pyspark_spark.operators.graph import triangle_counts

    edges = _copurchase_edges(spark, sf_dir)
    return (
        triangle_counts(edges)
        .orderBy(F.desc("triangles"), "node")
        .limit(20)
    )


@query(
    "sequence_gaps",
    oracle="""
    WITH ordered AS (
        SELECT o_orderkey,
               LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
        FROM orders
    )
    SELECT o_orderkey + 1 AS gap_start, next_key - 1 AS gap_end,
           next_key - o_orderkey - 1 AS n_missing
    FROM ordered
    WHERE next_key - o_orderkey > 1
    ORDER BY gap_start LIMIT 50
    """,
)
def sequence_gaps(spark, sf_dir):
    """Key-sequence integrity audit: ranges of missing o_orderkey values,
    computed partition-parallel (operators/quality.py key_sequence_gaps:
    range-partitioned in-partition LEAD + O(partitions) boundary handoff —
    never the single-task global LEAD of the naive form). The first-50
    cap is TakeOrdered, not a full materialization."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        key_sequence_gaps(orders, "o_orderkey")
        .orderBy("gap_start")
        .limit(50)
    )


@query(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM d) AS observed_share
    FROM d GROUP BY digit ORDER BY digit
    """,
)
def benford_first_digit(spark, sf_dir):
    """Benford's-law forensics on order totals: leading-digit distribution
    as a fraud/synthetic-data smell test. The first digit comes from the
    INTEGER part's string form (int→string is portable; double→string is
    not), the share from deterministic division by a 1-row broadcast
    total. One scan, one 9-key aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("__tot"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("__tot")).alias(
                "observed_share"
            ),
        )
        .orderBy("digit")
    )


@query(
    "orders_pareto_share",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               (CAST(SUM(try_cast(ROUND(o_totalprice * 100.0) as bigint))
                     AS BIGINT)) AS rev_cents
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_disc(rev_cents,
                             [{", ".join(str(p) for p in _DECILE_PS)}]) AS cs
        FROM per_cust
    ),
    ranked AS (
        SELECT rev_cents,
               1 + len(list_filter(cs, c -> rev_cents < c)) AS decile
        FROM per_cust CROSS JOIN cuts
    )
    SELECT decile, COUNT(*) AS n_customers,
           CAST(SUM(rev_cents) AS DOUBLE) / 100.0 AS revenue,
           CAST(SUM(rev_cents) AS DOUBLE)
               / (SELECT CAST(SUM(rev_cents) AS DOUBLE) FROM per_cust)
               AS revenue_share
    FROM ranked GROUP BY decile ORDER BY decile
    """,
)
def orders_pareto_share(spark, sf_dir):
    """Pareto concentration analysis: customers bucketed into revenue
    deciles (decile 1 = highest revenue), each decile's exact revenue and
    share of total — the 80/20 check that pairs with customer_rfm. The
    decile comes from nine quantile cutpoints computed in ONE aggregate
    over the per-customer rollup and broadcast as a range lookup
    (1 + number of cutpoints strictly above the customer's revenue) —
    never an unpartitioned NTILE, which would funnel every customer row
    (billions at 100×) through a single task. Ties at a cutpoint share a
    decile. Integer-cents totals end-to-end; the share division is the
    only double op and is mirrored exactly. Cutpoints are the MERGEABLE
    approx_percentile sketch (bounded partials — exact percentile would
    buffer every customer; exact and quantile_disc-adjudicated up to the
    1e6-value accuracy bound), so decile comparisons are int-vs-int."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).try_cast("bigint")).alias(
            "rev_cents"
        )
    )
    ps = ", ".join(str(p) for p in _DECILE_PS)
    stats = per_cust.agg(
        F.expr(
            f"approx_percentile(rev_cents, array({ps}), 1000000)"
        ).alias("__cs"),
        F.sum("rev_cents").cast("double").alias("__tot_cents"),
    )
    rev = F.col("rev_cents")
    ranked = per_cust.join(F.broadcast(stats)).select(
        "rev_cents",
        "__tot_cents",
        (
            F.lit(1) + F.size(F.filter(F.col("__cs"), lambda c: rev < c))
        ).alias("decile"),
    )
    return (
        ranked.groupBy("decile", "__tot_cents")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("rev_cents").cast("double") / F.lit(100.0)).alias(
                "revenue"
            ),
            F.sum("rev_cents").cast("double").alias("__dec_cents"),
        )
        .select(
            "decile",
            "n_customers",
            "revenue",
            (F.col("__dec_cents") / F.col("__tot_cents")).alias(
                "revenue_share"
            ),
        )
        .orderBy("decile")
    )


@query(
    "skew_salted_agg",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           {oracle_dsum("value", 2)} AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def skew_salted_agg(spark, sf_dir):
    """Explicitly salted two-phase aggregation on a low-cardinality key
    (operators/skew.py:34): partials on (event_type, salt16), finals on
    event_type. The oracle is the PLAIN group-by — proving the salted plan
    is exact, which holds because the partials (counts + integer-cents
    sums) are algebraic. This is the hand-rolled escape hatch for the hot
    key whose single post-shuffle partition no AQE split can save; at
    sf0.01 each of the 5 event types holds ~20% of all rows, the extreme
    version of the skew AQE mitigates at runtime."""
    # direct scan (r16, guide 2.4): the first wide op is a keyed
    # exchange, so the round-robin repartition was a wasted shuffle
    # of the full fact - interleaved A/B 0.622 -> 0.317 s, bit-identical
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0)).try_cast("bigint")
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        measures={
            "__pn": F.count(F.lit(1)),
            "__pc": F.sum(cents),
        },
        finals={
            "n_events": F.sum("__pn"),
            "sum_value": F.sum("__pc").cast("double") / F.lit(100.0),
        },
        n_salt=16,
    )
    return out.orderBy("event_type")


@query(
    "join_skew_audit",
    oracle="""
    WITH per_key AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_key_rows,
           CAST(MAX(c) AS DOUBLE)
               / (CAST(SUM(c) AS DOUBLE) / COUNT(*)) AS skew_ratio,
           CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_key_rows
    FROM per_key
    """,
)
def join_skew_audit(spark, sf_dir):
    """Pre-join skew diagnostic on the fact join key (lineitem.l_orderkey):
    per-key cardinality profile — max / mean / p99 rows per key and the
    skew ratio — the measurement that decides BEFORE a big join whether
    plain hash partitioning suffices, AQE's skew split will cope, or the
    explicit salted path (operators/skew.salted_join) is required. One
    keyed aggregate (map-side combined) + one scalar rollup; counts are
    integers, so mean/ratio are deterministic mirrored arithmetic. The
    p99 uses the MERGEABLE approx_percentile sketch — exact `percentile`
    would buffer one value per join key in the final reducer (billions at
    scale); at accuracy 1e6 the sketch is exact (and hash-adjudicated
    against quantile_disc) up to a million keys, then degrades gracefully
    with bounded memory."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n_rows = F.coalesce(F.sum("c"), F.lit(0)).cast("bigint")
    n_keys = F.count(F.lit(1))
    mean = F.sum("c").cast("double") / n_keys
    return per_key.agg(
        n_rows.alias("n_rows"),
        n_keys.cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        mean.alias("mean_key_rows"),
        (F.max("c").cast("double") / mean).alias("skew_ratio"),
        F.expr("approx_percentile(c, 0.99, 1000000)")
        .cast("bigint")
        .alias("p99_key_rows"),
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH first_order AS (
        SELECT o_custkey,
               MIN(CAST(date_trunc('month', o_orderdate) AS DATE))
                   AS cohort_month
        FROM orders GROUP BY o_custkey
    ),
    joined AS (
        SELECT f.cohort_month,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate))
               - (year(f.cohort_month) * 12 + month(f.cohort_month))
                   AS months_since,
               o.o_custkey,
               try_cast(ROUND(o.o_totalprice * 100.0) as bigint) AS cents
        FROM orders o JOIN first_order f USING (o_custkey)
    )
    SELECT cohort_month, CAST(months_since AS BIGINT) AS months_since,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
    FROM joined
    GROUP BY cohort_month, months_since
    ORDER BY cohort_month, months_since
    """,
)
def orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix — the revenue twin of the
    events_retention cohort grid: customers grouped by first-order month,
    each cohort's active-customer count, order count, and exact-cents
    revenue tracked per months-since-acquisition. Plan: one per-customer
    MIN aggregate, one keyed join back on the customer key (AQE-handled
    skew), one (cohort, month-offset) aggregate with map-side combine —
    every stage keyed, nothing global. Month arithmetic stays in
    integers (year*12+month), so the matrix hash-checks."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate"))
        .cast("date")
        .alias("cohort_month")
    )
    om = F.to_date("o_orderdate")
    months_since = (
        F.year(om) * 12
        + F.month(om)
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    )
    joined = orders.join(first, "o_custkey").select(
        "cohort_month",
        months_since.cast("bigint").alias("months_since"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100.0).try_cast("bigint").alias("cents"),
    )
    return (
        joined.groupBy("cohort_month", "months_since")
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_active"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.sum("cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("cohort_month", "months_since")
    )


@query(
    "orders_forecast_linear",
    oracle="""
    WITH monthly AS (
        SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS mi,
               CAST(SUM(try_cast(ROUND(o_totalprice * 100.0) as bigint))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(mi) AS DOUBLE) AS sx,
               CAST(SUM(rev_cents) AS DOUBLE) AS sy,
               CAST(SUM(mi * rev_cents) AS DOUBLE) AS sxy,
               CAST(SUM(mi * mi) AS DOUBLE) AS sxx,
               CAST(MAX(mi) AS BIGINT) AS max_mi
        FROM monthly
    ),
    grid AS (
        SELECT mi, rev_cents, 0 AS is_forecast FROM monthly
        UNION ALL
        SELECT max_mi + h, NULL, 1
        FROM fit, (VALUES (1), (2), (3)) AS v(h)
    )
    SELECT g.mi AS month_index,
           CAST(g.rev_cents AS DOUBLE) / 100.0 AS actual,
           ((((f.n * f.sxy) - (f.sx * f.sy))
             / ((f.n * f.sxx) - (f.sx * f.sx))) * g.mi
            + ((f.sy - (((f.n * f.sxy) - (f.sx * f.sy))
                        / ((f.n * f.sxx) - (f.sx * f.sx))) * f.sx) / f.n))
               / 100.0 AS fitted,
           CAST(g.is_forecast AS INTEGER) AS is_forecast
    FROM grid g, fit f
    ORDER BY month_index
    """,
)
def orders_forecast_linear(spark, sf_dir):
    """Linear trend forecast: monthly revenue fitted with closed-form OLS
    over the integer month index and projected 3 months past the data —
    the capacity-planning staple. The fit consumes ONE aggregate of exact
    integer moments over the ~80-row monthly rollup (the
    stats_regression discipline applied to a time series; no ML library,
    no iterative solver), broadcast to the month grid; the three future
    rows come from a constant-width union, not a window. Every double op
    is the mirrored expression tree, so actual/fitted hash-check."""
    orders = load_table(spark, sf_dir, "orders")
    om = F.to_date("o_orderdate")
    monthly = orders.groupBy(
        (F.year(om) * 12 + F.month(om)).alias("mi")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).try_cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    fit = monthly.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("mi").cast("double").alias("sx"),
        F.sum("rev_cents").cast("double").alias("sy"),
        F.sum(F.col("mi") * F.col("rev_cents")).cast("double").alias("sxy"),
        F.sum(F.col("mi") * F.col("mi")).cast("double").alias("sxx"),
        F.max("mi").cast("bigint").alias("max_mi"),
    )
    future = fit.select(
        F.explode(
            F.array(F.lit(1), F.lit(2), F.lit(3))
        ).alias("h"),
        "max_mi",
    ).select(
        (F.col("max_mi") + F.col("h")).alias("mi"),
        F.lit(None).cast("bigint").alias("rev_cents"),
        F.lit(1).alias("is_forecast"),
    )
    grid = monthly.select(
        "mi", "rev_cents", F.lit(0).alias("is_forecast")
    ).unionByName(future)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    # sdiv: a one-month history has zero x-variance; NULL fit, not a crash
    slope = sdiv((n * sxy) - (sx * sy), (n * sxx) - (sx * sx))
    intercept = sdiv(sy - slope * sx, n)
    return (
        grid.join(F.broadcast(fit.drop("max_mi")))
        .select(
            F.col("mi").alias("month_index"),
            (F.col("rev_cents").cast("double") / 100.0).alias("actual"),
            ((slope * F.col("mi") + intercept) / 100.0).alias("fitted"),
            F.col("is_forecast").cast("int").alias("is_forecast"),
        )
        .orderBy("month_index")
    )


@query(
    "events_qq_compare",
    oracle="""
    WITH a AS (
        SELECT quantile_disc(try_cast(ROUND(value * 100.0) as bigint),
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                   AS qs
        FROM events WHERE event_type = 'purchase'
    ),
    b AS (
        SELECT quantile_disc(try_cast(ROUND(value * 100.0) as bigint),
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                   AS qs
        FROM events WHERE event_type = 'view'
    )
    SELECT (g.i) AS decile,
           CAST(a.qs[g.i] AS DOUBLE) / 100.0 AS q_purchase,
           CAST(b.qs[g.i] AS DOUBLE) / 100.0 AS q_view,
           CAST(a.qs[g.i] - b.qs[g.i] AS DOUBLE) / 100.0 AS q_diff
    FROM a, b, generate_series(1, 9) AS g(i)
    ORDER BY decile
    """,
)
def events_qq_compare(spark, sf_dir):
    """Quantile-quantile comparison of two segments' value distributions
    (purchase vs view) — the QQ-plot table that localizes WHERE two
    distributions diverge, where the chi-square drift monitor only says
    THAT they do. Both quantile vectors come from one mergeable
    approx_percentile sketch each (exact and quantile_disc-adjudicated
    at the 1e6 accuracy bound), cross-joined as two 1-row frames and
    unrolled to nine decile rows with exact integer-cents differences."""
    # direct scan (r16, guide 2.4): the first wide op is a keyed
    # exchange, so the round-robin repartition was a wasted shuffle
    # of the full fact - interleaved A/B 0.457 -> 0.274 s, bit-identical
    ev = load_table(spark, sf_dir, "events")
    cents_sql = "try_cast(round(value * 100.0) as bigint)"
    ps = "array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)"

    def qvec(t):
        return (
            ev.filter(F.col("event_type") == t)
            .agg(
                F.expr(
                    f"approx_percentile({cents_sql}, {ps}, 1000000)"
                ).alias(f"__q_{t}")
            )
        )

    joined = qvec("purchase").join(F.broadcast(qvec("view")))
    return (
        joined.select(
            F.posexplode(
                F.zip_with(
                    F.col("__q_purchase"),
                    F.col("__q_view"),
                    lambda x, y: F.struct(
                        x.alias("qa"), y.alias("qb")
                    ),
                )
            ).alias("pos", "z")
        )
        .select(
            (F.col("pos") + 1).cast("bigint").alias("decile"),
            (F.col("z.qa").cast("double") / 100.0).alias("q_purchase"),
            (F.col("z.qb").cast("double") / 100.0).alias("q_view"),
            (
                (F.col("z.qa") - F.col("z.qb")).cast("double") / 100.0
            ).alias("q_diff"),
        )
        .orderBy("decile")
    )


@query(
    "orders_open_interval_count",
    oracle="""
    WITH deltas AS (
        SELECT CAST(o.o_orderdate AS DATE) AS d, 1 AS delta
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT CAST(l.l_shipdate AS DATE) + INTERVAL 1 DAY, -1
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    day_agg AS (
        SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY d
    )
    SELECT d AS day,
           CAST(SUM(net) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_open
    FROM day_agg ORDER BY day
    """,
)
def orders_open_interval_count(spark, sf_dir):
    """Concurrent-interval counting by SWEEP LINE — 'how many line items
    were open (ordered, not yet shipped) on each day' — the pattern that
    replaces the quadratic day⋈interval range join at scale: every
    interval becomes a +1 delta at its start and a -1 the day after its
    end, deltas aggregate per day (one keyed shuffle over the fact), and
    the running sum runs over the per-DAY aggregate — a calendar-bounded
    window (~2.5k rows), never a window over base rows. The same
    delta-encode/prefix-sum trick serves concurrent sessions, active
    subscriptions, and GPU-reservation overlap."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.to_date("l_shipdate").alias("sd"),
    )
    j = li.join(orders, "o_orderkey")
    deltas = j.select(
        F.col("od").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        j.select(F.date_add("sd", 1).alias("d"), F.lit(-1).alias("delta"))
    )
    day_agg = deltas.groupBy("d").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return day_agg.select(
        F.col("d").alias("day"),
        F.sum("net").over(w).cast("bigint").alias("n_open"),
    ).orderBy("day")


@query(
    "stats_mann_whitney",
    oracle="""
    WITH v AS (
        SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS BIGINT) AS cnt_a
        FROM events WHERE event_type IN ('click', 'error')
          AND value IS NOT NULL AND isfinite(value)
        GROUP BY value
    ),
    r AS (
        SELECT cnt, cnt_a,
               COALESCE(SUM(cnt) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum
        FROM v
    ),
    s AS (
        SELECT CAST(SUM(cnt_a) AS DOUBLE) AS n_a,
               CAST(SUM(cnt - cnt_a) AS DOUBLE) AS n_b,
               CAST(SUM(cnt) AS DOUBLE) AS n,
               SUM(cnt_a * (cum + (cnt + 1) / 2.0)) AS r_a,
               CAST(SUM(cnt * cnt * cnt - cnt) AS DOUBLE) AS tie_term
        FROM r
    )
    SELECT CAST(COALESCE(n_a, 0) AS BIGINT) AS n_click,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_error,
           r_a - n_a * (n_a + 1.0) / 2.0 AS u_click,
           n_a * n_b - (r_a - n_a * (n_a + 1.0) / 2.0) AS u_error,
           (r_a - n_a * (n_a + 1.0) / 2.0 - n_a * n_b / 2.0)
             / SQRT(n_a * n_b / 12.0
                    * ((n + 1.0) - tie_term / (n * (n - 1.0)))) AS z_stat,
           1.0 - 2.0 * (n_a * n_b - (r_a - n_a * (n_a + 1.0) / 2.0))
             / (n_a * n_b) AS rank_biserial
    FROM s
    """,
)
def stats_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) test comparing click vs error
    event values — the NON-parametric sibling of stats_ttest for skewed or
    heavy-tailed metrics where mean comparisons mislead. Emits both U
    statistics, the tie-corrected normal-approximation z, and the
    rank-biserial effect size (no p-value on purpose: the normal CDF needs
    libm erf, which is not cross-engine bit-stable; z is).

    Rank computation is the scale trick: instead of ranking N raw rows
    with a global per-row window, group by VALUE first (one map-side-
    combined shuffle), where each tied block's shared midrank is
    cum + (cnt+1)/2. The exclusive prefix count `cum` is computed
    TWO-TIER (the Gini global-rank discipline) so no unpartitioned
    window ever touches the distinct-value frame: tier 1 buckets values
    into unit-width cells, aggregates one count per cell, and runs the
    exclusive prefix over the BOUNDED cell frame (value range / cell
    width — catalog metadata, not data-sized), rejoining via broadcast;
    tier 2 resolves within-cell order with a PARTITIONED window —
    cum = below(cell) + local exclusive prefix, exact because floor() is
    monotone so a lower cell always means strictly smaller values.
    Every rank is a multiple of 0.5 and every rank-sum term stays an
    exact dyadic rational below 2^53, so the SUMs are order-independent
    (partition-invariant) and the final statistics are deterministic IEEE
    arithmetic mirrored expression-for-expression with the oracle. The
    tie term sums cnt^3-cnt in exact int64 (precondition: no single tied
    value holds >2.1M rows, far beyond any real tie mass).
    tests/test_plans.py gates the partitioned window shape.

    Dirty-data contract (chosen, documented): non-finite measures
    (NULL/NaN/±Inf) are EXCLUDED symmetrically in both engines up front —
    a rank over NaN is meaningless, and without the filter a NULL value
    lands in cell NULL (silently dropped by the cell join) while NaN
    floors into cell 0, both diverging from DuckDB's grouping/order of
    non-finites. ``is_finite`` / ``oracle_is_finite`` keep the two WHERE
    clauses expression-identical.

    No ``parallelize_scan`` here (r13): the first operation is a
    ``groupBy`` whose hash shuffle already redistributes to full
    parallelism, so a round-robin repartition of the raw scan adds a
    full-data shuffle per consumption of ``v`` (it is consumed twice —
    cell aggregate and rank join) for zero parallelism gain. The r12
    testdata regeneration collapsed events.parquet to a single file,
    making the repartition fire and the query pay both extra shuffles:
    2.25 s vs the 1.12 s anchor (VERDICT r12 item 1). Without it the
    dedicated-protocol median is 0.69 s. At 100 TB the scan is wide and
    the helper is a no-op anyway — the only serial section it could fix,
    the single-file map side, does not exist there."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type").isin("click", "error") & is_finite("value"))
        .groupBy("value")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("bigint")
            .alias("cnt_a"),
        )
        .withColumn("cell", F.floor(F.col("value")).cast("bigint"))
    )
    wb = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    cells = (
        v.groupBy("cell")
        .agg(F.sum("cnt").alias("bc"))
        .select(
            "cell",
            F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("below"),
        )
    )
    wv = (
        Window.partitionBy("cell")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.join(F.broadcast(cells), "cell").select(
        "cnt",
        "cnt_a",
        (
            F.col("below") + F.coalesce(F.sum("cnt").over(wv), F.lit(0))
        ).alias("cum"),
    )
    s = r.agg(
        F.sum("cnt_a").cast("double").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("double").alias("n_b"),
        F.sum("cnt").cast("double").alias("n"),
        F.sum(
            F.col("cnt_a") * (F.col("cum") + (F.col("cnt") + 1) / F.lit(2.0))
        ).alias("r_a"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("double")
        .alias("tie_term"),
    )
    n_a, n_b, n = F.col("n_a"), F.col("n_b"), F.col("n")
    u_a = F.col("r_a") - n_a * (n_a + F.lit(1.0)) / F.lit(2.0)
    sigma = F.sqrt(
        n_a * n_b / F.lit(12.0)
        * (
            (n + F.lit(1.0))
            - F.col("tie_term") / (n * (n - F.lit(1.0)))
        )
    )
    return s.select(
        F.coalesce(n_a, F.lit(0.0)).cast("bigint").alias("n_click"),
        F.coalesce(n_b, F.lit(0.0)).cast("bigint").alias("n_error"),
        u_a.alias("u_click"),
        (n_a * n_b - u_a).alias("u_error"),
        ((u_a - n_a * n_b / F.lit(2.0)) / sigma).alias("z_stat"),
        (
            F.lit(1.0) - F.lit(2.0) * (n_a * n_b - u_a) / (n_a * n_b)
        ).alias("rank_biserial"),
    )


def _kcore_oracle() -> str:
    from nyc_taxi_pyspark_spark.operators.graph import oracle_kcore_cte

    k_expr = (
        "SELECT 3 * (SUM(deg) // COUNT(*)) // 4 FROM "
        "(SELECT node, COUNT(*) AS deg FROM sym0 GROUP BY node)"
    )
    return f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem
    ),
    edges AS (
        SELECT a.item AS u, b.item AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    {oracle_kcore_cte("edges", k_expr, rounds=4)}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree,
           CAST(({k_expr}) AS INTEGER) AS k
    FROM sym4 GROUP BY node
    ORDER BY core_degree DESC, node LIMIT 50
    """


@query("graph_kcore_membership", oracle=_kcore_oracle())
def graph_kcore_membership(spark, sf_dir):
    """Bounded 4-round k-core peel of the co-purchase graph — the density
    filter completing the graph family (PageRank = importance, connected
    components = reach, triangles = local clustering, k-core = global
    density): surviving nodes all keep >= k neighbors that themselves
    survive, the precondition for community mining and bot-ring triage.

    k adapts to the data rather than hard-coding a degree: k = 3/4 of
    the mean degree (integer division, exact on both engines) — on this
    near-regular graph (mean ~= median degree) that peels the sparse
    fringe while keeping a non-trivial core at every SF, where mean+1
    would collapse the whole graph. The k scalar is the only
    driver-side value (same parameter discipline as pagerank's node
    count); each peel round is two hash semi-joins + one keyed count over
    the shared co-purchase edge layout (``_copurchase_edges`` — built once
    per session, reused by triangles/k-core alike), with per-round
    lineage cuts (durable checkpoint_dir at cluster scale). The oracle
    unrolls the same four rounds as CTEs."""
    from nyc_taxi_pyspark_spark.operators.graph import kcore_peel

    edges = _copurchase_edges(spark, sf_dir)
    # The full degree frame (node-catalog-sized) and the adaptive-k
    # scalar are SESSION STATE, not per-invocation work (r14 — the graph
    # family's 1.13-1.24x creep adjudication localized the residual to
    # the per-run driver-side jobs: degree rebuild + localCheckpoint +
    # k collect, 3 scheduling-latency-bound jobs before the peel even
    # starts). Both derive solely from the co-purchase edge layout that
    # is already session-persisted; at scale degree is ingest-maintained
    # metadata beside the edge table, same discipline as the IVF layout.
    deg = _copurchase_degrees(spark, sf_dir)
    def _adaptive_k():
        row = deg.agg(
            F.sum("deg").alias("s"), F.count(F.lit(1)).alias("n")
        ).first()
        # empty graph sentinel: the 4-round peel of nothing is nothing
        return int(3 * (row["s"] // row["n"]) // 4) if row["n"] else None

    k = STATE.get("quality.kcore_k", spark, sf_dir, _adaptive_k)
    if k is None:
        return spark.createDataFrame(
            [], "node bigint, core_degree bigint, k int"
        )
    return (
        kcore_peel(edges, k, rounds=4, first_round_deg=deg)
        .select("node", "core_degree", F.lit(k).alias("k"))
        .orderBy(F.desc("core_degree"), "node")
        .limit(50)
    )


_SKYLINE_BUCKET_CENTS = 10_000  # $100-wide price cells for the grid prune


@query(
    "part_skyline",
    oracle="""
    WITH b AS (
        SELECT p_partkey, p_size,
               try_cast(ROUND(p_retailprice * 100) as bigint) AS price_cents
        FROM part
    )
    SELECT p.p_partkey, p.p_size, p.price_cents
    FROM b p
    WHERE NOT EXISTS (
        SELECT 1 FROM b q
        WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
          AND (q.price_cents < p.price_cents OR q.p_size > p.p_size)
    )
    ORDER BY p.price_cents, p.p_partkey
    """,
)
def part_skyline(spark, sf_dir):
    """Pareto skyline over parts: the non-dominated (cheapest price,
    largest size) frontier — ``q`` dominates ``p`` iff q is no more
    expensive AND no smaller AND strictly better on at least one axis;
    duplicated (price, size) points tie and all survive.

    The naive form is the oracle's NOT EXISTS — an O(n²) self-join. The
    distributed plan never compares pairs: dominance against the whole
    table reduces to two prefix maxima over the price order,
        M1(p) = max size among strictly cheaper rows   (dominated iff ≥ size)
        M2(p) = max size among ≤-priced rows           (dominated iff > size)
    computed in two tiers. Tier 1 buckets price into $100 cells and takes
    one map-side-combined max-size per cell; the running strict-prefix max
    over those cell stats is a window over a BOUNDED, data-independent
    number of rows (price range / cell width — catalog metadata, same
    budget class as a 1-row stat broadcast) and rejoins via broadcast.
    Tier 2 resolves within-cell order with RANGE-framed running maxima
    partitioned by cell (every window here is partitioned — no global
    sort). Exact integer cents make the frame bounds and the hash check
    drift-free. At 100 TB: one shuffle for the cell stats, one broadcast,
    one partitioned window — skyline over any column pair at scan cost."""
    p = load_table(spark, sf_dir, "part")
    base = p.select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * F.lit(100.0))
        .cast("bigint")
        .alias("price_cents"),
    ).withColumn(
        "cell", F.floor(F.col("price_cents") / F.lit(_SKYLINE_BUCKET_CENTS))
    )
    # Tier 1: per-cell max size (tiny), strict-prefix max over cheaper cells.
    wcell = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    cells = (
        base.groupBy("cell")
        .agg(F.max("p_size").alias("cell_max"))
        .select("cell", F.max("cell_max").over(wcell).alias("prefix_max"))
    )
    # Tier 2: within-cell running maxima over exact integer price order.
    win = Window.partitionBy("cell").orderBy("price_cents")
    m1 = F.max("p_size").over(win.rangeBetween(Window.unboundedPreceding, -1))
    m2 = F.max("p_size").over(win.rangeBetween(Window.unboundedPreceding, 0))
    scored = base.join(F.broadcast(cells), "cell").select(
        "p_partkey",
        "p_size",
        "price_cents",
        F.greatest(F.coalesce(m1, F.lit(-1)), F.coalesce("prefix_max", F.lit(-1))).alias("m1"),
        F.greatest(m2, F.coalesce("prefix_max", F.lit(-1))).alias("m2"),
    )
    return (
        scored.filter(
            (F.col("m1") < F.col("p_size")) & (F.col("m2") <= F.col("p_size"))
        )
        .select("p_partkey", "p_size", "price_cents")
        .orderBy("price_cents", "p_partkey")
    )


_DID_CUTOVER = "2024-01-16 00:00:00"  # events span 2024-01; split mid-month


def _did_oracle() -> str:
    def cell(alias: str, treated: str, post: str) -> str:
        cond = (
            f"user_id % 2 = {treated} AND ts "
            f"{'>=' if post == '1' else '<'} TIMESTAMP '{_DID_CUTOVER}'"
        )
        n = (
            f"CAST(COALESCE(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END), 0)"
            f" AS BIGINT)"
        )
        s = (
            f"(CAST(SUM(CASE WHEN {cond} THEN "
            f"try_cast(ROUND(value * 100.0) as bigint) ELSE 0 END) AS DOUBLE)"
            f" / CAST(100 AS DOUBLE))"
        )
        return f"{n} AS n_{alias}, {s} AS s_{alias}"

    return f"""
    WITH s AS (
        SELECT {cell('c_pre', '0', '0')}, {cell('c_post', '0', '1')},
               {cell('t_pre', '1', '0')}, {cell('t_post', '1', '1')}
        FROM events
    ),
    m AS (
        SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
               CASE WHEN n_c_pre > 0
                    THEN s_c_pre / CAST(n_c_pre AS DOUBLE) END AS mean_c_pre,
               CASE WHEN n_c_post > 0
                    THEN s_c_post / CAST(n_c_post AS DOUBLE) END AS mean_c_post,
               CASE WHEN n_t_pre > 0
                    THEN s_t_pre / CAST(n_t_pre AS DOUBLE) END AS mean_t_pre,
               CASE WHEN n_t_post > 0
                    THEN s_t_post / CAST(n_t_post AS DOUBLE) END AS mean_t_post
        FROM s
    )
    SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
           mean_c_pre, mean_c_post, mean_t_pre, mean_t_post,
           (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
    FROM m
    """


@query("events_diff_in_diff", oracle=_did_oracle())
def events_diff_in_diff(spark, sf_dir):
    """Difference-in-differences estimator: treated (odd user_id — the
    deterministic hash-split stand-in for an experiment arm) vs control,
    pre vs post the _DID_CUTOVER mid-January split, outcome = event
    value. The causal
    readout is the classic 2×2: (treated post−pre) − (control post−pre),
    which nets out both the arm's level difference and the common time
    trend.

    ONE scan, one 1-row conditional aggregate (map-side combined): each
    cell's count and exact-cents sum come from CASE-guarded integer sums,
    so the four means and the DiD contrast are a fixed tree of IEEE
    divisions/subtractions mirrored op-for-op with the oracle — hash-exact
    despite being float arithmetic. At 100 TB this is the cheapest shape a
    query can have: scan → partial agg → 1-row final, no shuffle of data
    rows, and the cutover/arm predicates are scan-evaluated (no join
    against an assignment table — assignment is a pure key function)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_DID_CUTOVER).cast("timestamp")
    cents = F.round(F.col("value") * F.lit(100.0)).try_cast("bigint")

    def cell(alias: str, treated: int, post: bool):
        cond = (F.col("user_id") % 2 == treated) & (
            (F.col("ts") >= cut) if post else (F.col("ts") < cut)
        )
        n = (
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"n_{alias}")
        )
        s = (
            F.sum(F.when(cond, cents).otherwise(F.lit(0))).cast("double")
            / F.lit(100).cast("double")
        ).alias(f"s_{alias}")
        return n, s

    aggs = []
    for alias, treated, post in (
        ("c_pre", 0, False),
        ("c_post", 0, True),
        ("t_pre", 1, False),
        ("t_post", 1, True),
    ):
        aggs.extend(cell(alias, treated, post))
    s = ev.agg(*aggs)

    def mean(alias: str) -> F.Column:
        # empty-cell guard (empty-input contract: value stats honestly NULL;
        # the when() also keeps ANSI mode from raising on the 0 divisor)
        return F.when(
            F.col(f"n_{alias}") > 0,
            F.col(f"s_{alias}") / F.col(f"n_{alias}").cast("double"),
        ).alias(f"mean_{alias}")

    m = s.select(
        "n_c_pre",
        "n_c_post",
        "n_t_pre",
        "n_t_post",
        mean("c_pre"),
        mean("c_post"),
        mean("t_pre"),
        mean("t_post"),
    )
    did = (F.col("mean_t_post") - F.col("mean_t_pre")) - (
        F.col("mean_c_post") - F.col("mean_c_pre")
    )
    return m.select("*", did.alias("did"))


# ---------------------------------------------------------------------------
# Privacy auditing — re-identification risk over quasi-identifiers. The QI
# tuple is (nation, $1000 account-balance band); balance bands come from the
# exact-cents integer so the class keys are drift-free across engines.

_QI_BAND_SQL = (
    "CAST(FLOOR(try_cast(ROUND(c_acctbal * 100) as bigint)"
    " / CAST(100000 AS DOUBLE)) AS BIGINT)"
)
_K_ANON = 5
_L_DIV_LIMIT = 20


def _qi_band() -> F.Column:
    cents = F.round(F.col("c_acctbal") * F.lit(100.0)).try_cast("bigint")
    return F.floor(cents / F.lit(100000.0)).cast("bigint")


@query(
    "privacy_k_anonymity",
    oracle=f"""
    WITH cls AS (
        SELECT c_nationkey, {_QI_BAND_SQL} AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer GROUP BY 1, 2
    )
    SELECT cnt AS class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(cnt < {_K_ANON} AS INTEGER) AS at_risk
    FROM cls GROUP BY cnt ORDER BY class_size
    """,
)
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit: the equivalence-class-size histogram over the
    quasi-identifier tuple (nation, balance band), flagging classes below
    k=5 — the rows a linkage attacker can single out. The class-size
    histogram (not a per-class listing) is the scale-honest output: it is
    bounded by the largest class size, not the class count.

    Plan: one map-side-combined QI aggregate (the only data-sized
    shuffle), then a tiny histogram aggregate over class counts. This is
    the release-gate shape a training-data pipeline runs before shipping
    any user-derived table; generalize-and-re-audit loops just re-run it
    with coarser band widths."""
    c = load_table(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey", _qi_band().alias("bal_band")
    ).agg(F.count("*").alias("cnt"))
    return (
        cls.groupBy(F.col("cnt").alias("class_size"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("cnt").alias("n_rows"),
        )
        .select(
            "class_size",
            "n_classes",
            "n_rows",
            (F.col("class_size") < _K_ANON).cast("int").alias("at_risk"),
        )
        .orderBy("class_size")
    )


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH cls AS (
        SELECT c_nationkey, {_QI_BAND_SQL} AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS class_n,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, bal_band, class_n, l
    FROM cls ORDER BY l, class_n DESC, c_nationkey, bal_band
    LIMIT {_L_DIV_LIMIT}
    """,
)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit: for each quasi-identifier class, how many
    DISTINCT values of the sensitive attribute (market segment) it
    contains — a class that is k-anonymous but l=1 still leaks the
    sensitive value of everyone in it (the homogeneity attack
    k-anonymity alone misses). Reports the 20 worst classes
    (lowest diversity, largest membership first).

    Plan: ONE QI aggregate computing class size and the distinct-count
    together (count-distinct partials merge map-side), then TakeOrdered —
    never a per-class subquery. Same release-gate family as
    privacy_k_anonymity."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", _qi_band().alias("bal_band"))
        .agg(
            F.count("*").alias("class_n"),
            F.countDistinct("c_mktsegment").alias("l"),
        )
        .orderBy("l", F.desc("class_n"), "c_nationkey", "bal_band")
        .limit(_L_DIV_LIMIT)
    )


_LINKPRED_SEEDS = 20


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem
    ),
    edges AS (
        SELECT a.item AS u, b.item AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    sym AS (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src
    ),
    seeds AS (
        SELECT node FROM (
            SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rk
            FROM deg
        ) WHERE rk <= {_LINKPRED_SEEDS}
    ),
    sn AS (
        SELECT s.node AS seed, e.dst AS n
        FROM seeds s JOIN sym e ON e.src = s.node
    ),
    wedge AS (
        SELECT sn.seed, e2.dst AS cand
        FROM sn JOIN sym e2 ON e2.src = sn.n
        WHERE e2.dst <> sn.seed
    ),
    cn AS (
        SELECT seed, cand, CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM wedge GROUP BY seed, cand
    )
    SELECT seed, cand, common_neighbors
    FROM cn c
    WHERE NOT EXISTS (
        SELECT 1 FROM edges e
        WHERE e.u = LEAST(c.seed, c.cand)
          AND e.v = GREATEST(c.seed, c.cand)
    )
    ORDER BY common_neighbors DESC, seed, cand
    LIMIT 20
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Common-neighbors link prediction for a 20-node seed set: for each
    top-degree seed, the non-adjacent parts sharing the most co-purchase
    neighbors — 'you-may-also-like' candidate generation, missing-edge
    inference over crawl/citation graphs.

    All-pairs common-neighbor counting is Σd² wedges — quadratic in hot
    degrees and the classic scale trap. This query instead scopes to a
    seed set (how link prediction is actually served: per focal node),
    so the wedge work is O(Σ_{{seed}} d(seed) · d̄) — seed edges join the
    shared co-purchase layout (``_copurchase_edges``) once, existing edges
    are removed with a canonical-key anti join, TakeOrdered emits the
    top-20. Seeds pick by (degree, node) TakeOrdered; the oracle mirrors
    that with a ROW_NUMBER cap. At 100 TB the remaining hot spot is a
    celebrity seed's neighborhood — the same per-key skew the salting
    escape hatch covers."""
    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # seed selection reads the SAME degree frame kcore keeps as session
    # state (ingest-maintained metadata beside the edge layout) — the
    # per-invocation full-graph degree aggregate was two extra scans of
    # the edge layout per call for a frame that never changes in-session
    deg = _copurchase_degrees(spark, sf_dir)
    seeds = (
        deg.orderBy(F.desc("deg"), "node")
        .limit(_LINKPRED_SEEDS)
        .select("node")
    )
    sn = F.broadcast(seeds).join(
        sym, seeds["node"] == sym["src"]
    ).select(F.col("node").alias("seed"), F.col("dst").alias("n"))
    wedge = sn.join(
        sym.select(F.col("src").alias("n"), F.col("dst").alias("cand")), "n"
    ).filter(F.col("cand") != F.col("seed"))
    cn = wedge.groupBy("seed", "cand").agg(
        F.count("*").alias("common_neighbors")
    )
    canon = cn.select(
        "seed",
        "cand",
        "common_neighbors",
        F.least("seed", "cand").alias("u"),
        F.greatest("seed", "cand").alias("v"),
    )
    return (
        canon.join(edges, ["u", "v"], "left_anti")
        .select("seed", "cand", "common_neighbors")
        .orderBy(F.desc("common_neighbors"), "seed", "cand")
        .limit(20)
    )


def _anova_oracle() -> str:
    # per-group exact moments; every cross-group fold re-quantized to int64
    # so the 5-term sums are order-independent (SUM over groups in double
    # would be one ulp away between engines)
    return """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(try_cast(ROUND(value * 100.0) as bigint)) AS BIGINT)
                 AS sc,
               CAST(SUM(try_cast(ROUND((value * value) * 10000.0) as bigint))
                    AS BIGINT) AS sqc
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(sc) AS BIGINT) AS scc
        FROM g
    ),
    terms AS (
        SELECT g.event_type, tot.k, tot.nn,
               CAST(FLOOR(CAST(g.n AS DOUBLE)
                    * ((CAST(g.sc AS DOUBLE) / CAST(100 AS DOUBLE))
                         / CAST(g.n AS DOUBLE)
                       - (CAST(tot.scc AS DOUBLE) / CAST(100 AS DOUBLE))
                         / CAST(tot.nn AS DOUBLE))
                    * ((CAST(g.sc AS DOUBLE) / CAST(100 AS DOUBLE))
                         / CAST(g.n AS DOUBLE)
                       - (CAST(tot.scc AS DOUBLE) / CAST(100 AS DOUBLE))
                         / CAST(tot.nn AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS ssb_q,
               CAST(FLOOR((CAST(g.sqc AS DOUBLE) / CAST(10000 AS DOUBLE)
                      - (CAST(g.sc AS DOUBLE) / CAST(100 AS DOUBLE))
                        * (CAST(g.sc AS DOUBLE) / CAST(100 AS DOUBLE))
                        / CAST(g.n AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS ssw_q
        FROM g, tot
    )
    SELECT CAST(COALESCE(MIN(k), 0) AS BIGINT) AS k_groups,
           CAST(COALESCE(MIN(nn), 0) AS BIGINT) AS n_rows,
           CAST(SUM(ssb_q) AS DOUBLE) / CAST(1000000 AS DOUBLE)
             AS ss_between,
           CAST(SUM(ssw_q) AS DOUBLE) / CAST(1000000 AS DOUBLE)
             AS ss_within,
           CASE WHEN MIN(k) > 1 AND MIN(nn) > MIN(k) AND SUM(ssw_q) > 0
                THEN (CAST(SUM(ssb_q) AS DOUBLE) / CAST(1000000 AS DOUBLE)
                        / (CAST(MIN(k) AS DOUBLE) - CAST(1 AS DOUBLE)))
                     / (CAST(SUM(ssw_q) AS DOUBLE) / CAST(1000000 AS DOUBLE)
                        / (CAST(MIN(nn) AS DOUBLE) - CAST(MIN(k) AS DOUBLE)))
           END AS f_stat
    FROM terms
    """


@query("stats_anova_oneway", oracle=_anova_oracle())
def stats_anova_oneway(spark, sf_dir):
    """One-way ANOVA across event types: does mean event value differ by
    type? Completes the hypothesis-testing family (Welch t, chi², rank
    sum) with the k-group omnibus test.

    Everything flows from ONE map-side-combined groupBy(event_type)
    computing exact integer moments (n, Σcents, Σcents²); the global row
    re-aggregates those five group rows (exact int sums) and broadcasts
    back. The only subtle exactness point: SS_between/SS_within are sums
    over GROUPS of double terms, and k-term double addition is
    order-sensitive — so each group's term is micro-quantized back to
    int64 before the fold (same discipline as the embedding kernels), and
    the F statistic is then a fixed tree of mirrored IEEE divisions. At
    100 TB this is scan → 5-row aggregate → arithmetic: no data-sized
    shuffle at all."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0)).try_cast("bigint")
    sqc = F.round((F.col("value") * F.col("value")) * F.lit(10000.0)).try_cast(
        "bigint"
    )
    from nyc_taxi_pyspark_spark.operators.iterative import cut_lineage

    # materialize the |event_type|-row moment frame ONCE: it feeds both the
    # global-total branch and the per-group terms, and without the lineage
    # cut Catalyst plans two full scans of events
    g = cut_lineage(
        ev.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sc"),
            F.sum(sqc).alias("sqc"),
        )
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("sc").alias("scc"),
    )
    gm = (F.col("sc").cast("double") / F.lit(100.0)) / F.col("n").cast(
        "double"
    )
    mm = (F.col("scc").cast("double") / F.lit(100.0)) / F.col("nn").cast(
        "double"
    )
    ssb_q = F.floor(
        F.col("n").cast("double") * (gm - mm) * (gm - mm) * F.lit(1000000.0)
    ).cast("bigint")
    ssw_q = F.floor(
        (
            F.col("sqc").cast("double") / F.lit(10000.0)
            - (F.col("sc").cast("double") / F.lit(100.0))
            * (F.col("sc").cast("double") / F.lit(100.0))
            / F.col("n").cast("double")
        )
        * F.lit(1000000.0)
    ).cast("bigint")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "event_type", "k", "nn", ssb_q.alias("ssb_q"), ssw_q.alias("ssw_q")
    )
    ssb = F.sum("ssb_q").cast("double") / F.lit(1000000.0)
    ssw = F.sum("ssw_q").cast("double") / F.lit(1000000.0)
    # degenerate guards (k=1, N=k, zero within-variance): honest NULL
    # instead of an ANSI divide-by-zero
    f_stat = F.when(
        (F.min("k") > 1) & (F.min("nn") > F.min("k")) & (F.sum("ssw_q") > 0),
        (ssb / (F.min("k").cast("double") - F.lit(1.0)))
        / (ssw / (F.min("nn").cast("double") - F.min("k").cast("double"))),
    )
    return terms.agg(
        F.coalesce(F.min("k"), F.lit(0)).cast("bigint").alias("k_groups"),
        F.coalesce(F.min("nn"), F.lit(0)).cast("bigint").alias("n_rows"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f_stat.alias("f_stat"),
    )


def _modularity_oracle() -> str:
    return """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem
    ),
    edges AS (
        SELECT a.item AS u, b.item AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    brands AS (SELECT p_partkey AS node, p_brand FROM part),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
        ) GROUP BY node
    ),
    dsum AS (
        SELECT b.p_brand, CAST(SUM(deg.d) AS BIGINT) AS degree_sum
        FROM deg JOIN brands b ON b.node = deg.node
        GROUP BY b.p_brand
    ),
    within AS (
        SELECT bu.p_brand, CAST(COUNT(*) AS BIGINT) AS within_edges
        FROM edges e
        JOIN brands bu ON bu.node = e.u
        JOIN brands bv ON bv.node = e.v
        WHERE bu.p_brand = bv.p_brand
        GROUP BY bu.p_brand
    ),
    terms AS (
        SELECT d.p_brand, COALESCE(w.within_edges, 0) AS within_edges,
               d.degree_sum,
               CASE WHEN m.m > 0 THEN
                 CAST(COALESCE(w.within_edges, 0) AS DOUBLE)
                   / CAST(m.m AS DOUBLE)
                 - (CAST(d.degree_sum AS DOUBLE)
                      / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))
                   * (CAST(d.degree_sum AS DOUBLE)
                      / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))
               END AS term
        FROM dsum d LEFT JOIN within w ON w.p_brand = d.p_brand, m
    ),
    q AS (
        SELECT CAST(SUM(CAST(FLOOR(term * 1e12) AS BIGINT)) AS DOUBLE)
                 / 1e12 AS q_total
        FROM terms
    )
    SELECT t.p_brand, t.within_edges, t.degree_sum, t.term, q.q_total
    FROM terms t, q
    ORDER BY t.p_brand
    """


@query("graph_brand_modularity", oracle=_modularity_oracle())
def graph_brand_modularity(spark, sf_dir):
    """Modularity of the brand partition over the co-purchase graph —
    attribute assortativity: are same-brand parts co-purchased more than
    a degree-preserving random graph predicts? Q = Σ_c [e_c/m −
    (d_c/2m)²]; per-brand terms localize WHICH attribute value clusters.
    The same query shape audits community quality for any node attribute
    (domain vs link graph, language vs citation graph) — the curation
    question 'does this metadata field explain the graph?'.

    All counts are exact integers off the shared co-purchase layout
    (``_copurchase_edges``): m is a 1-row broadcast, node→brand is a
    broadcast dim join, within-edges is one filtered aggregate, and the
    cross-brand Q fold re-quantizes each term to int64 (k-term double
    sums are order-sensitive) — the one division pair per term is
    mirrored IEEE. No iteration, no pairwise work beyond the edge list
    itself."""
    edges = _copurchase_edges(spark, sf_dir)
    brands = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), "p_brand"
    )
    # degree frame and edge count ride the kcore session layout (r16,
    # guide §2.4 — the graph_link_prediction r15 move): the per-call
    # full-edge degree aggregate and the edge-count scan both derive
    # from state the session already keeps. Σdeg = 2m exactly (each
    # edge contributes one count at each endpoint), so m is a 20k-row
    # aggregate over the degree layout instead of a 2.4M-row edge scan.
    deg = _copurchase_degrees(spark, sf_dir).select(
        "node", F.col("deg").alias("d")
    )
    m = deg.agg(F.expr("sum(d) div 2").alias("m"))
    dsum_b = (
        deg.join(F.broadcast(brands), "node")
        .groupBy("p_brand")
        .agg(F.sum("d").alias("degree_sum"))
    )
    bu = brands.select(
        F.col("node").alias("u"), F.col("p_brand").alias("brand_u")
    )
    bv = brands.select(
        F.col("node").alias("v"), F.col("p_brand").alias("brand_v")
    )
    within = (
        edges.join(F.broadcast(bu), "u")
        .join(F.broadcast(bv), "v")
        .filter(F.col("brand_u") == F.col("brand_v"))
        .groupBy(F.col("brand_u").alias("p_brand"))
        .agg(F.count("*").alias("within_edges"))
    )
    md = F.col("m").cast("double")
    half = F.col("degree_sum").cast("double") / (F.lit(2.0) * md)
    # honest NULL on a degenerate empty edge set (the ANOVA/DiD/Gini
    # convention) instead of IEEE NaN/Infinity from the m=0 division
    term = F.when(
        F.col("m") > 0,
        F.coalesce(F.col("within_edges"), F.lit(0)).cast("double") / md
        - half * half,
    )
    terms = (
        dsum_b.join(within, "p_brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "p_brand",
            F.coalesce(F.col("within_edges"), F.lit(0))
            .cast("bigint")
            .alias("within_edges"),
            "degree_sum",
            term.alias("term"),
        )
    )
    # q_total as a global window over the term frame (r16): the old
    # 1-row aggregate + crossJoin re-evaluated the whole terms pipeline
    # (including the within-edges scan) once for the broadcast and once
    # for the final select. The frame is bounded by the attribute's
    # cardinality (brands — dozens), so the single-partition window is
    # safe at any data scale and the heavy subtree runs exactly once.
    from pyspark.sql import Window

    q_total = (
        F.sum(F.floor(F.col("term") * F.lit(1e12)).cast("bigint"))
        .over(Window.partitionBy())
        .cast("double")
        / F.lit(1e12)
    )
    return (
        terms.select(
            "p_brand",
            "within_edges",
            "degree_sum",
            "term",
            q_total.alias("q_total"),
        )
        .orderBy("p_brand")
    )


_NEYMAN_BUDGET = 1000


def _neyman_oracle() -> str:
    sd = (
        "SQRT(((CAST(sqc AS DOUBLE) / CAST(10000 AS DOUBLE))"
        " - (CAST(sc AS DOUBLE) / CAST(100 AS DOUBLE))"
        " * (CAST(sc AS DOUBLE) / CAST(100 AS DOUBLE))"
        " / CAST(n AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))"
    )
    return f"""
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(try_cast(ROUND(value * 100.0) as bigint)) AS BIGINT)
                 AS sc,
               CAST(SUM(try_cast(ROUND((value * value) * 10000.0) as bigint))
                    AS BIGINT) AS sqc
        FROM events GROUP BY event_type
    ),
    s AS (
        SELECT event_type, n,
               CASE WHEN n >= 2 THEN {sd} END AS stddev,
               CASE WHEN n >= 2 THEN
                   CAST(FLOOR(CAST(n AS DOUBLE) * {sd}
                        * CAST(1000000 AS DOUBLE)) AS BIGINT)
               ELSE 0 END AS wq
        FROM g
    ),
    t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot FROM s),
    b AS (
        SELECT s.event_type, s.n, s.stddev, s.wq, t.wtot,
               CASE WHEN t.wtot > 0
                    THEN ({_NEYMAN_BUDGET} * s.wq) // t.wtot ELSE 0 END
                 AS floor_alloc,
               CASE WHEN t.wtot > 0
                    THEN ({_NEYMAN_BUDGET} * s.wq) % t.wtot ELSE 0 END
                 AS rem
        FROM s, t
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk,
               SUM(floor_alloc) OVER () AS allocated
        FROM b
    )
    SELECT event_type, n AS n_stratum, stddev,
           CAST(CASE WHEN wtot > 0 THEN floor_alloc
                + CASE WHEN rk <= {_NEYMAN_BUDGET} - allocated
                       THEN 1 ELSE 0 END
                ELSE 0 END AS BIGINT) AS alloc
    FROM r
    ORDER BY event_type
    """


@query("sample_neyman_allocation", oracle=_neyman_oracle())
def sample_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified-sample allocation: split a 1000-row
    sample budget across event-type strata proportionally to N_h·S_h —
    the variance-minimizing design for estimating the mean (high-variance
    strata earn more of the budget than proportional allocation gives
    them). Completes the sampling-design family (mixture, weighted,
    budget, token allocation) with the statistics-driven variant.

    Stratum stddevs come from the exact integer moments of ONE map-side
    combined aggregate; the N·S weights micro-quantize to int64 so the
    weight total, the floor shares, and the largest-remainder top-up are
    all EXACT integer arithmetic (allocations sum to the budget exactly —
    floor-only under-allocates, naive rounding drifts). Degenerate strata
    (n<2) weigh 0; an all-degenerate input allocates 0 honestly instead
    of dividing by zero. Post-aggregate windows run on the |strata|-row
    frame (the token-allocation discipline).

    int64 budget: wq = floor(N_h·S_h·1e6) and the top-up compares
    _NEYMAN_BUDGET·wq against Σwq, so the headroom bound is
    1000·max(N_h·S_h)·1e6 < 2^63, i.e. max stratum N·S below ~9.2e9 —
    holds through ~sf100 for this cents-scale column; past that, drop
    the 1e6 quantizer a decade or split the product with the Gini
    hi/lo discipline. Exactness claims are scoped to that bound."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0)).try_cast("bigint")
    sqc = F.round((F.col("value") * F.col("value")) * F.lit(10000.0)).try_cast(
        "bigint"
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sc"),
        F.sum(sqc).alias("sqc"),
    )
    nd = F.col("n").cast("double")
    sd = F.sqrt(
        (
            F.col("sqc").cast("double") / F.lit(10000.0)
            - (F.col("sc").cast("double") / F.lit(100.0))
            * (F.col("sc").cast("double") / F.lit(100.0))
            / nd
        )
        / (nd - F.lit(1.0))
    )
    s = g.select(
        "event_type",
        "n",
        F.when(F.col("n") >= 2, sd).alias("stddev"),
        F.when(
            F.col("n") >= 2,
            F.floor(nd * sd * F.lit(1000000.0)).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("wq"),
    )
    everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = s.select(
        "event_type",
        "n",
        "stddev",
        "wq",
        F.sum("wq").over(everything).alias("wtot"),
    ).select(
        "event_type",
        "n",
        "stddev",
        "wtot",
        F.when(
            F.col("wtot") > 0,
            F.expr(f"({_NEYMAN_BUDGET} * wq) div wtot"),
        )
        .otherwise(F.lit(0))
        .alias("floor_alloc"),
        F.when(
            F.col("wtot") > 0,
            (F.lit(_NEYMAN_BUDGET) * F.col("wq")) % F.col("wtot"),
        )
        .otherwise(F.lit(0))
        .alias("rem"),
    )
    r = b.select(
        "event_type",
        "n",
        "stddev",
        "wtot",
        "floor_alloc",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "event_type"))
        .alias("rk"),
        F.sum("floor_alloc").over(everything).alias("allocated"),
    )
    alloc = F.when(
        F.col("wtot") > 0,
        F.col("floor_alloc")
        + F.when(
            F.col("rk") <= F.lit(_NEYMAN_BUDGET) - F.col("allocated"), 1
        ).otherwise(0),
    ).otherwise(F.lit(0))
    return r.select(
        "event_type",
        F.col("n").alias("n_stratum"),
        "stddev",
        alloc.cast("bigint").alias("alloc"),
    ).orderBy("event_type")


_GINI_BUCKET_CENTS = 100_000  # $1000 revenue cells for the two-tier rank
_KS_BUCKET_CENTS = 1_000  # $10 value cells for the KS two-tier ECDF rank


@query(
    "orders_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(try_cast(ROUND(o_totalprice * 100.0) as bigint))
                    AS BIGINT) AS rc
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rc, CAST(ROW_NUMBER() OVER (ORDER BY rc, o_custkey)
                        AS BIGINT) AS i
        FROM rev
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rc) AS BIGINT) AS t,
               CAST(SUM(i * rc) AS BIGINT) AS s1
        FROM ranked
    )
    SELECT n AS n_customers,
           CAST(COALESCE(t, 0) AS BIGINT) AS total_cents,
           CASE WHEN n > 0 AND t > 0
                THEN CAST(2 * s1 AS DOUBLE) / CAST(n * t AS DOUBLE)
                     - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)
           END AS gini
    FROM agg
    """,
)
def orders_gini_concentration(spark, sf_dir):
    """Gini coefficient of per-customer revenue — the concentration /
    inequality readout next to orders_pareto_share's top-x% view; for a
    training corpus the same query measures source or domain dominance
    (a Gini near 1 says a handful of keys own the data).

    Gini needs every key's GLOBAL rank, which naively is one total sort.
    The rank instead splits two-tier (the skyline discipline): bucket
    revenues into $1000 cells, take one tiny cell-stats aggregate, prefix
    counts over the bounded cell frame, and resolve within-cell order
    with a PARTITIONED row_number — global_rank = cells_below + local
    rank, exact because a lower cell always means strictly smaller
    cents. Everything stays int64 (rank·cents terms, totals) up to the
    int64 budget (~sf1 for this column; past that, split the rank-weighted
    sum with the dsum_wide hi/lo discipline), and the two final divisions
    are mirrored IEEE. The oracle is the plain global-window form."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * F.lit(100.0)).try_cast("bigint")
        ).alias("rc")
    )
    rev = rev.withColumn(
        "cell", F.floor(F.col("rc") / F.lit(_GINI_BUCKET_CENTS))
    )
    wb = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    cells = (
        rev.groupBy("cell")
        .agg(F.count("*").alias("n_b"))
        .select(
            "cell",
            F.coalesce(F.sum("n_b").over(wb), F.lit(0)).alias("below"),
        )
    )
    win = Window.partitionBy("cell").orderBy("rc", "o_custkey")
    ranked = rev.join(F.broadcast(cells), "cell").select(
        "rc",
        (F.col("below") + F.row_number().over(win)).cast("bigint").alias("i"),
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rc").alias("t"),
        F.sum(F.col("i") * F.col("rc")).alias("s1"),
    )
    gini = F.when(
        (F.col("n") > 0) & (F.col("t") > 0),
        (F.lit(2) * F.col("s1")).cast("double")
        / (F.col("n") * F.col("t")).cast("double")
        - (F.col("n") + F.lit(1)).cast("double") / F.col("n").cast("double"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("total_cents"),
        gini.alias("gini"),
    )


@query(
    "stats_ks_test",
    oracle="""
    WITH g AS (
        SELECT try_cast(ROUND(value * 100.0) as bigint) AS vc,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2
        FROM events WHERE event_type IN ('click', 'error')
          AND try_cast(ROUND(value * 100.0) AS bigint) IS NOT NULL
        GROUP BY vc
    ),
    c AS (
        SELECT vc, n1, n2,
               CAST(SUM(n1) OVER (ORDER BY vc ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c1,
               CAST(SUM(n2) OVER (ORDER BY vc ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c2,
               CAST(SUM(n1) OVER () AS BIGINT) AS t1,
               CAST(SUM(n2) OVER () AS BIGINT) AS t2
        FROM g
    ),
    s AS (
        SELECT vc, t1, t2, ABS(c1 * t2 - c2 * t1) AS dnum
        FROM c
    )
    SELECT CAST(vc AS DOUBLE) / CAST(100 AS DOUBLE) AS at_value,
           CAST(dnum AS BIGINT) AS d_numerator,
           CAST(t1 * t2 AS BIGINT) AS d_denominator,
           CASE WHEN t1 > 0 AND t2 > 0
                THEN CAST(dnum AS DOUBLE) / CAST(t1 * t2 AS DOUBLE)
           END AS d_stat
    FROM s
    ORDER BY dnum DESC, vc
    LIMIT 1
    """,
)
def stats_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic (click vs error values):
    D = sup_x |F̂₁(x) − F̂₂(x)|, the distribution-equality test that sees
    shape differences the t-test's means can't — completing the
    nonparametric family next to the rank-sum test and the QQ compare.

    Exactness: D is kept RATIONAL — the ECDF difference at x is
    (c1·N2 − c2·N1)/(N1·N2) with every term an exact int64 (cumulative
    counts over the DISTINCT-VALUE frame; cents-exact value keys), so the
    argmax is decided on integers and the one division is display-only
    and NULL-guarded when either sample is empty (mirrored CASE in the
    oracle). Ties on D break toward the smallest value in both engines.

    Plan — the two-tier global-rank discipline (the Gini pattern), so
    NO unpartitioned window ever touches the distinct-value frame: one
    map-side-combined value aggregate, then (tier 1) per-$10-cell count
    sums whose exclusive prefix runs over the BOUNDED cell frame (value
    range / cell width — catalog metadata, not data-sized) and rejoins
    via broadcast, (tier 2) within-cell cumulative sums in a PARTITIONED
    window, c = below(cell) + local prefix — exact because a lower cell
    always means a strictly smaller cents key. Finishes in a 1-row
    TakeOrdered. tests/test_plans.py gates the partitioned shape."""
    from pyspark.sql import Window

    # Dirty-data contract: rows whose cents key is NULL (NULL/NaN/Inf value
    # via try_cast) are excluded from totals and prefixes alike, in BOTH
    # engines — otherwise Spark's NULLS-FIRST window counts them in every
    # real cell's c1/c2 while DuckDB's NULLS-LAST counts them in none,
    # diverging d_numerator/argmax whenever dirty values exist.
    vc = F.round(F.col("value") * F.lit(100.0)).try_cast("bigint")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error") & vc.isNotNull()
    )
    g = ev.groupBy(vc.alias("vc")).agg(
        F.sum((F.col("event_type") == "click").cast("bigint")).alias("n1"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("n2"),
    ).withColumn("cell", F.floor(F.col("vc") / F.lit(_KS_BUCKET_CENTS)))
    wb = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    we = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cells = (
        g.groupBy("cell")
        .agg(F.sum("n1").alias("b1"), F.sum("n2").alias("b2"))
        .select(
            "cell",
            F.coalesce(F.sum("b1").over(wb), F.lit(0)).alias("below1"),
            F.coalesce(F.sum("b2").over(wb), F.lit(0)).alias("below2"),
            F.sum("b1").over(we).alias("t1"),
            F.sum("b2").over(we).alias("t2"),
        )
    )
    win = (
        Window.partitionBy("cell")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.join(F.broadcast(cells), "cell").select(
        "vc",
        (F.col("below1") + F.sum("n1").over(win)).alias("c1"),
        (F.col("below2") + F.sum("n2").over(win)).alias("c2"),
        "t1",
        "t2",
    )
    s = c.select(
        "vc",
        "t1",
        "t2",
        F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1")).alias(
            "dnum"
        ),
    )
    return (
        s.select(
            (F.col("vc").cast("double") / F.lit(100).cast("double")).alias(
                "at_value"
            ),
            F.col("dnum").cast("bigint").alias("d_numerator"),
            (F.col("t1") * F.col("t2")).cast("bigint").alias("d_denominator"),
            F.when(
                (F.col("t1") > 0) & (F.col("t2") > 0),
                F.col("dnum").cast("double")
                / (F.col("t1") * F.col("t2")).cast("double"),
            ).alias("d_stat"),
        )
        .orderBy(F.desc("d_numerator"), "at_value")
        .limit(1)
    )

"""Extended scalar-function queries (SURVEY.md §2.8's noted gaps: string /
array / date function families, plus unpivot and further analytics). All
row-level or integer-exact ⇒ directly oracle-checkable."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.functions.exact import oracle_dsum
from nyc_taxi_pyspark_spark.sources.io import load_table


@query(
    "string_functions",
    oracle="""
    SELECT doc_id,
           upper(source) AS source_upper,
           substr(text, 1, 12) AS head12,
           length(trim(text)) AS len_trimmed,
           regexp_replace(text, ' ', '_', 'g') [1:20] AS snake20,
           CAST(contains(text, 'join') AS INTEGER) AS mentions_join,
           lang || ':' || source AS lang_source
    FROM documents
    """,
)
def string_functions(spark, sf_dir):
    """String surface: upper/substr/trim/regexp_replace/contains/concat."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("source").alias("source_upper"),
        F.substring("text", 1, 12).alias("head12"),
        F.length(F.trim(F.col("text"))).alias("len_trimmed"),
        F.substring(F.regexp_replace("text", " ", "_"), 1, 20).alias("snake20"),
        F.col("text").contains("join").cast("int").alias("mentions_join"),
        # null-propagating concat (not concat_ws): matches DuckDB's
        # concat(lang, ':', source) if either side were NULL.
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_source"),
    )


@query(
    "array_functions",
    oracle="""
    SELECT doc_id,
           CAST(len(sw) AS INTEGER) AS n_words,
           CAST(list_contains(sw, 'spark') AS INTEGER) AS has_spark,
           array_to_string(list_sort(list_distinct(sw))[1:3], ',') AS first3_csv,
           sw[len(sw)] AS last_word
    FROM (SELECT doc_id, string_split(text, ' ') AS sw FROM documents)
    """,
)
def array_functions(spark, sf_dir):
    """Array surface: split/array_distinct/sort_array/slice/contains/join/
    element_at. Every output column is a SCALAR: complex-typed results
    crash the driver's value hasher (unhashable 'list'), so arrays are
    flattened with array_join before leaving the query."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.split("text", " ")
    words = F.array_sort(F.array_distinct(sw))
    return d.select(
        "doc_id",
        F.size(sw).alias("n_words"),
        F.array_contains(sw, "spark").cast("int").alias("has_spark"),
        F.array_join(F.slice(words, 1, 3), ",").alias("first3_csv"),
        F.element_at(sw, -1).alias("last_word"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(year(o_orderdate) * 4 + ((month(o_orderdate) - 1) // 3) AS INTEGER)
             AS quarter_index,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS days_since_epoch_start
    FROM orders
    """,
)
def date_functions(spark, sf_dir):
    """Date surface: add/trunc/last_day/quarter arithmetic/datediff."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.last_day(d).alias("month_end"),
        (F.year(d) * 4 + ((F.month(d) - 1) / 3).cast("int")).alias("quarter_index"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
    )


@query(
    "unpivot_measures",
    oracle=f"""
    SELECT l_returnflag, measure, value FROM (
        SELECT l_returnflag,
               {oracle_dsum('l_quantity', 2)} AS qty,
               {oracle_dsum('l_extendedprice', 2)} AS price,
               {oracle_dsum('l_tax', 2)} AS tax
        FROM lineitem GROUP BY l_returnflag
    ) UNPIVOT (value FOR measure IN (qty, price, tax))
    """,
)
def unpivot_measures(spark, sf_dir):
    """Unpivot (melt) — the inverse of the pivot query, via stack()."""
    from nyc_taxi_pyspark_spark.functions.exact import dsum

    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", 2).alias("qty"),
        dsum("l_extendedprice", 2).alias("price"),
        dsum("l_tax", 2).alias("tax"),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(3, 'qty', qty, 'price', price, 'tax', tax) AS (measure, value)",
    )


@query(
    "window_ntile_pctrank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(NTILE(4) OVER w AS INTEGER) AS acctbal_quartile,
           ROUND(PERCENT_RANK() OVER w * 1e6) / 1e6 AS pct_rank,
           FIRST_VALUE(c_custkey) OVER w AS richest_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_ntile_pctrank(spark, sf_dir):
    """ntile / percent_rank / first_value analytics (§2.5 width).
    percent_rank = (rank-1)/(n-1): an exact small-integer ratio, quantized
    at 1e-6 identically on both engines."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    pct = F.round(F.percent_rank().over(w) * 1e6) / 1e6
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("acctbal_quartile"),
        pct.alias("pct_rank"),
        F.first("c_custkey").over(w).alias("richest_custkey"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT doc_id,
           array_to_string(map_keys(map(['lang','source'], [lang, source])), ',')
             AS meta_keys_csv,
           array_to_string(map_values(map(['lang','source'], [lang, source])), ',')
             AS meta_values_csv,
           map(['lang','source'], [lang, source])['lang'][1] AS lang_val,
           CAST(cardinality(map(['lang','source'], [lang, source])) AS INTEGER)
             AS n_entries
    FROM documents
    """,
)
def map_functions(spark, sf_dir):
    """Map surface (§2.8 type-family width): create_map / map_keys /
    map_values / element_at / size. All outputs are SCALARS — the raw map
    (engines canonicalize maps differently) and even the keys/values arrays
    (driver hasher can't take lists) leave as joined CSV strings."""
    d = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return d.select(
        "doc_id",
        F.array_join(F.map_keys(m), ",").alias("meta_keys_csv"),
        F.array_join(F.map_values(m), ",").alias("meta_values_csv"),
        F.element_at(m, "lang").alias("lang_val"),
        F.size(m).alias("n_entries"),
    )


@query(
    "lambda_functions",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(w, x -> length(x) > 5)) AS INTEGER) AS n_long,
           CAST(len(list_filter(w, x -> regexp_matches(x, '[0-9]'))) > 0
                AS INTEGER) AS any_digit,
           CAST(len(list_filter(w, x -> length(x) = 0)) = 0 AS INTEGER)
             AS all_nonempty,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
             AS total_chars,
           array_to_string(list_transform(w, x -> CAST(length(x) AS VARCHAR))[1:5],
                           ',') AS first5_lens_csv
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    """,
)
def lambda_functions(spark, sf_dir):
    """Higher-order array lambdas as a user surface: filter / exists /
    forall / aggregate / transform — all JVM-side expressions (Catalyst
    lambda variables), zero Python. The int64 aggregate fold is the same
    order-independent discipline as the engine's exact sums. Lambda arity
    is always written out in full: a defaulted second parameter silently
    receives the array index."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(F.filter(w, lambda x: F.length(x) > 5)).alias("n_long"),
        F.exists(w, lambda x: x.rlike("[0-9]")).cast("int").alias("any_digit"),
        F.forall(w, lambda x: F.length(x) > 0).cast("int").alias("all_nonempty"),
        F.aggregate(
            w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
        F.array_join(
            F.slice(F.transform(w, lambda x: F.length(x).cast("string")), 1, 5), ","
        ).alias("first5_lens_csv"),
    )


@query(
    "json_struct_parse",
    oracle="""
    WITH g AS (
        SELECT event_id,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract(props, '$.k') AS INTEGER)
               END AS k
        FROM events
    )
    SELECT event_id, k AS k_value, CAST(k % 10 AS INTEGER) AS k_bucket
    FROM g
    """,
)
def json_struct_parse(spark, sf_dir):
    """Schema-full JSON parsing: from_json into a typed struct (vs
    sql_json_extract's path-string get_json_object) — the form that scales,
    because the parsed struct is parsed ONCE and every downstream field
    access is a struct projection, not a re-parse."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_value"),
        (parsed.getField("k") % 10).alias("k_bucket"),
    )


@query(
    "events_variant_shred",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract(props, '$.k') AS BIGINT)
               END AS k
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing
    FROM g
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_variant_shred(spark, sf_dir):
    """Semi-structured props through Spark 4's VARIANT type: parse_json
    ONCE into the binary variant encoding, then typed variant_get paths —
    the third member of the JSON family next to get_json_object
    (re-parses per access, sql_json_extract) and from_json (needs the full
    schema up front, json_struct_parse). Variant is the scale path for
    schema-on-read telemetry: parsing cost is paid once per row, field
    access is a binary probe, and no schema has to be declared for fields
    you don't touch. try_variant_get returns NULL (not an error) for
    absent paths, try_parse_json returns NULL (not a job abort) for
    malformed records — real telemetry always contains some — and the
    per-type missing count keeps both contracts observable."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_variant_get(try_parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.sum(F.col("k").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_missing"),
        )
        .orderBy("event_type")
    )

"""Property-based tests (hypothesis): randomized inputs against
brute-force Python references for the operators whose edge cases are
hardest to enumerate by hand — graph clustering, as-of matching, and
quantization. Example counts are kept small because every example pays a
Spark job; the value is the randomized shape coverage, not volume."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
# The CC test pays several Spark jobs per example (iterative propagation);
# cap it tighter so the whole module stays under ~2 minutes.
_CC_SETTINGS = {**_SETTINGS, "max_examples": 6}


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: classic union-find, component label = min member id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    return {n: min(members) for members in comp.values() for n in members}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_CC_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from nyc_taxi_pyspark_spark.operators.text import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.id: r.label for r in connected_components(df).collect()}
    assert got == _union_find_components(edges)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**{**_CC_SETTINGS, "max_examples": 4})
def test_connected_components_star_matches_union_find(spark, edges):
    """large-star/small-star fixpoint == union-find on random graphs."""
    from nyc_taxi_pyspark_spark.operators.text import connected_components_star

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.id: r.label for r in connected_components_star(df).collect()}
    assert got == _union_find_components(edges)


def test_connected_components_star_chain_logarithmic(spark):
    """A 1000-node chain (diameter 999) must converge in <= 12 star rounds
    — the O(log n) property min-label propagation lacks — and the
    max_iter-exceeded fallback in connected_components must return the
    same converged labels."""
    from nyc_taxi_pyspark_spark.operators.text import (
        connected_components,
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(999)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.id: r.label for r in connected_components_star(df, max_rounds=12).collect()}
    assert got == {i: 0 for i in range(1000)}
    # diameter >> max_iter: label propagation cannot converge in 3 rounds,
    # so this exercises the warning + fallback path end-to-end.
    via_fallback = {
        r.id: r.label for r in connected_components(df, max_iter=3).collect()
    }
    assert via_fallback == got


@given(
    lefts=st.lists(st.integers(0, 1000), min_size=1, max_size=12),
    rights=st.lists(st.integers(0, 1000), min_size=0, max_size=12),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """asof_join == per-row max{right.ts <= left.ts} on one key."""
    from nyc_taxi_pyspark_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(lefts)], "event_id long, k long, t long"
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(1, t) for t in rights] or [(2, 0)], "k long, t long"
    ).select("k", F.timestamp_seconds("t").alias("ts"))
    out = asof_join(left, right, by="k", left_ts="ts", right_ts="ts", value_cols=["ts"])
    got = {
        r.event_id: (r.asof_ts.timestamp() if r.asof_ts else None)
        for r in out.collect()
    }
    want = {
        i: (max((rt for rt in rights if rt <= t), default=None) if rights else None)
        for i, t in enumerate(lefts)
    }
    want = {i: (float(v) if v is not None else None) for i, v in want.items()}
    assert got == want


@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, width=64), min_size=2, max_size=16
    )
)
@settings(**_SETTINGS)
def test_int8_quantize_invariants(spark, vec):
    """Quantized values stay in [-127, 127], signs are preserved, and a
    max-magnitude element maps to ±127 (unless the vector is all zeros)."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        int8_quantize,
        int8_quantize_py,
    )

    df = spark.createDataFrame([(vec,)], "embedding array<double>")
    q = list(df.select(int8_quantize("embedding").alias("q")).head().q)
    assert q == int8_quantize_py(vec)  # Spark == Python twin, bit-identical
    assert all(-127 <= v <= 127 for v in q)
    m = max(abs(x) for x in vec)
    if m > 0:
        for x, v in zip(vec, q):
            if x > 0:
                assert v >= 0
            if x < 0:
                assert v <= 0
        assert 127 in [abs(v) for x, v in zip(vec, q) if abs(x) == m]


# |x| <= 10 keeps every product term and every 64-term int64 sum in range,
# where the Python twins (plain floor + unbounded int sum) are defined.
_COMPONENT = st.floats(-10, 10, allow_nan=False, width=64)
_VEC64 = st.lists(_COMPONENT, min_size=64, max_size=64)


def _bits(x: float) -> str:
    return float(x).hex()  # tells -0.0 from 0.0


@given(pairs=st.lists(st.tuples(_VEC64, _VEC64), min_size=1, max_size=4))
@settings(**_SETTINGS)
def test_similarity_kernels_match_python_twins(spark, pairs):
    """The SQL-text kernels equal their Python twins bit for bit on random
    finite vectors: dot/l2_norm vs dsum_py/l2_norm_py, lsh_bucket vs
    lsh_bucket_py, sq_dist vs sq_dist_py and ivf_assign vs ivf_cell_py.
    sq_dist and ivf_assign inline their centroids as SQL literals, so this
    also round-trips every generated double through its literal text."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        dot,
        dsum_py,
        ivf_assign,
        ivf_cell_py,
        l2_norm,
        l2_norm_py,
        lsh_bucket,
        lsh_bucket_py,
        sq_dist,
        sq_dist_py,
    )

    cents = [(cid, b) for cid, (_a, b) in enumerate(pairs, start=1)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<double>, b array<double>",
    )
    rows = (
        df.select(
            "i",
            dot("a", "b").alias("dot"),
            l2_norm("a").alias("nrm"),
            lsh_bucket("a").alias("bucket"),
            sq_dist("a", cents[0][1]).alias("sq"),
            ivf_assign("a", cents).alias("cell"),
        )
        .orderBy("i")
        .collect()
    )
    for (a, b), r in zip(pairs, rows):
        assert _bits(r.dot) == _bits(dsum_py([x * y for x, y in zip(a, b)]))
        assert _bits(r.nrm) == _bits(l2_norm_py(a))
        assert r.bucket == lsh_bucket_py(a)
        assert _bits(r.sq) == _bits(sq_dist_py(a, cents[0][1]))
        assert r.cell == ivf_cell_py(a, cents)


@given(
    vec=st.lists(_COMPONENT, min_size=8, max_size=8),
    pos=st.integers(0, 7),
    bad=st.sampled_from(
        [float("nan"), float("inf"), float("-inf"), 1e6, -1e6, 1.7976931348623157e308]
    ),
)
@settings(**_SETTINGS)
def test_nonfinite_component_contributes_zero(spark, vec, pos, bad):
    """A NaN, ±Inf or |x|·1e14 > 2^63 component adds 0 to the folds
    (dot, l2_norm, sq_dist) instead of aborting the job under ANSI: the
    result equals the Python twin over the other components."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        dot,
        dsum_py,
        l2_norm,
        l2_norm_py,
        sq_dist,
        sq_dist_py,
    )

    dirty = vec[:pos] + [bad] + vec[pos + 1 :]
    clean = vec[:pos] + vec[pos + 1 :]
    df = spark.createDataFrame([(dirty, [1.0] * 8)], "a array<double>, b array<double>")
    r = df.select(
        dot("a", "b").alias("dot"),
        l2_norm("a").alias("nrm"),
        sq_dist("a", [0.0] * 8).alias("sq"),
    ).head()
    assert _bits(r.dot) == _bits(dsum_py(clean))
    assert _bits(r.nrm) == _bits(l2_norm_py(clean))
    assert _bits(r.sq) == _bits(sq_dist_py(clean, [0.0] * 7))


def test_sql_double_literals_round_trip(spark):
    """sql_double text parses back to the same IEEE value, specials included."""
    import math

    from nyc_taxi_pyspark_spark.operators.similarity import sql_doubles

    vals = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-05, 0.1,
            -1.7976931348623157e308, 1.7976931348623157e308, 9.223372036854775e18,
            float("inf"), float("-inf"), float("nan")]
    got = spark.range(1).select(F.expr(sql_doubles(vals)).alias("v")).head().v
    for want, x in zip(vals, got):
        assert (math.isnan(x) and math.isnan(want)) or _bits(x) == _bits(want)


@given(
    lefts=st.lists(st.integers(0, 1000), min_size=1, max_size=12),
    rights=st.lists(st.integers(0, 1000), min_size=0, max_size=12),
)
@settings(**_SETTINGS)
def test_asof_forward_matches_bruteforce(spark, lefts, rights):
    """forward asof_join == per-row min{right.ts >= left.ts} on one key."""
    from nyc_taxi_pyspark_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(lefts)], "event_id long, k long, t long"
    ).select("event_id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(1, t) for t in rights] or [(2, 0)], "k long, t long"
    ).select("k", F.timestamp_seconds("t").alias("ts"))
    out = asof_join(
        left, right, by="k", left_ts="ts", right_ts="ts",
        value_cols=["ts"], direction="forward",
    )
    got = {
        r.event_id: (r.asof_ts.timestamp() if r.asof_ts else None)
        for r in out.collect()
    }
    want = {
        i: (min((rt for rt in rights if rt >= t), default=None) if rights else None)
        for i, t in enumerate(lefts)
    }
    want = {i: (float(v) if v is not None else None) for i, v in want.items()}
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 300), st.integers(1, 20)),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_skyline_matches_bruteforce_property(spark, pts):
    """Two-tier skyline == O(n²) dominance on arbitrary point sets,
    including duplicates and cell-boundary values (cell width 100 at the
    operator's $100 bucket over cents·1 here means many cross-cell
    shapes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile
    import os

    from nyc_taxi_pyspark_spark.catalog.quality import part_skyline

    with tempfile.TemporaryDirectory() as d:
        tbl = pa.table(
            {
                "p_partkey": pa.array(range(len(pts)), pa.int64()),
                "p_name": pa.array([f"p{i}" for i in range(len(pts))]),
                "p_brand": pa.array(["b"] * len(pts)),
                "p_type": pa.array(["t"] * len(pts)),
                "p_size": pa.array([s for _, s in pts], pa.int32()),
                "p_retailprice": pa.array(
                    [c / 100.0 for c, _ in pts], pa.float64()
                ),
            }
        )
        pq.write_table(tbl, os.path.join(d, "part.parquet"))
        got = sorted(
            (r["p_partkey"], r["p_size"], r["price_cents"])
            for r in part_skyline(spark, d).collect()
        )
    cents = [(i, c, s) for i, (c, s) in enumerate(pts)]
    want = sorted(
        (i, s, c)
        for i, c, s in cents
        if not any(
            qc <= c and qs >= s and (qc < c or qs > s) for _, qc, qs in cents
        )
    )
    assert got == want

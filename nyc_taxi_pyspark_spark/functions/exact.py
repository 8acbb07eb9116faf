"""Deterministic floating-point aggregation.

Problem: ``SUM(double)`` accumulates in partition order, which is
nondeterministic under parallel execution — the same query can return values
differing in the last bits run-to-run, and Spark vs DuckDB (the correctness
oracle) will generally disagree in those bits too.

Solution used throughout the engine's aggregate queries: scale each input to
its EXACT decimal scale, round to int64 ("cents"), sum exactly in integers
(associative and commutative ⇒ order-independent), then scale the exact
total back to double. As long as the per-row value is bit-identical across
engines (it is: same parquet doubles, same IEEE scalar ops), the aggregate
is bit-identical too — across runs, across partitionings, and across
engines. Derived averages divide that exact double by the group count,
which is again deterministic IEEE arithmetic.

Why int64 rather than decimal casts: measured on the sf0.1 flagship
aggregate, decimal(18,s) accumulation costs 3.2× a plain double sum in
whole-stage codegen, while the round-to-bigint form costs 1.26×. And the
double→decimal *cast* is itself a portability hazard: Java rounds HALF_UP on
the double's shortest decimal repr while DuckDB rounds the binary value —
they disagree when a value sits on a rounding boundary at the target scale.
``round(x·10^s)`` avoids both: with s at the quantity's exact scale,
x·10^s is within float error of an integer, so nearest-int rounding agrees
everywhere and there is no boundary to straddle.

Choosing the scale: the quantity's exact rational scale — 2 for 2dp money,
4 for a 2dp×2dp product, 6 for 2dp×2dp×2dp. For quantities with no finite
decimal scale (divisions, sqrt, float products) DO NOT use round — use
floor-based micro-quantization instead (see operators/similarity.py): round
near an arbitrary real's boundary is engine-divergent, floor of the same
double never is.

Overflow headroom: int64 holds ±9.2e18. At scale 6 that is ~9.2e12 in
measure units — fine for per-group sums here; for 100 TB grand totals over
high-scale measures, aggregate per-partition first or drop to the decimal
variant (`dsum_decimal`) which trades 3× codegen cost for 38 digits. Spark
runs ANSI mode by default on 4.x, so an overflow raises rather than wraps.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _cents(col: Column | str, scale: int) -> Column:
    """Exact-decimal quantizer with the engine's dirty-data contract:
    a NON-FINITE measure (NaN/±Inf — one broken sensor in a 100 TB
    telemetry table), or a finite one whose cents exceed int64, quantizes
    to NULL via ``try_cast``, which every aggregate then skips exactly
    like SQL's NULL handling — instead of ANSI mode's CAST_OVERFLOW
    aborting the whole job (the degenerate-row sweep found 25 queries
    dying on a single NaN before this guard). A no-op on in-range finite
    data, so every oracle hash is unchanged. Inline quantizers across the
    catalog follow the same ``try_cast(... as bigint)`` contract."""
    return F.round(_c(col) * F.lit(float(10**scale))).try_cast("bigint")


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent SUM over a double column, returned as double.

    Oracle twin (DuckDB): ``CAST(SUM(CAST(ROUND(x * 1eS) AS BIGINT)) AS
    DOUBLE) / 1eS``.
    """
    return F.sum(_cents(col, scale)).cast("double") / F.lit(float(10**scale))


def davg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent AVG: exact integer sum / count, in double."""
    c = _c(col)
    return dsum(c, scale) / F.count(c)


def dstddev(col: Column | str, scale: int = 4) -> Column:
    """Order-independent sample standard deviation via exact sums of x and
    x² (x² computed in double first — the same IEEE product on every
    engine): sqrt((Σx² − (Σx)²/n) / (n−1)). Pass scale ≥ the exact scale
    of x²."""
    c = _c(col)
    n = F.count(c).cast("double")
    sx = dsum(c, scale)
    sxx = dsum(c * c, scale)
    return F.sqrt((sxx - (sx * sx) / n) / (n - F.lit(1.0)))


_WIDE_SPLIT = 1_000_000_000  # 1e9: per-row cents split into hi/lo int64 sums


def dsum_wide(col: Column | str, scale: int = 4) -> Column:
    """:func:`dsum` for totals past int64 range (squared-moment sums — x²,
    x·y — overflow ~sf0.1 at scale 4). Sign-safe: floor division pairs with
    the always-non-negative pmod (c = floor(c/W)·W + pmod(c,W) holds for
    negative c too), and the oracle twin mirrors both choices.

    A wide decimal/hugeint accumulator alone is NOT portable: the final
    big-integer→double cast rounds differently across engines past 2^63
    (measured 1-ulp divergence, Spark decimal cast vs DuckDB hugeint cast).
    Instead keep TWO exact int64 sums of each row's cents split at 1e9
    (hi = c div 1e9, lo = c mod 1e9; each sum stays < 2^53 into the
    billions of rows) and recombine with a fixed IEEE op sequence —
    ``(double(Σhi)·1e9 + double(Σlo)) / 10^s`` — identical correctly-rounded
    ops on identical exact inputs, hence bit-identical everywhere. Twin:
    :func:`oracle_dsum_wide`."""
    c = _cents(col, scale)
    # c < 2^53 ⇒ floor(c/1e9) is the exact integer quotient (the double
    # division's error is far below the 1e-9 fractional-part granularity).
    hi = F.sum(F.floor(c / F.lit(float(_WIDE_SPLIT))).cast("bigint"))
    lo = F.sum(F.pmod(c, F.lit(_WIDE_SPLIT)))
    return (
        hi.cast("double") * F.lit(float(_WIDE_SPLIT)) + lo.cast("double")
    ) / F.lit(float(10**scale))


def dsum_decimal(col: Column | str, scale: int = 4) -> Column:
    """Decimal-accumulator variant of :func:`dsum` — 3× slower in codegen
    but with decimal(28) headroom; for grand totals beyond int64 range."""
    return F.sum(_c(col).cast(f"decimal(18,{scale})")).cast("double")


def present_round(col: Column | str, digits: int = 2) -> Column:
    """Engine-portable presentation rounding: ``FLOOR(x·10^d + 0.5)/10^d``.

    ``ROUND`` diverges between engines on boundary-adjacent doubles (Java
    HALF_UP on the shortest decimal repr vs DuckDB's binary-value rounding);
    floor of the identical IEEE double has no rounding mode to disagree on.
    """
    s = float(10**digits)
    return F.floor(_c(col) * F.lit(s) + F.lit(0.5)).cast("double") / F.lit(s)


def oracle_present_round(expr: str, digits: int = 2) -> str:
    """DuckDB SQL text twin of :func:`present_round`."""
    s = float(10**digits)
    return f"(CAST(FLOOR(({expr}) * {s} + 0.5) AS DOUBLE) / {s})"


def oracle_dsum_wide(expr: str, scale: int = 4) -> str:
    """DuckDB SQL text twin of :func:`dsum_wide` — same hi/lo split sums,
    same recombination op sequence. The low word uses the pmod idiom
    ``((c % W) + W) % W`` (DuckDB's ``%`` takes the dividend's sign, Spark's
    pmod never does) so the hi·W + lo recombination reconstructs the total
    for negative inputs too, matching the Spark side's floor-div/pmod pair."""
    s = float(10**scale)
    w = float(_WIDE_SPLIT)
    c = f"TRY_CAST(ROUND(({expr}) * {s}) AS BIGINT)"
    hi = f"SUM(CAST(FLOOR({c} / {w}) AS BIGINT))"
    lo = f"SUM((({c} % {_WIDE_SPLIT}) + {_WIDE_SPLIT}) % {_WIDE_SPLIT})"
    return (
        f"((CAST({hi} AS DOUBLE) * {w} + CAST({lo} AS DOUBLE)) / {s})"
    )


def oracle_dsum(expr: str, scale: int = 4) -> str:
    """DuckDB SQL text twin of :func:`dsum` for oracle queries (TRY_CAST
    mirrors the Spark side's non-finite→NULL dirty-data contract)."""
    s = float(10**scale)
    return (
        f"(CAST(SUM(TRY_CAST(ROUND(({expr}) * {s}) AS BIGINT)) AS DOUBLE)"
        f" / {s})"
    )


def oracle_davg(expr: str, scale: int = 4) -> str:
    return f"({oracle_dsum(expr, scale)} / COUNT({expr}))"


def is_finite(col: Column | str) -> Column:
    """TRUE iff the double is a real number — not NULL, not NaN, not ±Inf.

    The symmetric-filter half of the dirty-data contract: rank/ECDF
    statistics (Mann-Whitney, KS) EXCLUDE non-finite measures from both
    engines up front — a rank over NaN is meaningless and the engines
    order/group non-finites differently (Spark sorts NaN greatest and
    groups NaN=NaN; DuckDB floor(NaN) errors, ORDER BY differs) — so the
    only cross-engine-stable contract is symmetric exclusion. Oracle twin:
    :func:`oracle_is_finite`."""
    c = _c(col)
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))


def oracle_is_finite(expr: str) -> str:
    """DuckDB predicate twin of :func:`is_finite` (isfinite(NaN) is FALSE,
    isfinite(NULL) is NULL ⇒ WHERE-false)."""
    return f"({expr} IS NOT NULL AND isfinite({expr}))"


def sdiv(num: Column, den: Column) -> Column:
    """Division that yields NULL on a zero denominator instead of the
    job-aborting DIVIDE_BY_ZERO Spark 4's default ANSI mode raises.

    This is EXACTLY DuckDB's native float-division semantics (x / 0.0 is
    NULL there), so guarding each division — rather than wrapping whole
    statistics in bespoke conditions — keeps Spark and the oracle
    NULL-for-NULL identical on degenerate inputs (single-row variance
    arms, zero weight totals, empty groups) with no oracle edits. The
    whole-catalog degenerate-row sweep (tests/
    test_degenerate_rows_sweep.py) pins the no-crash property."""
    return F.when(den != 0, num / den)

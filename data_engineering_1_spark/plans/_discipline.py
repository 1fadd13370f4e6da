"""Determinism helpers for oracle-checked aggregates.

Floating-point sums are order-dependent; Spark's partial aggregation order
varies with partitioning, so a double SUM can differ from DuckDB's in the
last ulp and break the value-hash. Discipline (SURVEY.md §5):

  * money/quantity columns in the fixtures carry <=2 decimal places — cast
    to DECIMAL(18,2) *before* aggregating; decimal arithmetic is exact and
    order-independent, so Spark and DuckDB sums are bit-identical;
  * averages = CAST(exact decimal sum AS DOUBLE) / COUNT, rounded to 6 —
    identical inputs give identical doubles on both engines;
  * final outputs are cast to DOUBLE on both sides: the exact decimal sum
    converts to the same nearest double in both engines, and DOUBLE avoids
    any Decimal-object-vs-float representation skew in the driver's
    pandas/arrow conversion (observed: duckdb .df() renders DECIMAL as
    float64, Spark toPandas as Decimal objects).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def sum_dec(col: Column | str, scale: int = 2) -> Column:
    """Exact, order-independent sum; quantized to cents, then DOUBLE.

    The DECIMAL(38,2) quantize before the double cast is a SCALE
    guard, found at 10x fixture volume: once a decimal sum's scaled
    integer exceeds 2^53 (a scale-6 money sum does at ~9e9), DuckDB's
    decimal->double conversion rounds twice (int128->double, then
    /10^scale) while Spark's BigDecimal.doubleValue rounds once — a
    1-ulp hash mismatch that only appears at volume. At scale 2 the
    scaled integer stays exact up to ~9e13, and both engines make a
    single correctly-rounded conversion. Cents precision is the money
    contract anyway."""
    return F.sum(dec(col, scale)).cast("decimal(38,2)").cast("double")


def avg6(col: Column | str, scale: int = 2) -> Column:
    """Deterministic mean: exact decimal sum as double / count, round 6."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(dec(c, scale)).cast("double") / F.count(c), 6
    )


# Oracle-side (DuckDB) SQL fragments mirroring the helpers above.
def o_sum_dec(expr: str, scale: int = 2) -> str:
    # ROUND-to-cents before DOUBLE: see sum_dec's scale note. ROUND, not
    # a decimal cast — DuckDB's decimal downscale CAST truncates while
    # Spark's rounds HALF_UP; DuckDB ROUND() is half-away-from-zero,
    # which matches Spark's HALF_UP on both signs.
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,{scale}))), 2)"
        " AS DOUBLE)"
    )


def o_avg6(expr: str, scale: int = 2) -> str:
    return (
        f"CAST(ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT({expr}), 6) AS DOUBLE)"
    )


def r6_exact(c: Column) -> Column:
    """Round-to-6 through an exact integer: round(x*1e6) as BIGINT, then
    one division. Found at 10x fixture volume (r10
    brown_double_smoothing_daily, r11 price_volume_mix): once a value
    reaches ~1e8-1e9, plain ROUND(x, 6) asks for 15-16 significant
    digits — the double's precision edge — and the two engines' double
    ROUND implementations disagree by 1 ulp on tie-adjacent values. The
    integer path is tie-free: x*1e6 is ONE identical IEEE multiply on
    identical input bits, the half-up integer round agrees across
    engines, and the final /1e6 divides the same integer —
    bit-identical at any magnitude < 2^53/1e6 (~9.0e9)."""
    return (
        F.round(c * 1000000, 0).cast("bigint") / F.lit(1000000.0)
    ).cast("double")


def o_r6_exact(expr: str) -> str:
    """DuckDB fragment mirroring r6_exact (DuckDB ROUND(x) is
    half-away-from-zero = Spark HALF_UP on both signs)."""
    return (
        f"CAST(CAST(ROUND(({expr}) * 1000000) AS BIGINT) AS DOUBLE)"
        " / 1000000.0"
    )


def r6_fp(colname: str, fp: int) -> Column:
    """round(s / fp, 6) for an exact INTEGER column s (|s| < 2^63),
    computed entirely in integer space: half-away-from-zero integer
    division by fp/1e6, then one exact double division by 1e6.

    Why not r6_exact on s/fp: once |s| passes 2^53 (~9e15), the
    int->double conversion itself skews — DuckDB's int128->double
    composes two roundings (upper*2^64 + lower) while Spark's
    BigDecimal.doubleValue rounds once, so the two engines hand ROUND
    different input bits (found at the r11 30x probe of
    price_volume_mix: sums ~7.8e17, 1-ulp quotient skew = 2 units in
    the 6th decimal). The integer divide never leaves exact space;
    the quotient q6 = round(s/fp * 1e6) stays exact in a double up to
    2^53, i.e. |s/fp| up to ~9.0e9.

    Takes a column NAME (the exact sum must be aliased in a prior
    agg/select) because integer DIV is expression-level in Spark SQL."""
    d, half = fp // 1_000_000, fp // 2_000_000
    if d * 1_000_000 != fp:
        raise ValueError("fp must be a multiple of 1e6")
    return F.expr(
        f"CAST(CASE WHEN {colname} >= 0"
        f" THEN ({colname} + {half}) DIV {d}"
        f" ELSE -((-{colname} + {half}) DIV {d}) END AS DOUBLE)"
        " / 1000000.0"
    )


def o_r6_fp(expr: str, fp: int) -> str:
    """DuckDB fragment mirroring r6_fp. Operands are made non-negative
    before the integer division so floor-vs-truncate semantics can't
    diverge between the engines."""
    d, half = fp // 1_000_000, fp // 2_000_000
    return (
        f"CAST(CASE WHEN ({expr}) >= 0"
        f" THEN (CAST(({expr}) AS BIGINT) + {half}) // {d}"
        f" ELSE -((CAST(-({expr}) AS BIGINT) + {half}) // {d})"
        f" END AS DOUBLE) / 1000000.0"
    )

"""Exact decimal arithmetic for cross-engine determinism.

Money/measure columns in the testdata sit on a 2-decimal grid, but
float SUM/AVG of them is only approximately decimal — and the two
engines then ROUND DIFFERENTLY at exact half-boundaries: DuckDB rounds
the shortest decimal repr of a double ("104.665" → 104.67) while
Spark's runtime rounds the true binary value (104.66499999999999 →
104.66). Any aggregate whose exact decimal value ends in 5 one digit
past the rounding scale therefore diverges (~1% of product-sums, ~10%
of two-element averages) — observed live at sf0.1.

Fix: aggregate EXACT INTEGERS (cents / 10⁻⁴ / 10⁻⁶ units) and perform
the final rounding with an explicit integer half-up formula both
engines evaluate identically:

    round(num/den, s)  =  floor((2·num·10ˢ + den) / (2·den))  / 10ˢ

The floor runs in BIGINT (`div` in Spark SQL, `//` in DuckDB) for large
positive sums, or in DOUBLE ``floor`` when values fit 2⁵² and may be
negative (integer `div` truncates toward zero ≠ floor for negatives).
Spark-side rounding happens in ``selectExpr`` over named aggregate
columns so the BIGINT `div` operator is usable directly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """Exact integer cents of a 2-decimal-grid double column."""
    return F.round(col * 100).cast("long")


def spark_div_round(num_col: str, den_col: str, out_pow: int = 0) -> str:
    """selectExpr fragment: half-up round of num/den × 10^out_pow —
    BIGINT path (positive numerators)."""
    p = 10**out_pow
    return f"(({num_col}) * {p} * 2 + ({den_col})) div (({den_col}) * 2)"


def sql_div_round(num_sql: str, den_sql: str, out_pow: int = 0) -> str:
    p = 10**out_pow
    return f"(({num_sql}) * {p} * 2 + ({den_sql})) // (({den_sql}) * 2)"


def floor_round(num: Column, den: Column, out_pow: int = 0) -> Column:
    """Half-up round via double floor — numerators within 2^52, sign-safe."""
    p = 10**out_pow
    return F.floor((num * (2 * p) + den) / (den * 2.0))


def sql_floor_round(num_sql: str, den_sql: str, out_pow: int = 0) -> str:
    p = 10**out_pow
    return f"floor((({num_sql}) * {2 * p} + ({den_sql})) / (({den_sql}) * 2.0))"

"""Shared helpers for oracle-hash-matched queries.

Exact-decimal money policy (SURVEY §4.2): parallel double summation is
order-sensitive, so any Spark sum over money doubles would differ from
DuckDB in final ulps. Both engines instead cast to tight DECIMALs,
do exact decimal arithmetic/summation (order-insensitive), and cast
the final value to DOUBLE — bit-identical on both sides. Widths are
kept small so neither engine overflows 38 digits mid-expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tight decimal shapes for the fixture money columns (FIXTURES.md domains).
MONEY = "decimal(12,2)"  # prices, account balances
RATE = "decimal(4,2)"    # discount, tax in [0, 1)
ONE = "decimal(3,2)"     # literal 1.00


def money(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def rate(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(RATE)


def one() -> Column:
    return F.lit(1).cast(ONE)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return money("l_extendedprice") * (one() - rate("l_discount"))


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact decimal."""
    return disc_price() * (one() + rate("l_tax"))


# SQL fragments mirroring the same exact arithmetic for the DuckDB oracle.
SQL_MONEY = "CAST({c} AS DECIMAL(12,2))"
SQL_RATE = "CAST({c} AS DECIMAL(4,2))"
SQL_ONE = "CAST(1 AS DECIMAL(3,2))"
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))"


def dsum(col: Column, alias: str) -> Column:
    """Exact decimal sum presented as DOUBLE (bit-identical cross-engine)."""
    return F.sum(col).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """avg as exact-decimal-sum / count in DOUBLE IEEE division."""
    return (F.sum(col).cast("double") / F.count(F.lit(1))).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) / COUNT(*) AS {alias}"


def nz(col: Column) -> Column:
    """NULL-if-zero denominator guard (ADVICE r11, generalized round
    12): Spark 4 runs ANSI mode, where double division by zero THROWS
    DIVIDE_BY_ZERO while DuckDB quietly returns NULL — so every stats
    denominator that a degenerate input (empty group, n=1, zero
    variance, all-ties) can drive to zero is wrapped in nullif on the
    Spark side and NULLIF(...) in the oracle SQL: both engines emit
    NULL for the out-of-distribution statistic instead of one crashing
    and the other hash-diverging. Passes nonzero values through
    bit-unchanged, so fixture hashes are unaffected."""
    return F.nullif(col, F.lit(0.0))


def pos(col: Column) -> Column:
    """Clamp a variance-like sqrt argument at zero on both engines
    (round-12 probe): when moment sums cross 2^53, the double-space
    n·Σx² − (Σx)² can round to a TINY NEGATIVE even though the exact
    value is ≥ 0 (Cauchy-Schwarz) — and the engines then diverge
    catastrophically: Spark sqrt(-ε) = NaN, DuckDB sqrt(-ε) THROWS
    "Out of Range". greatest(0.0, x) is value-transparent for x ≥ 0,
    maps −ε (and NULL — both engines agree greatest(0.0, NULL) = 0.0,
    which the downstream nz() turns back into NULL) to 0.0, and is
    mirrored as GREATEST(0.0, ...) in the oracle SQL. Keys whose
    variance numerators stay in exact integer/decimal space need no
    clamp — exact arithmetic cannot dip below zero."""
    return F.greatest(F.lit(0.0), col)


def hilo(col: str) -> Column:
    """Wide exact sum → double, rounded the same on both engines
    (round 4): DuckDB's HUGEINT→double cast rounds twice (hi·2^64 + lo
    in doubles) where Spark's BigDecimal.doubleValue() rounds once, so
    a sum that can pass 2^53 is split into exact int64 halves (div/mod
    2^32) and recombined as hi·2^32 + lo in doubles — multiply exact,
    one add rounding, valid to the full 38 digits. The oracle SQL
    spells the same split over HUGEINT, whose `//` is true integer
    division."""
    hi = F.expr(f"CAST({col} div 4294967296 AS BIGINT)").cast("double")
    lo = F.expr(f"CAST({col} % 4294967296 AS BIGINT)").cast("double")
    return hi * F.lit(4294967296.0) + lo

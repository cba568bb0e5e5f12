"""Shared helpers for oracle-hash-matched queries.

Three layers, each written once: the exact-decimal money policy, the
double-space guards (`nz`, `pos`, `hilo`), and the exact-statistics
recipes built on them (two-group moments, χ² contingency cells, the
value-rank spine, window moments) — every key that uses a recipe gets
the same Column tree, hence the same bits as its oracle.

Exact-decimal money policy (SURVEY §4.2): parallel double summation is
order-sensitive, so any Spark sum over money doubles would differ from
DuckDB in final ulps. Both engines instead cast to tight DECIMALs,
do exact decimal arithmetic/summation (order-insensitive), and cast
the final value to DOUBLE — bit-identical on both sides. Widths are
kept small so neither engine overflows 38 digits mid-expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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


# --- exact-statistics recipes -------------------------------------------
# Each helper reads and writes NAMED columns, so a key's statistic stays
# one fixed IEEE expression over them, replayed by its oracle SQL.


def cents_moments(ev: DataFrame) -> DataFrame:
    """(event_type, x, x2) over events: the value in exact cents as
    decimal(9,0) and its square staged through decimal(19,0), so every
    Σx and Σx² below is an exact integer sum."""
    x = (F.col("value").cast("decimal(12,2)") * 100).cast("decimal(9,0)")
    q = ev.select("event_type", x.alias("x"))
    x2 = (F.col("x") * F.col("x")).cast("decimal(19,0)")
    return q.select("event_type", "x", x2.alias("x2"))


def two_group_moments(ev: DataFrame, a: str, b: str) -> DataFrame:
    """One row (na, sa1, sa2, nb, sb1, sb2): count, Σx and Σx² of event
    types `a` and `b` over `cents_moments`, each wide sum crossed to
    double through `hilo`. One 2-group aggregate, then a 1×1 crossJoin
    reshape — the cost is the scan."""
    s = (
        cents_moments(ev.filter(F.col("event_type").isin(a, b)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").alias("r1"),
            F.sum("x2").alias("r2"),
        )
        .select("event_type", "n", hilo("r1").alias("s1"), hilo("r2").alias("s2"))
    )

    def side(group: str, t: str) -> DataFrame:
        return s.filter(F.col("event_type") == group).select(
            F.col("n").alias(f"n{t}"),
            F.col("s1").alias(f"s{t}1"),
            F.col("s2").alias(f"s{t}2"),
        )

    return side(a, "a").crossJoin(side(b, "b"))  # 1 row × 1 row


def welch_se() -> Column:
    """Welch standard error √(var_a/n_a + var_b/n_b) over the
    `two_group_moments` columns, var/n spelled (s2/n − (s1/n)²)/(n−1);
    `pos` clamps a rounded-negative sum, and `nz` makes the denominator
    NULL (both engines) at n=1 or zero variance instead of an ANSI
    throw."""
    na, nb = F.col("na"), F.col("nb")
    sa1, sa2, sb1, sb2 = (F.col(c) for c in ("sa1", "sa2", "sb1", "sb2"))
    return nz(
        F.sqrt(
            pos(
                (sa2 / na - (sa1 / na) * (sa1 / na)) / nz(na - 1)
                + (sb2 / nb - (sb1 / nb) * (sb1 / nb)) / nz(nb - 1)
            )
        )
    )


def contingency_margins(o: DataFrame) -> DataFrame:
    """(a, b, o_ab, r_a, c_b, n) from a cell-count frame (a, b, o_ab):
    row, column and grand totals as windows over the (tiny) cell table,
    so only the cell count ever touches data-sized input."""
    return o.select(
        "a",
        "b",
        "o_ab",
        F.sum("o_ab").over(Window.partitionBy("a")).alias("r_a"),
        F.sum("o_ab").over(Window.partitionBy("b")).alias("c_b"),
        F.sum("o_ab").over(Window.partitionBy()).alias("n"),
    )


def chi2_term_e6() -> Column:
    """One cell's χ² term (o·n − r·c)² / (r·c·n), floored to millionths,
    over the `contingency_margins` columns. Every factor is widened to
    decimal(38,0) before it multiplies, so no product wraps int64 (for
    the 5 × 4 event_type × bucket table r·c·n passes 2^63 near 6·10^6
    events, o·n near 10^10); the exact numerator and denominator each
    round once to double, then one division and a floor make the term
    an integer — the cell SUM is order-insensitive where a raw double
    sum would drift.

    Remaining ceiling: the square stays decimal(38,0), so it needs
    |o·n − r·c| < 10^19. A strongly associated table passes that near
    10^10 events and then throws NUMERIC_VALUE_OUT_OF_RANGE under ANSI
    (never a silently wrong term); r·c·n itself fits up to ~10^13."""
    o_ab, r_a, c_b, n = (
        F.col(c).cast("decimal(38,0)") for c in ("o_ab", "r_a", "c_b", "n")
    )
    num = o_ab * n - r_a * c_b
    return F.floor(
        (num * num).cast("double") / (r_a * c_b * n).cast("double") * 1000000
    ).cast("bigint")


def value_rank_spine(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact tie-averaged ranks without a row-level global window.

    Returns `(vals, ranked)`: `vals` is (x, mv), the count of each
    distinct cents value; `ranked` is (x, event_type, m, mv, below),
    the per-(value, event_type) count joined to the number of values
    strictly below it. A value's doubled average rank is
    2·below + mv + 1, an integer. Only the distinct-value spine (the
    bounded cents domain) passes through the ordered window."""
    x = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    g = (
        ev.select("event_type", x.alias("x"))
        .groupBy("x", "event_type")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    vals = g.groupBy("x").agg(F.sum("m").cast("bigint").alias("mv"))
    w_spine = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    spine = vals.select(
        "x", "mv", (F.sum("mv").over(w_spine) - F.col("mv")).alias("below")
    )
    return vals, g.join(spine, "x")


def returnflag_metric_rows(li: DataFrame) -> DataFrame:
    """(l_returnflag, metric, __v): each lineitem's {qty, tax_cents} map
    exploded to long form — the ClickHouse *Map aggregates' input, with
    exact-integer values so any aggregate over them is order-stable."""
    m = li.select(
        "l_returnflag",
        F.create_map(
            F.lit("qty"),
            F.col("l_quantity").cast("bigint"),
            F.lit("tax_cents"),
            F.round(F.col("l_tax") * 100).cast("bigint"),
        ).alias("__m"),
    )
    return m.select("l_returnflag", F.explode("__m").alias("metric", "__v"))


def supplier_window_moments(li: DataFrame, rows: int) -> DataFrame:
    """(l_suppkey, l_orderkey, l_linenumber, n, sx, sy, sxx, syy, sxy):
    exact int64 moments of lineitem's x = quantity and y = price in
    cents over a trailing `rows`-row frame per supplier. The frame order ends in
    (x, y), so the one duplicate (suppkey, shipdate, orderkey,
    linenumber) tuple at sf0.1 cannot order differently on the two
    engines; fully tied rows are frame-equivalent. One l_suppkey
    exchange, one sort, one WindowExec."""
    t = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.col("l_quantity").cast("bigint").alias("x"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    fr = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "x", "y")
        .rowsBetween(-(rows - 1), 0)
    )
    return t.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(fr).cast("bigint").alias("n"),
        F.sum("x").over(fr).cast("bigint").alias("sx"),
        F.sum("y").over(fr).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(fr).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(fr).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(fr).cast("bigint").alias("sxy"),
    )


def nation_daily_revenue(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """(nation, day, rev_cents): order revenue in exact cents per
    customer nation and order date. Fact→dim equi-joins (nation
    broadcast), then ONE hash aggregate to ~25·|days| rows — any window
    over the result never sees fact-table cardinality."""
    o = orders.select(
        "o_custkey",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    c = customer.select("c_custkey", "c_nationkey")
    n = nation.select("n_nationkey", "n_name")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )

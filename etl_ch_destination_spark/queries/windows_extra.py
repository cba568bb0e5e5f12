"""SURVEY §2.5 extension — positional window value functions
(`nth_value`, `first_value`/`last_value` with IGNORE NULLS), the CH
`nth_value` / `first_value`/`last_value` (RESPECT|IGNORE NULLS)
surface not yet covered by win_first_last / win_ranking.

Determinism: frame is ROWS-bounded over a total order
(o_orderdate, o_orderkey) so every positional lookup is unique;
the NULL-injection is keyed (o_orderkey % 5) so both engines null the
same rows.

Scale notes: one shuffle on o_custkey, streaming frame evaluation —
the standard partitioned-window cost envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_ch_destination_spark.catalog import load_table
from etl_ch_destination_spark.queries._util import (
    nation_daily_revenue,
    nz,
    supplier_window_moments,
)
from etl_ch_destination_spark.registry import query


@query(
    "win_nth_value",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           first_value(CASE WHEN o_orderkey % 5 = 0 THEN NULL
                            ELSE o_totalprice END IGNORE NULLS) OVER w AS first_nn,
           last_value(CASE WHEN o_orderkey % 5 = 0 THEN NULL
                           ELSE o_totalprice END IGNORE NULLS) OVER w AS last_nn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value + IGNORE NULLS first/last over each customer's order
    history in date order: "the customer's 2nd-ever order value as of
    each row" and "the latest non-null value so far" (the gap-filling
    idiom behind CH's `last_value RESPECT/IGNORE NULLS` and Spark's
    `F.last(ignorenulls=True)`)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nullable = F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.first(nullable, ignorenulls=True).over(w).alias("first_nn"),
        F.last(nullable, ignorenulls=True).over(w).alias("last_nn"),
    )


EXCL_HALF = 3  # +-3-row neighborhood


@query(
    "win_frame_exclude_current",
    f"""
    WITH q AS (
        SELECT user_id, event_id, ts,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    w AS (
        SELECT user_id, event_id, cents,
               SUM(cents) OVER fr AS frame_sum,
               COUNT(*) OVER fr AS frame_n
        FROM q
        WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN {EXCL_HALF} PRECEDING
                      AND {EXCL_HALF} FOLLOWING)
    )
    SELECT user_id, event_id,
           CAST(frame_sum - cents AS BIGINT) AS neighbor_sum,
           CAST(frame_n - 1 AS BIGINT) AS n_neighbors,
           CASE WHEN frame_n > 1
                THEN CAST(frame_sum - cents AS DOUBLE) / (frame_n - 1)
           END AS neighbor_avg
    FROM w
    """,
)
def win_frame_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 frame exclusion (`EXCLUDE CURRENT ROW`) — the
    leave-one-out neighborhood aggregate behind peer-comparison
    anomaly scores. Neither engine implements the EXCLUDE clause, so
    both build it the portable way: aggregate the FULL ±3-row frame,
    then subtract the current row (sum) / decrement (count) — exact
    int64 arithmetic, identical everywhere; a row with no neighbors
    yields NULL avg on both sides.

    One shuffle on user_id, single window pass, O(1) per-row state."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    q = ev.select("user_id", "event_id", "ts", cents.alias("cents"))
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-EXCL_HALF, EXCL_HALF)
    )
    w = q.select(
        "user_id",
        "event_id",
        "cents",
        F.sum("cents").over(fr).alias("frame_sum"),
        F.count(F.lit(1)).over(fr).alias("frame_n"),
    )
    return w.select(
        "user_id",
        "event_id",
        (F.col("frame_sum") - F.col("cents")).cast("bigint").alias("neighbor_sum"),
        (F.col("frame_n") - 1).cast("bigint").alias("n_neighbors"),
        F.when(
            F.col("frame_n") > 1,
            (F.col("frame_sum") - F.col("cents")).cast("double")
            / (F.col("frame_n") - 1),
        ).alias("neighbor_avg"),
    )


NTILE_K = 8


@query(
    "win_ntile",
    f"""
    WITH t AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             NTILE({NTILE_K}) OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT), l_orderkey, l_linenumber
             ) AS bucket
      FROM lineitem
    )
    SELECT l_returnflag, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents
    FROM t GROUP BY l_returnflag, bucket
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE({NTILE_K}) equi-height bucketing (CH `ntile`) over a fully
    deterministic order — integer cents with the (l_orderkey,
    l_linenumber) unique tiebreaker, so both engines assign identical
    buckets (the SQL-standard remainder rule: the first n mod k
    buckets get one extra row). Buckets are summarized per
    (returnflag, bucket) so the gate compares boundary placement and
    content, not 600k raw rows.

    Plan/scale: NTILE needs each partition's total row count, so the
    window funnels each l_returnflag partition through one task — the
    operator's inherent cost on ANY engine (CH sorts the partition
    too). For equi-height buckets at 100 TB use the bounded value
    spine instead (`agg_quantile_state`'s cumulative-histogram device
    computes the same boundaries with one small-spine window); this
    key is the exact NTILE semantics, documented as the
    partition-bound form."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint")
    t = li.select(
        "l_returnflag", cents.alias("cents"), "l_orderkey", "l_linenumber"
    ).withColumn(
        "bucket",
        F.ntile(NTILE_K).over(
            Window.partitionBy("l_returnflag").orderBy(
                "cents", "l_orderkey", "l_linenumber"
            )
        ),
    )
    return t.groupBy("l_returnflag", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


@query(
    "win_ignore_nulls",
    """
    WITH s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_id % 3 = 0 THEN NULL
                  ELSE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END
               AS cents
      FROM events
    )
    SELECT user_id, event_id, cents,
           last_value(cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_cents,
           last_value(cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_nonnull_cents,
           first_value(cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS first_nonnull_cents
    FROM s
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics (SQL:2008; CH `lagInFrame` /
    `anyLast` gap-filling idioms) over a sparse measure: forward-fill
    (last non-null up to the current row), previous non-null
    (frame ending 1 PRECEDING — the NULL-skipping lag), and the
    partition's first non-null. One synthetic NULL gap per three
    events makes every code path real at every SF.

    Plan/scale: one shuffle on user_id, three frames over the same
    sort — Spark evaluates them in a single WindowExec pass; O(1)
    running state per frame (ignoreNulls last/first are streaming
    aggregates, not re-scans)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.when(
        F.col("event_id") % 3 != 0,
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
    )
    s = ev.select("user_id", "event_id", "ts", cents.alias("cents"))
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    upto_now = order.rowsBetween(Window.unboundedPreceding, 0)
    upto_prev = order.rowsBetween(Window.unboundedPreceding, -1)
    whole = order.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return s.select(
        "user_id",
        "event_id",
        "cents",
        F.last("cents", ignorenulls=True).over(upto_now).alias("ffill_cents"),
        F.last("cents", ignorenulls=True)
        .over(upto_prev)
        .alias("prev_nonnull_cents"),
        F.first("cents", ignorenulls=True)
        .over(whole)
        .alias("first_nonnull_cents"),
    )


REG_WINDOW_ROWS = 20


@query(
    "win_moving_regression",
    f"""
    WITH t AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    w AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n,
             CAST(SUM(x) OVER fr AS BIGINT) AS sx,
             CAST(SUM(y) OVER fr AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,
             CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy
      FROM t
      WINDOW fr AS (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y
                    ROWS BETWEEN {REG_WINDOW_ROWS - 1} PRECEDING
                             AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber, n AS n_window,
           CASE WHEN (n * sxx - sx * sx) > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS slope_cents_per_unit,
           CASE WHEN (n * sxx - sx * sx) > 0
                THEN (CAST(sy AS DOUBLE)
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE)
           END AS intercept_cents
    FROM w
    """,
)
def win_moving_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ordinary-least-squares fit over a trailing
    {REG_WINDOW_ROWS}-row window per supplier — the WINDOWED
    counterpart of `agg_linreg` (ClickHouse simpleLinearRegression as
    a moving trend detector: slope of price-in-cents vs quantity).
    Hash-exact by `_util.supplier_window_moments` (shared with
    ts_rolling_corr): both series lifted to
    int64 (quantity integral, price in exact cents), the four moments
    as exact window sums, then slope = cov/var in ONE division and
    intercept assembled from (sy, slope, sx, n) in a fixed IEEE
    order replayed identically by the oracle. Zero-variance windows
    are NULL in both engines; the frame order carries (x, y) as
    final tiebreakers so the one duplicate (suppkey, shipdate,
    orderkey, linenumber) tuple at sf0.1 cannot shift frames
    (r7 three-SF sweep finding — see ts_rolling_corr). Plan: one l_suppkey exchange + one sort;
    all moments from a single WindowExec, regression is a scalar
    projection."""
    w = supplier_window_moments(
        load_table(spark, sf_dir, "lineitem"), REG_WINDOW_ROWS
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    varx = n * F.col("sxx") - sx * sx
    cov = n * F.col("sxy") - sx * sy
    slope = cov.cast("double") / varx.cast("double")
    intercept = (
        sy.cast("double") - slope * sx.cast("double")
    ) / n.cast("double")
    return w.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        n.alias("n_window"),
        F.when(varx > 0, slope).alias("slope_cents_per_unit"),
        F.when(varx > 0, intercept).alias("intercept_cents"),
    )


TIME_RANGE_S = 3600  # trailing 1-hour range frame


@query(
    "win_time_range_sum",
    f"""
    WITH t AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value * 1000000) AS BIGINT) AS v
      FROM events
    )
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER fr AS BIGINT) AS n_1h,
           CAST(SUM(v) OVER fr AS BIGINT) AS sum_micros_1h,
           CAST(MAX(v) OVER fr AS BIGINT) AS max_micros_1h
    FROM t
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL {TIME_RANGE_S} SECOND PRECEDING
                            AND CURRENT ROW)
    """,
)
def win_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame (SQL RANGE BETWEEN INTERVAL ... 
    PRECEDING): per user, the trailing-1-hour event count / sum / max
    by TIMESTAMP VALUE, not row position — the rolling-rate shape
    behind rate limiting and load monitoring, and the frame kind
    `win_sliding_range` (numeric range) doesn't cover. Deterministic
    WITHOUT a tiebreak column: a RANGE frame includes all ts-peers
    together, so tied rows see identical frames regardless of their
    relative order — range frames are total by construction. Values
    quantize to integer micros (the agg_delta_sum policy) so the
    window sums are exact int64.

    Plan: one user_id exchange + one sort; Spark evaluates the range
    frame with a sliding two-pointer over the sorted partition —
    O(rows) per partition, constant state."""
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_id", "user_id", "ts",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("v"),
        F.unix_micros("ts").alias("ts_us"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-TIME_RANGE_S * 1_000_000, 0)
    )
    return t.select(
        "event_id", "user_id", "ts",
        F.count(F.lit(1)).over(fr).cast("bigint").alias("n_1h"),
        F.sum("v").over(fr).cast("bigint").alias("sum_micros_1h"),
        F.max("v").over(fr).cast("bigint").alias("max_micros_1h"),
    )


@query(
    "filter_qualify",
    """
    SELECT event_id, user_id,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                OVER (PARTITION BY user_id) AS BIGINT) AS total_cents
    FROM events
    QUALIFY cents * n_user > total_cents
    """,
)
def filter_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY — filtering on a window AGGREGATE (not a rank): keep
    each user's events strictly above that user's own average value.
    The oracle uses DuckDB's native QUALIFY clause; Spark has no
    QUALIFY keyword, so the same plan is window-then-filter — which is
    precisely what QUALIFY desugars to in every engine that has it.
    Distinct from limit_by/dedup_by_key_latest (those filter on
    row_number ranks); here the predicate references two window
    aggregates at once.

    The above-average comparison is the integer cross-multiplication
    cents·n > total — no division, no float, so the kept row set is
    bit-deterministic. One exchange on user_id; both window aggregates
    share the frame, so Catalyst evaluates them in a single Window
    operator."""
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id")
    q = e.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_user"),
        F.sum(cents).over(w).cast("bigint").alias("total_cents"),
    )
    return q.filter(F.col("cents") * F.col("n_user") > F.col("total_cents"))


@query(
    "win_percent_of_total",
    """
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT nation, region, rev_cents,
           CAST(rev_cents AS DOUBLE)
             / NULLIF(CAST(SUM(rev_cents) OVER () AS DOUBLE), 0)
             AS pct_of_total,
           CAST(rev_cents AS DOUBLE)
             / NULLIF(CAST(SUM(rev_cents) OVER (PARTITION BY region)
                           AS DOUBLE), 0)
             AS pct_of_region,
           CAST(ROW_NUMBER() OVER (ORDER BY rev_cents DESC, nation)
                AS BIGINT) AS rk
    FROM rev
    """,
)
def win_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total and percent-of-parent — every BI tool's share
    metrics — as windows over an ALREADY-AGGREGATED frame. The global
    window (`OVER ()`) is the textbook single-partition bottleneck on
    raw data; the scale discipline this key demonstrates is to reduce
    FIRST (orders → 25 nation rows via a partial-aggregable hash agg;
    dims broadcast) so the unpartitioned window touches a
    dimension-sized frame no matter how large the fact table grows.
    Shares are single IEEE divisions of exact cent sums."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    rev = (
        o.select("o_custkey", cents.alias("cents"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w_all = Window.partitionBy()
    w_reg = Window.partitionBy("region")
    w_rk = Window.orderBy(F.desc("rev_cents"), "nation")
    return rev.select(
        "nation",
        "region",
        "rev_cents",
        (
            F.col("rev_cents").cast("double")
            # nz: NULL on both engines at zero total — see _util.nz
            / nz(F.sum("rev_cents").over(w_all).cast("double"))
        ).alias("pct_of_total"),
        (
            F.col("rev_cents").cast("double")
            / nz(F.sum("rev_cents").over(w_reg).cast("double"))
        ).alias("pct_of_region"),
        F.row_number().over(w_rk).cast("bigint").alias("rk"),
    )


STREAK_EPOCH = "1995-01-01"  # day-index origin for the islands trick


@query(
    "win_streaks",
    f"""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events
    ),
    idx AS (
      SELECT user_id, day,
             datediff('day', DATE '{STREAK_EPOCH}', day) AS day_idx,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM days
    )
    SELECT user_id,
           MIN(day) AS streak_start,
           MAX(day) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM (SELECT user_id, day, day_idx - rn AS grp FROM idx)
    GROUP BY user_id, grp
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — consecutive-day activity streaks per user,
    via the classic islands trick: within a user, day_index −
    row_number is CONSTANT exactly along a run of consecutive days, so
    grouping by that difference yields one row per streak with no
    self-join and no iteration (the engagement-streak metric every
    activity dashboard wants). Distinct from win_sessionize: that
    segments by timestamp gaps inside a day; this is calendar-day run
    detection on the deduped (user, day) frame.

    Plan: one distinct on (user, day), one user-partitioned window,
    one hash aggregate — all sharing the user_id exchange."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    idx = days.select(
        "user_id",
        "day",
        F.datediff("day", F.lit(STREAK_EPOCH).cast("date")).alias("day_idx"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        idx.select("user_id", "day", (F.col("day_idx") - F.col("rn")).alias("grp"))
        .groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        )
        .drop("grp")
    )


IVAL_LEN_MIN = 60   # synthetic interval lengths (shared derivation
IVAL_LEN_MOD = 600  # with agg_interval_length_sum): 60..659 s


@query(
    "win_merge_intervals",
    f"""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + {IVAL_LEN_MIN}
               + event_id % {IVAL_LEN_MOD} AS e,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (PARTITION BY user_id
                                        ORDER BY s, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  OR MAX(e) OVER (PARTITION BY user_id
                                  ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS span_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM islands
    GROUP BY user_id, island
    """,
)
def win_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals into their union spans — the
    row-emitting companion of agg_interval_length_sum (which reports
    only the total union length): each user's [start, end) intervals
    collapse into maximal contiguous spans (span id, bounds, member
    count). The classic sweep: an interval OPENS a new span iff its
    start exceeds the running max end of all earlier intervals; the
    running flag's prefix sum is the span id. Two window passes over
    ONE user_id exchange (same partitioning, Catalyst chains them),
    then a hash aggregate — all int64-exact seconds.

    At 100 TB: per-user streaming frames, no interval self-join (the
    naive overlap join is quadratic per user)."""
    e = load_table(spark, sf_dir, "events")
    s = F.expr("unix_micros(ts) div 1000000")
    iv = e.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + IVAL_LEN_MIN + F.col("event_id") % IVAL_LEN_MOD).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_max = F.max("e").over(w_prev)
    marked = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(run_max.isNull() | (F.col("s") > run_max), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.select(
        "user_id", "s", "e", F.sum("is_new").over(w_run).alias("island")
    )
    return islands.groupBy(
        "user_id", F.col("island").cast("bigint").alias("span_id")
    ).agg(
        F.min("s").cast("bigint").alias("span_start"),
        F.max("e").cast("bigint").alias("span_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    )


RESET_GAP_S = 1800  # session gap that resets the running sum


@query(
    "win_reset_cumsum",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN epoch_us(ts) // 1000000
                       - lag(epoch_us(ts) // 1000000)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {RESET_GAP_S}
                  OR lag(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, event_id, cents,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM seq
    )
    SELECT user_id, event_id, CAST(sess_id AS BIGINT) AS sess_id,
           CAST(SUM(cents) OVER (PARTITION BY user_id, sess_id
                                 ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_running_cents
    FROM sess
    """,
)
def win_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional running sum with RESETS — per-event cumulative
    spend since the start of the current session (a >{RESET_GAP_S}-s
    gap resets the accumulator): the canonical "cumsum that restarts"
    pattern, which plain window cumsum cannot express without first
    DERIVING the reset boundaries. Three chained windows over one
    user_id exchange — gap flags (lag), session ids (prefix sum of
    flags — win_sessionize's trick), then the running sum partitioned
    by (user, session) — all ordered by the SAME full-precision
    (ts, event_id) key, so sub-second events sequence identically in
    the flag and prefix-sum passes (ADVICE r8). Gap measured in whole
    seconds; cents int64-exact."""
    e = load_table(spark, sf_dir, "events")
    tsec = F.expr("unix_micros(ts) div 1000000")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        tsec.alias("tsec"),
        cents.alias("cents"),
        F.lag(tsec).over(w).alias("prev_t"),
    )
    is_new = F.when(
        F.col("prev_t").isNull() | (F.col("tsec") - F.col("prev_t") > RESET_GAP_S),
        1,
    ).otherwise(0)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = seq.select(
        "user_id",
        "event_id",
        "cents",
        F.sum(is_new).over(w_run).cast("bigint").alias("sess_id"),
    )
    w_sess = (
        Window.partitionBy("user_id", "sess_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sess.select(
        "user_id",
        "event_id",
        "sess_id",
        F.sum("cents").over(w_sess).cast("bigint").alias(
            "session_running_cents"
        ),
    )


@query(
    "win_skyline_2d",
    """
    WITH pts AS (
      SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    swept AS (
      SELECT p_partkey, price_cents, size,
             MAX(size) OVER (ORDER BY price_cents, size DESC, p_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS best_prev
      FROM pts
    )
    SELECT p_partkey, price_cents, size
    FROM swept
    WHERE best_prev IS NULL OR size > best_prev
    """,
)
def win_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) — parts not dominated on
    (minimize price, maximize size): the multi-criteria shortlist
    operator (Börzsönyi et al., ICDE 2001 — public literature). The
    classic O(n log n) sweep as ONE window: order by (price asc, size
    desc, partkey), keep a row iff its size beats the running max of
    everything cheaper-or-equal seen before it. Equal (price, size)
    duplicates collapse to the lowest partkey — the pinned
    deterministic convention (a frontier with unordered ties cannot
    hash-match). A nested-loop dominance join would be O(n²); the
    sweep is sort + streaming frame.

    Plan: one global sort exchange (range partitioning) feeding a
    streaming unbounded-preceding MAX — at 100 TB the sort is the
    same shape as any ORDER BY, and the frontier filter is map-side
    after it."""
    p = load_table(spark, sf_dir, "part")
    price = (F.col("p_retailprice").cast("decimal(12,2)") * 100).cast("bigint")
    pts = p.select(
        "p_partkey",
        price.alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w = (
        Window.orderBy("price_cents", F.desc("size"), "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = pts.select(
        "p_partkey", "price_cents", "size", F.max("size").over(w).alias("best_prev")
    )
    return swept.filter(
        F.col("best_prev").isNull() | (F.col("size") > F.col("best_prev"))
    ).select("p_partkey", "price_cents", "size")


BOLL_WIN = 20  # Bollinger lookback (rows); bands at mean ± 2σ


@query(
    "win_bollinger_bands",
    f"""
    WITH v AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    fr AS (
      SELECT user_id, event_id, cents,
             SUM(cents) OVER w AS s,
             SUM(cents * cents) OVER w AS ss,
             CAST(COUNT(*) OVER w AS BIGINT) AS n
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
                   ROWS BETWEEN {BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, cents, n,
           CAST(s AS DOUBLE) / n AS mid,
           CAST(s AS DOUBLE) / n
             + 2.0 * (sqrt(CAST(n * ss - s * s AS DOUBLE)) / n) AS upper_band,
           CAST(s AS DOUBLE) / n
             - 2.0 * (sqrt(CAST(n * ss - s * s AS DOUBLE)) / n) AS lower_band,
           CASE WHEN n = {BOLL_WIN}
                 AND CAST(cents AS DOUBLE) * n > CAST(s AS DOUBLE)
                       + 2.0 * sqrt(CAST(n * ss - s * s AS DOUBLE))
                THEN 1
                WHEN n = {BOLL_WIN}
                 AND CAST(cents AS DOUBLE) * n < CAST(s AS DOUBLE)
                       - 2.0 * sqrt(CAST(n * ss - s * s AS DOUBLE))
                THEN -1 ELSE 0 END AS breakout
    FROM fr
    """,
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands — rolling mean ± 2σ over a {BOLL_WIN}-row frame
    per user, plus a breakout flag when the current value pierces a
    band (Bollinger's volatility envelope; the moving-σ channel every
    monitoring/trading stack draws). All frame sums are INT64-exact
    (cents and cents²), so mean = s/n and σ = sqrt(n·ss − s²)/n are
    single deterministic IEEE expressions of exact integers — a
    float-accumulated rolling variance would drift between engines
    (DuckDB evaluates window aggregates with segment trees, Spark
    streams the frame; only integer state is association-proof). The
    breakout test cross-multiplies by n before comparing so no
    division enters the decision.

    Plan: one user_id exchange, streaming ROWS frame (bounded state:
    two int64 accumulators), map-side everything else — the same cost
    envelope as any partitioned rolling window at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    v = e.select(
        "user_id", "event_id", F.col("ts").alias("tus_src"),
        cents.alias("cents"),
    ).withColumn("tus", F.expr("unix_micros(tus_src)")).drop("tus_src")
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(-(BOLL_WIN - 1), Window.currentRow)
    )
    fr = v.select(
        "user_id",
        "event_id",
        "cents",
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
    )
    sd, nd = F.col("s").cast("double"), F.col("n")
    sig = F.sqrt((F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double"))
    cd = F.col("cents").cast("double")
    return fr.select(
        "user_id",
        "event_id",
        "cents",
        "n",
        (sd / nd).alias("mid"),
        (sd / nd + F.lit(2.0) * (sig / nd)).alias("upper_band"),
        (sd / nd - F.lit(2.0) * (sig / nd)).alias("lower_band"),
        F.when(
            (F.col("n") == BOLL_WIN) & (cd * nd > sd + F.lit(2.0) * sig), 1
        )
        .when(
            (F.col("n") == BOLL_WIN) & (cd * nd < sd - F.lit(2.0) * sig), -1
        )
        .otherwise(0)
        .alias("breakout"),
    )


@query(
    "win_minmax_scaler",
    """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    st AS (
      SELECT event_type,
             MIN(cents) AS mn, MAX(cents) AS mx,
             SUM(cents) AS s, SUM(cents * cents) AS ss,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY event_type
    )
    SELECT v.event_id, v.event_type, v.cents,
           CASE WHEN st.mx > st.mn
                THEN CAST(v.cents - st.mn AS DOUBLE) / (st.mx - st.mn)
                ELSE 0.0 END AS minmax,
           CASE WHEN st.n * st.ss > st.s * st.s
                THEN (CAST(v.cents AS DOUBLE) * st.n - CAST(st.s AS DOUBLE))
                     / sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE))
                ELSE 0.0 END AS zscore_sn
    FROM v JOIN st ON st.event_type = v.event_type
    """,
)
def win_minmax_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling — min-max normalization and a z-score
    per event value within its event_type: the standard ML
    preprocessing pair (scikit-learn's MinMaxScaler/StandardScaler
    semantics) as pure relational ops. The z-score is computed in the
    cross-multiplied form (x·n − s)/sqrt(n·ss − s²), which is
    ALGEBRAICALLY IDENTICAL to (x−μ)/σ_pop (numerator = n·(x−μ),
    denominator = n·σ_pop) but never divides by n early, so every
    float comes from ONE expression over exact int64 sums. Constant
    groups scale to 0 by convention.

    Plan: a grouped stats agg (map-side partials, |event_type| rows)
    broadcast-joined back onto the stream — deliberately NOT a window
    (an unbounded frame would sort the whole table; the agg+broadcast
    join computes the same result with one cheap exchange and no
    sort), the right shape at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    v = e.select("event_id", "event_type", cents.alias("cents"))
    st = v.groupBy("event_type").agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    j = v.join(F.broadcast(st), "event_type")
    var_num = (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    return j.select(
        "event_id",
        "event_type",
        "cents",
        F.when(
            F.col("mx") > F.col("mn"),
            (F.col("cents") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn")),
        )
        .otherwise(0.0)
        .alias("minmax"),
        F.when(
            var_num > 0,
            (
                F.col("cents").cast("double") * F.col("n")
                - F.col("s").cast("double")
            )
            / F.sqrt(var_num.cast("double")),
        )
        .otherwise(0.0)
        .alias("zscore_sn"),
    )


@query(
    "win_cumulative_distinct",
    """
    WITH seen AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
    FROM seen
    """,
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) — "how many distinct event types has
    this user touched as of each event": the cumulative-cardinality
    window no SQL engine offers directly (DISTINCT is not allowed in
    a running frame). The standard decomposition: flag each value's
    FIRST occurrence per (user, value) with row_number, then
    prefix-sum the flags over the user's full-precision (ts, event_id)
    order — the same-order discipline win_reset_cumsum pins.

    Plan: two windows over ONE user_id exchange (the (user, type)
    partition is a subpartition of user, so Catalyst plans both passes
    after a single hash exchange plus sorts) — O(1) per-row state, no
    distinct-set materialization anywhere; at 100 TB this is the only
    shape that survives (a per-row HashSet accumulator would hold the
    full per-user cardinality in state)."""
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seen = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seen.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).cast("bigint").alias(
            "distinct_types_so_far"
        ),
    )


WMA_K = 8  # linear-weight lookback: weights 1..K, newest heaviest


@query(
    "win_weighted_moving_avg",
    f"""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    c AS (
      SELECT user_id, event_id, cents, rn,
             SUM(cents) OVER w AS cs,
             SUM(CAST(rn AS BIGINT) * cents) OVER w AS ws
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS UNBOUNDED PRECEDING)
    ),
    l AS (
      SELECT user_id, event_id, cents, rn, cs, ws,
             COALESCE(LAG(cs, {WMA_K}) OVER
               (PARTITION BY user_id ORDER BY rn), 0) AS cs_k,
             COALESCE(LAG(ws, {WMA_K}) OVER
               (PARTITION BY user_id ORDER BY rn), 0) AS ws_k
      FROM c
    )
    SELECT user_id, event_id, cents,
           CAST(LEAST(rn, {WMA_K}) AS BIGINT) AS m,
           CAST((ws - ws_k)
                - (rn - LEAST(rn, {WMA_K})) * (cs - cs_k) AS BIGINT)
             AS wma_num,
           CAST((ws - ws_k)
                - (rn - LEAST(rn, {WMA_K})) * (cs - cs_k) AS DOUBLE)
             / (CAST(LEAST(rn, {WMA_K}) AS DOUBLE)
                * (LEAST(rn, {WMA_K}) + 1) / 2.0) AS wma
    FROM l
    """,
)
def win_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average (the technical-analysis WMA:
    weights 1..{WMA_K}, newest heaviest) — computed WITHOUT a
    per-row weighted re-scan via the two-cumulative-sum identity:
    with C = Σx and W = Σ rn·x (both plain prefix sums),
    Σ_(last m rows) (i − base)·x_i = (W_t − W_(t−m)) − base·(C_t −
    C_(t−m)), base = rn − m — so an O(K)-per-row frame becomes O(1)
    per row in exact int64 (the numerator column is emitted for the
    gate; the float is one division by the triangular number
    m·(m+1)/2). Short prefixes weight 1..rn, the standard ramp-in.

    Plan: one user_id exchange, three window passes over the same
    sort (two prefix sums + one lag) — constant state per row; the
    naive form re-reads K rows per row, this reads each row once at
    any K."""
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    w0 = Window.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    v = e.select(
        "user_id",
        "event_id",
        cents.alias("cents"),
        F.row_number().over(w0).alias("rn"),
    )
    return wma_over(v)


def wma_over(v: DataFrame) -> DataFrame:
    """The two-cumsum WMA core over a (user_id, event_id, cents, rn)
    frame — factored out so the hypothesis property test
    (tests/test_property.py) can drive the SAME window expressions the
    registered query plans, not a python re-derivation (ADVICE r9)."""
    wf = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.select(
        "user_id",
        "event_id",
        "cents",
        "rn",
        F.sum("cents").over(wf).alias("cs"),
        F.sum(F.col("rn").cast("bigint") * F.col("cents")).over(wf).alias("ws"),
    )
    w_rn = Window.partitionBy("user_id").orderBy("rn")
    m = F.least(F.col("rn"), F.lit(WMA_K))
    lag_cs = F.coalesce(F.lag("cs", WMA_K).over(w_rn), F.lit(0))
    lag_ws = F.coalesce(F.lag("ws", WMA_K).over(w_rn), F.lit(0))
    num = (F.col("ws") - lag_ws) - (F.col("rn") - m) * (F.col("cs") - lag_cs)
    tri = m.cast("double") * (m + 1) / F.lit(2.0)
    return c.select(
        "user_id",
        "event_id",
        "cents",
        m.cast("bigint").alias("m"),
        num.cast("bigint").alias("wma_num"),
        (num.cast("double") / tri).alias("wma"),
    )


@query(
    "win_drawdown",
    """
    WITH daily AS (
      SELECT n_name AS nation, o_orderdate AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    wd AS (
      SELECT nation, day, rev_cents,
             MAX(rev_cents) OVER (PARTITION BY nation ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS peak_cents
      FROM daily
    )
    SELECT nation, day, rev_cents, peak_cents,
           CAST(CAST(peak_cents - rev_cents AS HUGEINT) * 10000
                // NULLIF(peak_cents, 0) AS BIGINT) AS drawdown_bp
    FROM wd
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of each nation's daily revenue series —
    the monitoring/finance shape (how far below its historical daily
    peak is today's revenue, in basis points): peak = running MAX over
    the date order, drawdown_bp = (peak − rev)·10⁴ ÷ peak. Entirely
    integer (cents; the ·10⁴ product widened through decimal(38,0)/
    HUGEINT so a 100 TB-scale daily total cannot wrap int64 before the
    divide; truncating integer division on both engines) — hash-exact
    with no float policy needed. peak ≥ rev > 0 on TPC-H, but the
    denominator is still NULLIF-guarded on BOTH engines (an all-zero
    revenue day would otherwise throw DIVIDE_BY_ZERO under ANSI Spark
    while DuckDB's `//` returns NULL — the engine-divergence class the
    repo-wide nz()/NULLIF convention exists to eliminate).

    Plan (`_util.nation_daily_revenue`): fact→dim equi-joins (nation
    broadcast; customer a keyed shuffle AQE sizes), ONE hash aggregate
    to nation×day grain — ~25·|days| rows regardless of fact size —
    then a running-max
    window over those tiny partitions: the window never sees fact-
    table cardinality, which is what makes the shape safe at scale."""
    daily = nation_daily_revenue(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wd = daily.withColumn("peak_cents", F.max("rev_cents").over(w))
    bp = F.expr(
        "CAST((CAST(peak_cents - rev_cents AS DECIMAL(38,0)) * 10000)"
        " div NULLIF(peak_cents, 0) AS BIGINT)"
    )
    return wd.select(
        "nation", "day", "rev_cents", "peak_cents", bp.alias("drawdown_bp")
    )

"""SURVEY §2.4 extension — additional ClickHouse aggregate-function
signatures (round 4): ``uniqUpTo``, ``topKWeighted``, ``deltaSum``.

Each key mirrors the ClickHouse function's exact semantics in
DataFrame form with a full DuckDB hash oracle; determinism notes per
key (the deltaSum series is quantized to integer micros because a
parallel SUM over raw doubles is order-sensitive — SURVEY §4.2).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_ch_destination_spark.catalog import load_table
from etl_ch_destination_spark.queries._util import (
    cents_moments,
    chi2_term_e6,
    contingency_margins,
    hilo,
    nz,
    pos,
    returnflag_metric_rows,
    two_group_moments,
    value_rank_spine,
    welch_se,
)
from etl_ch_destination_spark.registry import query

UNIQ_UPTO_N = 50   # uniqUpTo cap: exact below, N+1 sentinel above
TOPK_W = 3         # topKWeighted k


@query(
    "agg_uniq_upto",
    f"""
    SELECT event_type,
           LEAST(COUNT(DISTINCT user_id), {UNIQ_UPTO_N + 1}) AS users_upto,
           LEAST(COUNT(DISTINCT user_id), 6) AS users_upto_5,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_uniq_upto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniqUpTo(N)(x)``: exact distinct count while it is
    <= N, the sentinel N+1 once it exceeds N — the "is this column
    low-cardinality?" probe used for dictionary/LowCardinality
    decisions. Two caps ({UNIQ_UPTO_N} and 5) so the fixture exercises
    both the exact and the saturated branch.

    Semantics are the capped projection of an exact distinct count, so
    the plan is Spark's expand-exchange distinct aggregate under a
    `least()` — bit-exact, full oracle. CH's memory win (state capped
    at N+1 values per group) has no built-in Spark twin: partial
    distinct aggregation bounds per-partition state by the values
    PRESENT, not by N. At 100 TB with a hot group the honest choices
    are this exact form (expand shuffle) or agg_approx_distinct's HLL
    (constant state, approximate); uniqUpTo's contract only needs
    exactness below N, which both satisfy there."""
    e = load_table(spark, sf_dir, "events")
    cd = F.countDistinct("user_id")
    return e.groupBy("event_type").agg(
        F.least(cd, F.lit(UNIQ_UPTO_N + 1).cast("bigint")).alias("users_upto"),
        F.least(cd, F.lit(6).cast("bigint")).alias("users_upto_5"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "agg_topk_weighted",
    f"""
    WITH s AS (
      SELECT l_returnflag, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_returnflag, l_suppkey
    ),
    r AS (
      SELECT l_returnflag, l_suppkey, total_qty,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                     ORDER BY total_qty DESC, l_suppkey)
                  AS INT) AS rank
      FROM s
    )
    SELECT * FROM r WHERE rank <= {TOPK_W}
    """,
)
def agg_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topKWeighted(k)(x, w)``: the top-k items per group
    ranked by SUMMED weight, not occurrence count (agg_topk_freq is
    the unweighted sibling). Weight sums run under the exact-decimal
    money policy (order-insensitive), the ranking is totalized with
    an item tiebreak, and the final weight casts to double — full
    hash oracle, unlike CH's own topK which is approximate
    (SpaceSaving); at fixture scale the exact form IS the oracle for
    that sketch.

    Plan: partial+final hash aggregate on (group, item), then a
    per-group WindowGroupLimit rank — the (group, item) aggregate
    bounds the window input to distinct items, so the sort is over
    item cardinality, never raw rows. At 100 TB both stages stay
    shuffle-bounded by item cardinality; a SpaceSaving-style sketch
    (CH's actual topK state) is the constant-memory variant when item
    cardinality itself explodes."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_qty")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("total_qty"), F.asc("l_suppkey")
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK_W)
    )


@query(
    "agg_delta_sum",
    """
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000.0) AS BIGINT) AS vq
      FROM events
    ),
    l AS (
      SELECT user_id,
             vq - lag(vq) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS d
      FROM q
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT)
             AS delta_sum_micros,
           CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS DOUBLE) / 1000000.0
             AS delta_sum
    FROM l GROUP BY user_id
    """,
)
def agg_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``deltaSum(x)``: the sum of POSITIVE deltas between
    consecutive values of an ordered series — the standard
    counter-reset-tolerant rate primitive (a monotone counter that
    resets to 0 contributes its true increase, not the negative jump).
    Ordered per user by (ts, event_id) — a total order, so lag() is
    deterministic under any partitioning.

    Determinism: the series is quantized to integer MICROS via
    floor(value * 1e6) before differencing — floor() (not a bigint
    cast: Spark truncates toward zero, DuckDB rounds-to-nearest) and
    an integer delta sum make the aggregate order-insensitive and the
    oracle exact; the double form is one final division. CH's
    deltaSum over raw Float64 has the same parallel-sum caveat — its
    docs warn the result is order-dependent across parts.

    Plan: one shuffle on user_id feeding lag + the per-user sum over
    the same partitioning (exchange reused). At 100 TB this is the
    sessionize shape: narrow sort within partitions, no global
    order."""
    e = load_table(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 1000000.0).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select("user_id", (vq - F.lag(vq).over(w)).alias("d"))
    pos = F.when(F.col("d") > 0, F.col("d")).otherwise(F.lit(0))
    return d.groupBy("user_id").agg(
        F.sum(pos).cast("bigint").alias("delta_sum_micros"),
        (F.sum(pos).cast("double") / 1000000.0).alias("delta_sum"),
    )


@query(
    "agg_linreg",
    """
    WITH q AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100.0) AS BIGINT) AS xq,
             CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS yq
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(xq) AS DOUBLE) AS sx,
             CAST(SUM(yq) AS DOUBLE) AS sy,
             CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
             CAST(SUM(xq * yq) AS DOUBLE) AS sxy
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0) AS slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0)) * sx)
             / (100.0 * CAST(n AS DOUBLE)) AS intercept
    FROM s
    """,
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``simpleLinearRegression(x, y)``: closed-form least
    squares slope/intercept of extendedprice against quantity per
    return flag, from the classic moment sums.

    Determinism policy: the moments are INTEGER sums over
    cent-quantized inputs (floor(v*100) — floor, not a bigint cast,
    which rounds differently per engine). Integer sums are
    order-insensitive; the worst-case magnitude (sum of xq*yq ~ 3e16
    at sf0.1) fits int64 with two orders of headroom, and each final
    scalar converts to double in ONE correctly-rounded step — unlike
    wide-decimal sums (scaled value > 2^53), whose int128/10^k -> double
    path double-rounds and can drift 1 ulp between engines. The
    slope's cent scale factors cancel algebraically; the intercept
    rescales by /100 once. The slope/intercept expression trees are
    written identically on both sides, so every double op is
    bit-reproducible.

    Plan: one partial+final hash aggregate — the 100 TB shape for any
    moment-based statistic (mergeable constant-size state per group,
    exactly CH's AggregateFunction state model)."""
    li = load_table(spark, sf_dir, "lineitem")
    xq = F.floor(F.col("l_quantity") * 100.0).cast("bigint")
    yq = F.floor(F.col("l_extendedprice") * 100.0).cast("bigint")
    s = (
        li.select("l_returnflag", xq.alias("xq"), yq.alias("yq"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xq").cast("double").alias("sx"),
            F.sum("yq").cast("double").alias("sy"),
            F.sum(F.col("xq") * F.col("xq")).cast("double").alias("sxx"),
            F.sum(F.col("xq") * F.col("yq")).cast("double").alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    # nz: NULL slope on both engines when var(x)=0 in a group (ANSI
    # throw otherwise) — see queries/_util.nz
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / nz(
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / (100.0 * nd)).alias("intercept"),
    )


@query(
    "agg_bounding_ratio",
    """
    WITH q AS (
      SELECT user_id,
             epoch_us(ts) AS tq,
             CAST(floor(value * 1000000.0) AS BIGINT) AS vq,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT f.user_id,
           l.tq - f.tq AS span_micros,
           l.vq - f.vq AS dv_micros,
           CAST(l.vq - f.vq AS DOUBLE)
             / (CAST(l.tq - f.tq AS DOUBLE) / 1000000.0) AS rate_per_sec
    FROM q f JOIN q l ON f.user_id = l.user_id AND f.ra = 1 AND l.rd = 1
    WHERE l.tq > f.tq
    """,
)
def agg_bounding_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``boundingRatio(x, y)``: the slope between the first
    and last point of each user's series — (y_last - y_first) /
    (x_last - x_first) — the cheap end-to-end rate that complements
    agg_delta_sum's reset-tolerant increase. Endpoints are selected by
    the TOTAL order (ts, event_id), so the aggregate is deterministic
    under any partitioning; single-point and zero-span series are
    excluded (the ratio is undefined there, and CH returns nan —
    excluded rather than NULL-cased so the oracle stays NaN-free).

    Determinism: both axes are integers — epoch microseconds for time
    (`unix_micros` ≡ DuckDB `epoch_us`) and floor-micro-quantized
    values (the deltaSum policy) — so endpoint differences are exact
    and the rate is one double division of two exact integers.

    Plan: one shuffle on user_id feeding BOTH directional row_numbers
    over the same partitioning (exchange reused), then the rn=1 rows
    self-join on user_id — tiny (one row per side per user). At scale
    this is min_by/max_by-shaped: constant state per group."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        F.unix_micros("ts").alias("tq"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("vq"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("ra"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
        )
        .alias("rd"),
    )
    f = q.filter(F.col("ra") == 1).select(
        "user_id", F.col("tq").alias("t0"), F.col("vq").alias("v0")
    )
    l = q.filter(F.col("rd") == 1).select(
        "user_id", F.col("tq").alias("t1"), F.col("vq").alias("v1")
    )
    j = f.join(l, "user_id").filter(F.col("t1") > F.col("t0"))
    span = F.col("t1") - F.col("t0")
    dv = F.col("v1") - F.col("v0")
    return j.select(
        "user_id",
        span.alias("span_micros"),
        dv.alias("dv_micros"),
        (dv.cast("double") / (span.cast("double") / 1000000.0)).alias(
            "rate_per_sec"
        ),
    )


@query(
    "agg_entropy_gini",
    """
    WITH u AS (
      SELECT event_type, user_id, COUNT(*) AS n_u
      FROM events GROUP BY event_type, user_id
    ),
    t AS (
      SELECT event_type, user_id, n_u,
             CAST(SUM(n_u) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM u
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_users,
           1.0 - CAST(SUM(n_u * n_u) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)) AS gini,
           CAST(SUM(n_u * (length(format('{:b}', n // n_u)) - 1)) AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE) AS entropy_bits
    FROM t GROUP BY event_type
    """,
)
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution concentration per event type over its user counts —
    ClickHouse ``entropy(x)`` territory, made hash-exact: Gini
    impurity 1 - sum(p_u^2) as an exact rational (integer sums, one
    double expression), and Shannon entropy quantized to WHOLE BITS —
    mean dyadic surprisal sum(n_u * floor(log2(N/n_u))) / N, the
    bitlen(N div n_u) - 1 identity proven at llm_unigram_logprob (raw
    float entropy cannot hash-match: JVM ln drifts 1 ulp from glibc).
    Together they answer the monitoring question entropy() is used
    for — "did this event type's traffic collapse onto few users?" —
    with both a polynomial and a logarithmic lens.

    Plan: (event_type, user) hash agg -> window total over the same
    event_type partitioning -> final per-type agg; one exchange per
    grouping level, partial aggs map-side. Constant mergeable state
    per group at any scale."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n_u"))
    w = Window.partitionBy("event_type")
    t = u.select(
        "event_type", "n_u", F.sum("n_u").over(w).cast("bigint").alias("n")
    )
    bits = (F.length(F.conv(F.expr("n div n_u"), 10, 2)) - 1).cast("bigint")
    nd = F.max("n").cast("double")
    return t.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
        (
            F.lit(1.0)
            - F.sum(F.col("n_u") * F.col("n_u")).cast("double") / (nd * nd)
        ).alias("gini"),
        (F.sum(F.col("n_u") * bits).cast("double") / nd).alias("entropy_bits"),
    )


@query(
    "agg_avg_weighted",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / NULLIF(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE), 0)
             AS avg_w_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_weight,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_avg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``avgWeighted(x, w)``: quantity-weighted mean price
    per return flag. Hash-exact because both operands of the one
    division are exact (decimal money x integral weight summed as
    DECIMAL / BIGINT — order-insensitive), and int->double conversion
    plus a single IEEE division are correctly rounded in both engines.
    Plan: one partial+final hash aggregate, map-side combine."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    wsum = F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * qty)
    return li.groupBy("l_returnflag").agg(
        # nz: NULL on both engines at zero total weight
        (wsum.cast("double") / nz(F.sum(qty).cast("double"))).alias("avg_w_price"),
        F.sum(qty).cast("bigint").alias("total_weight"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_max_intersections",
    """
    WITH iv AS (
        SELECT o_orderpriority,
               o_orderdate AS s,
               o_orderdate + INTERVAL (o_orderkey % 30 + 1) DAY AS e
        FROM orders
    ),
    ev AS (
        SELECT o_orderpriority, s AS pos, 1 AS delta FROM iv
        UNION ALL
        SELECT o_orderpriority, e AS pos, -1 AS delta FROM iv
    ),
    run AS (
        SELECT o_orderpriority,
               SUM(delta) OVER (PARTITION BY o_orderpriority
                                ORDER BY pos, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS open_now
        FROM ev
    )
    SELECT o_orderpriority,
           CAST(MAX(open_now) AS BIGINT) AS max_open,
           COUNT(*) / 2 AS n_intervals
    FROM run GROUP BY o_orderpriority
    """,
)
def agg_max_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``maxIntersections(start, end)``: the maximum number
    of simultaneously-open intervals per priority class, over synthetic
    half-open order-fulfilment windows [orderdate, orderdate + 1..30d).

    Sweep-line as relational algebra: every interval emits (+1 at
    start, -1 at end), a partitioned running sum walks the timeline,
    and the group max is the answer. Ordering (pos, delta) closes
    intervals before opening new ones at the same instant (half-open
    semantics); within a tie block the prefix sum is monotone, so the
    block-internal order cannot change the max — deterministic under
    any shuffle.

    Plan: union of two narrow projections -> one shuffle on the
    priority key -> per-partition sort + streaming window -> partial
    +final max. Scales as a single exchange of 2 rows per interval."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_orderpriority",
        F.col("o_orderdate").alias("s"),
        F.expr("o_orderdate + make_interval(0, 0, 0, CAST(o_orderkey % 30 + 1 AS INT))").alias("e"),
    )
    ev = iv.select("o_orderpriority", F.col("s").alias("pos"), F.lit(1).alias("delta")).unionAll(
        iv.select("o_orderpriority", F.col("e").alias("pos"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("pos", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ev.select("o_orderpriority", F.sum("delta").over(w).alias("open_now"))
    return run.groupBy("o_orderpriority").agg(
        F.max("open_now").cast("bigint").alias("max_open"),
        (F.count(F.lit(1)) / 2).alias("n_intervals"),
    )


@query(
    "agg_sequence_count",
    """
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           length(s) AS seq_len,
           CAST(len(regexp_extract_all(s, 'vc')) AS INT) AS n_view_click,
           CAST(len(regexp_extract_all(s, 'v.*?p')) AS INT) AS n_view_then_purchase,
           CAST(len(regexp_extract_all(s, 'sc*p')) AS INT) AS n_signup_clicks_purchase
    FROM seq
    """,
)
def agg_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceCount(pattern)(ts, cond...)``: how many
    times a user's ordered event stream matches a pattern. Events
    collapse to one char each (v/c/p/s/e); patterns become regexes over
    the per-user string: strict adjacency 'vc', gapped 'v(?:.*?)p'
    (sequenceCount's `(?1).*(?2)` with non-greedy = non-overlapping
    leftmost scan in BOTH engines' regex (Java util.regex / RE2)), and
    a bounded-gap 'sc*p'. Ties broken by unique event_id, so the
    per-user string is total-ordered and identical everywhere.

    Plan: one hash exchange on user_id; sort_array(collect_list) keeps
    the per-user payload bounded by that user's event count (the same
    bound any sequence engine needs); the regex scan is codegen
    string work. Skew-safe for natural user distributions."""
    e = load_table(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                        )
                    ),
                    lambda x: x["c"],
                ),
                "",
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("seq_len"),
        F.regexp_count(F.col("s"), F.lit("vc")).cast("int").alias("n_view_click"),
        F.regexp_count(F.col("s"), F.lit("v.*?p")).cast("int").alias("n_view_then_purchase"),
        F.regexp_count(F.col("s"), F.lit("sc*p")).cast("int").alias("n_signup_clicks_purchase"),
    )


@query(
    "agg_top_bottom_k",
    """
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS micros
        FROM events
    )
    SELECT event_type,
           array_to_string(list_transform(list_sort(list(micros))[1:5],
                                          x -> CAST(x AS VARCHAR)), ',') AS bottom5,
           array_to_string(list_transform(list_sort(list(micros), 'DESC')[1:5],
                                          x -> CAST(x AS VARCHAR)), ',') AS top5,
           COUNT(*) AS n
    FROM q GROUP BY event_type
    """,
)
def agg_top_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArraySorted(N)(x)`` both ways: the 5 smallest
    and 5 largest values per event type as ordered CSV strings
    (serialized — the driver hasher can't hash arrays). Values are
    quantized to integer micros via floor (the agg_delta_sum policy:
    IEEE multiply + floor are deterministic; a raw double sort key
    would be too, but the STRING form of a double is not
    cross-engine). Order is total because the sort is over the values
    themselves.

    Plan: partial collect per map task bounded at k after sort (Spark
    keeps collect_list partials small only post-slice — for true
    100 TB use the typed max-k aggregator pattern; at fixture scale
    the per-group list is fine and the semantics are identical)."""
    e = load_table(spark, sf_dir, "events")
    micros = F.floor(F.col("value") * 1000000).cast("bigint")
    q = e.select("event_type", micros.alias("micros"))
    asc = F.slice(F.sort_array(F.collect_list("micros")), 1, 5)
    desc = F.slice(F.sort_array(F.collect_list("micros"), asc=False), 1, 5)
    to_csv = lambda arr: F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")
    return q.groupBy("event_type").agg(
        to_csv(asc).alias("bottom5"),
        to_csv(desc).alias("top5"),
        F.count(F.lit(1)).alias("n"),
    )


def _type_bucket_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event_type × (user_id % 4) contingency table with its margins
    (`_util.contingency_margins`) — the association family's input."""
    o = load_table(spark, sf_dir, "events").groupBy(
        F.col("event_type").alias("a"), (F.col("user_id") % 4).alias("b")
    ).agg(F.count(F.lit(1)).alias("o_ab"))
    return contingency_margins(o)


@query(
    "agg_cramers_v",
    """
    WITH o AS (
        SELECT event_type AS a, user_id % 4 AS b, COUNT(*) AS o_ab
        FROM events GROUP BY event_type, user_id % 4
    ),
    tot AS (
        SELECT a, b, o_ab,
               SUM(o_ab) OVER (PARTITION BY a) AS r_a,
               SUM(o_ab) OVER (PARTITION BY b) AS c_b,
               SUM(o_ab) OVER () AS n
        FROM o
    ),
    cells AS (
        SELECT a, b, o_ab, r_a, c_b, n,
               CAST(floor(
                 CAST(CAST(o_ab * n - r_a * c_b AS HUGEINT)
                      * CAST(o_ab * n - r_a * c_b AS HUGEINT) AS DOUBLE)
                 / CAST(r_a * c_b * n AS DOUBLE) * 1000000
               ) AS BIGINT) AS term_e6
        FROM tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT a) AS INT) AS n_rows_dim,
           CAST(COUNT(DISTINCT b) AS INT) AS n_cols_dim,
           CAST(SUM(term_e6) AS BIGINT) AS chi2_e6,
           sqrt(CAST(SUM(term_e6) AS DOUBLE) / 1000000.0
                / NULLIF(CAST(MAX(n) AS DOUBLE)
                   * (LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b)) - 1), 0))
             AS cramers_v
    FROM cells
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``cramersV(a, b)`` (with ``chi-squared`` as the
    intermediate): association between event type and a user hash
    bucket. Hash-exact by micro-quantization (`_util.chi2_term_e6`):
    each cell's chi-squared term is an exact integer ratio rounded
    the same way on both engines and floored to millionths, so the
    cell SUM is order-insensitive where a raw double sum would drift.
    The final sqrt/divisions are a fixed expression tree over already-
    deterministic scalars.

    Plan: one (a, b) hash agg over the scan (25 cells), margins via
    windows over the tiny cell table, final single-row agg. The scan
    aggregate is the only data-sized stage at 100 TB."""
    cells = _type_bucket_margins(spark, sf_dir).select(
        "a", "b", "n", chi2_term_e6().alias("term_e6")
    )
    return cells.agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("a").cast("int").alias("n_rows_dim"),
        F.countDistinct("b").cast("int").alias("n_cols_dim"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
        F.sqrt(
            F.sum("term_e6").cast("double")
            / 1000000.0
            # nz: NULL V on both engines for a single-category variable
            # (ANSI throw otherwise) — see queries/_util.nz
            / nz(
                F.max("n").cast("double")
                * (F.least(F.countDistinct("a"), F.countDistinct("b")) - 1)
            )
        ).alias("cramers_v"),
    )


@query(
    "agg_group_bit",
    """
    SELECT event_type,
           bit_and(user_id) AS band,
           bit_or(user_id) AS bor,
           bit_xor(user_id) AS bxor,
           bit_and(CAST(event_id % 256 AS BIGINT)) AS band_lo,
           bit_xor(CAST(event_id % 256 AS BIGINT)) AS bxor_lo,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_group_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `groupBitAnd` / `groupBitOr` / `groupBitXor` — bitwise
    aggregate reductions, the mask-merging primitive behind feature
    flag rollups and bloom-ish membership unions. AND/OR/XOR are
    associative + commutative, so the partial+final hash aggregate is
    order-insensitive by construction — no quantization needed, the
    raw int64 values hash-match exactly.

    Plan: single partial+final hash aggregate over the events scan,
    one shuffle on the 5-value event_type key; scales like any
    map-side-combine aggregate at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    lo = (F.col("event_id") % 256).cast("long")
    return ev.groupBy("event_type").agg(
        F.bit_and("user_id").alias("band"),
        F.bit_or("user_id").alias("bor"),
        F.bit_xor("user_id").alias("bxor"),
        F.bit_and(lo).alias("band_lo"),
        F.bit_xor(lo).alias("bxor_lo"),
        F.count(F.lit(1)).alias("n"),
    )


IVL_BASE_SEC = 60   # minimum interval length
IVL_MOD_SEC = 600   # event_id-keyed spread: 60..659 s


@query(
    "agg_interval_length_sum",
    f"""
    WITH iv AS (
        SELECT user_id, event_id,
               CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS s,
               CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
                 + event_id % {IVL_MOD_SEC} + {IVL_BASE_SEC} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    ),
    per_island AS (
        SELECT user_id, island, MAX(e) - MIN(s) AS ilen
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(ilen) AS BIGINT) AS covered_sec,
           COUNT(*) AS n_islands
    FROM per_island GROUP BY user_id
    """,
)
def agg_interval_length_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `intervalLengthSum` — total length of the UNION of each
    user's [start, end) intervals, overlaps merged (utilization /
    uptime accounting). Intervals derive deterministically from the
    fixture: start = whole-second epoch, length = 60..659 s keyed by
    event_id.

    Classic gaps-and-islands: within each user, an interval starts a
    new island iff its start exceeds the running max end of all
    earlier intervals (ordered by start, event_id tiebreak); islands
    are contiguous by construction, so union length per island is
    simply max(e) - min(s). All arithmetic is int64-exact.

    Every window (flag and island numbering) orders by (s, event_id)
    — the unique tiebreaker — because two intervals tying on (s, e) at
    an island boundary would otherwise renumber nondeterministically
    (the flag is attached to a specific row). Plan: one shuffle on user_id reused by both windows and the
    final aggregate (same partition key); the running-max window is a
    single pass. At 100 TB this is the standard sessionization shape —
    per-user state is a sort within the user's partition, no global
    order."""
    ev = load_table(spark, sf_dir, "events")
    s = F.floor(F.unix_micros("ts") / F.lit(1_000_000)).cast("long")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.col("event_id") % IVL_MOD_SEC + IVL_BASE_SEC).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(w_prev), F.lit(-(2**63))),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(w_cum).alias("island"),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("ilen")
    )
    return per_island.groupBy("user_id").agg(
        F.sum("ilen").alias("covered_sec"),
        F.count(F.lit(1)).alias("n_islands"),
    )


@query(
    "agg_minmax_map",
    """
    SELECT l_returnflag, 'qty' AS metric,
           CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS lo,
           CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS hi
    FROM lineitem GROUP BY 1
    UNION ALL
    SELECT l_returnflag, 'tax_cents' AS metric,
           CAST(MIN(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS lo,
           CAST(MAX(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS hi
    FROM lineitem GROUP BY 1
    """,
)
def agg_minmax_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `minMap` / `maxMap` — key-wise min and max of a map column
    per group, long-form egress like agg_sum_map (map-typed results
    can't cross the scalar hash gate, and long form is the joinable
    shape). The Spark side builds the per-row map and explodes it, so
    ragged key sets work; min/max are order-insensitive, no
    quantization caveats. One partial+final hash aggregate."""
    exploded = returnflag_metric_rows(load_table(spark, sf_dir, "lineitem"))
    return exploded.groupBy("l_returnflag", "metric").agg(
        F.min("__v").cast("bigint").alias("lo"),
        F.max("__v").cast("bigint").alias("hi"),
    )


BITMAP_BASE_EVENT = "purchase"


@query(
    "agg_bitmap_ops",
    f"""
    WITH d AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    base AS (
        SELECT user_id FROM d WHERE event_type = '{BITMAP_BASE_EVENT}'
    ),
    n_base AS (SELECT COUNT(*) AS nb FROM base)
    SELECT d.event_type,
           COUNT(*) AS card_t,
           (SELECT nb FROM n_base) AS card_base,
           CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS card_and,
           (SELECT nb FROM n_base) + COUNT(*)
             - CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS card_or,
           (SELECT nb FROM n_base)
             - CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS card_andnot
    FROM d LEFT JOIN base b ON d.user_id = b.user_id
    GROUP BY d.event_type
    """,
)
def agg_bitmap_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH bitmap algebra (`groupBitmapState` + `bitmapAndCardinality`
    / `bitmapOrCardinality` / `bitmapAndnotCardinality`) — audience
    set intersections: for every event type, how its user set overlaps
    the base ('purchase') audience. ClickHouse materializes roaring
    bitmaps; the relational recast keeps the SEMANTICS (exact set
    cardinalities, inclusion-exclusion for OR) while letting Spark's
    distinct + broadcast-joined membership flag do the work — at
    100 TB the distinct (event_type, user_id) projection is the
    bitmap build, and the base audience stays a broadcast-sized
    single-column frame (or AQE falls back to shuffle join if some
    audience explodes).

    All outputs are exact int64 counts — no approximation, fully
    order-insensitive."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    base = (
        d.filter(F.col("event_type") == BITMAP_BASE_EVENT)
        .select("user_id")
        .withColumn("__in_base", F.lit(1))
    )
    nb = base.count()
    overlap = F.sum(
        F.when(F.col("__in_base").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return (
        d.join(F.broadcast(base), "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("card_t"),
            F.lit(nb).cast("bigint").alias("card_base"),
            overlap.alias("card_and"),
            (F.lit(nb) + F.count(F.lit(1)) - overlap).alias("card_or"),
            (F.lit(nb) - overlap).alias("card_andnot"),
        )
    )


QW_MILLE = (250, 500, 750, 900)  # quantile levels in thousandths


@query(
    "agg_quantiles_weighted",
    f"""
    WITH v AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS val,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    c AS (
        SELECT l_returnflag, val, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY val, w
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cumw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS totw
        FROM v
    )
    SELECT l_returnflag,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           {", ".join(
             f"MIN(CASE WHEN 1000 * cumw >= {q} * totw THEN val END) AS q{q}"
             for q in QW_MILLE)}
    FROM c GROUP BY l_returnflag
    """,
)
def agg_quantiles_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `quantileExactWeighted` — exact weighted quantiles: the
    smallest value v whose cumulative weight reaches q·W, computed
    with pure int64 comparisons (1000·cumw >= q_mille·totw) so no
    float threshold can disagree. Value ties are safe by construction:
    whichever of the tied rows first crosses the threshold, MIN(val)
    lands on the same value, so the intra-tie cumulative order can't
    leak into the result (the `w` tiebreak in the window ORDER BY just
    keeps both engines' scans aligned).

    Plan: one shuffle on the group key shared by both windows and the
    final aggregate. At 100 TB the per-group sort is the cost — the
    same cost ClickHouse pays, and Spark spills it per-partition; for
    heavy groups the histogram-bucketed agg_quantile_state key is the
    pre-aggregated alternative."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("val"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("val", "w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    c = v.select(
        "l_returnflag",
        "val",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("totw"),
    )
    aggs = [F.max("totw").alias("total_weight")] + [
        F.min(
            F.when(1000 * F.col("cumw") >= q * F.col("totw"), F.col("val"))
        ).alias(f"q{q}")
        for q in QW_MILLE
    ]
    return c.groupBy("l_returnflag").agg(*aggs)


@query(
    "agg_skew_kurt",
    """
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(9,0)) AS x
        FROM events
    ),
    p AS (
        SELECT event_type, x, CAST(x * x AS DECIMAL(19,0)) AS x2 FROM q
    ),
    raw AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x) AS r1, SUM(x2) AS r2, SUM(x2 * x) AS r3,
               SUM(x2 * x2) AS r4
        FROM p GROUP BY event_type
    ),
    s AS (
        SELECT event_type, n,
               CAST(CAST(CAST(r1 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(r1 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS s1,
               CAST(CAST(CAST(r2 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(r2 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS s2,
               CAST(CAST(CAST(r3 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(r3 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS s3,
               CAST(CAST(CAST(r4 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(r4 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS s4
        FROM raw
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / NULLIF((s2 / n - (s1 / n) * (s1 / n))
                * sqrt(GREATEST(0.0, s2 / n - (s1 / n) * (s1 / n))), 0)
             AS skew_pop,
           (s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / NULLIF((s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n)), 0) - 3 AS kurt_excess
    FROM s
    """,
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `skewPop` / `kurtPop` — population skewness and excess
    kurtosis via the agg_corr_exact determinism recipe: the four power
    sums are exact scale-0 decimal sums over CENT-quantized values
    (the fixture money policy; cents keep Σx⁴ ≤ ~1e28 ≪ 10^38 even at
    sf100). x stays DECIMAL(9,0) — NOT pre-widened to (38,0) — because
    DuckDB silently promotes any decimal product that would exceed
    width 38 to DOUBLE (observed: a 4-ulp kurtosis drift at sf0.01
    only), while 9-digit operands widen to an exact (36,0) product in
    both engines; the squared term is staged once through DECIMAL(19,0)
    (int128 territory) so x³ = x²·x and x⁴ = x²·x² multiply without
    tripping DuckDB's physical-width overflow check.

    The decimal→double step is the subtle one: DuckDB converts its
    int128 decimals via hi·2^64 + lo in DOUBLE arithmetic (two
    roundings), while Spark's BigDecimal.doubleValue() rounds once —
    observed as a 4-ulp kurtosis drift at sf0.01. Both sides therefore
    split every power sum into exact int64 halves (sum div 2^32, sum
    mod 2^32) and recombine hi·2^32 + lo in doubles: the multiply is
    exact (power-of-two scale) and the add rounds once, identically.
    The DuckDB side must route the split through HUGEINT — `//` on a
    DECIMAL operand is double division (it ROUNDS: observed hi off by
    one exactly when the true quotient's fraction exceeds .5), while
    HUGEINT `//` is true integer division; Spark's decimal `div` is
    already integral. The recombination is
    deterministic to the last bit for sums up to the full 38 digits,
    so the recipe survives sf100. The closed forms are spelled with
    byte-identical expression trees on both engines — every +,-,*,/
    and sqrt is a single correctly-rounded IEEE op, so the doubles
    match bit-for-bit (pow() is deliberately avoided: library pow is
    NOT correctly rounded; m2^1.5 is written m2*sqrt(m2)).

    Skew/kurtosis are invariant to the ×100 rescale. One partial+
    final hash aggregate, order-insensitive by construction."""
    ev = load_table(spark, sf_dir, "events")
    x = (F.col("value").cast("decimal(12,2)") * 100).cast("decimal(9,0)")
    q = ev.select("event_type", x.alias("x"))
    xc = F.col("x")
    x2 = (xc * xc).cast("decimal(19,0)")
    p = q.select("event_type", xc.alias("x"), x2.alias("x2"))
    xc, x2c = F.col("x"), F.col("x2")
    raw = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xc).alias("r1"),
        F.sum(x2c).alias("r2"),
        F.sum(x2c * xc).alias("r3"),
        F.sum(x2c * x2c).alias("r4"),
    )

    s = raw.select(
        "event_type",
        "n",
        hilo("r1").alias("s1"),
        hilo("r2").alias("s2"),
        hilo("r3").alias("s3"),
        hilo("r4").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    m2 = s2 / n - m * m
    # nz: NULL on both engines at zero variance (ANSI throw otherwise)
    skew = (s3 / n - 3 * m * (s2 / n) + 2 * m * m * m) / nz(
        m2 * F.sqrt(pos(m2))
    )
    kurt = (
        s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n) - 3 * m * m * m * m
    ) / nz(m2 * m2) - 3
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        skew.alias("skew_pop"),
        kurt.alias("kurt_excess"),
    )


MOV_WIN = 3  # groupArrayMovingSum window width


@query(
    "agg_group_array_moving",
    f"""
    WITH q AS (
        SELECT user_id, event_id, ts,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT user_id,
               SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN {MOV_WIN - 1} PRECEDING
                                AND CURRENT ROW) AS mov,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM q
    )
    SELECT user_id,
           COUNT(*) AS n,
           COALESCE(array_to_string(list(mov ORDER BY rn), '|'), '')
             AS moving_sums
    FROM m GROUP BY user_id
    """,
)
def agg_group_array_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `groupArrayMovingSum(3)` — the per-group ARRAY of running
    3-row moving sums in event order, egressed '|'-joined (the scalar
    hash gate again). Sums are exact int64 cents; element order is
    pinned by the (ts, event_id) unique tiebreak on both engines —
    Spark materializes (rn, mov) structs and sorts the collected array
    (collect_list order is partition-arrival nondeterministic by
    itself), DuckDB uses list(... ORDER BY rn).

    One shuffle on user_id shared by the window pair and the final
    aggregate; per-group state is the group's own row count, the same
    memory CH's groupArray holds. The moving window is ROWS-bounded —
    single pass."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    q = ev.select("user_id", "event_id", "ts", cents.alias("cents"))
    w_mov = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(MOV_WIN - 1), 0)
    )
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = q.select(
        "user_id",
        F.sum("cents").over(w_mov).alias("mov"),
        F.row_number().over(w_rn).alias("rn"),
    )
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("rn", "mov"))),
        lambda s: s["mov"].cast("string"),
    )
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(arr, "|").alias("moving_sums"),
    )


@query(
    "agg_rank_corr",
    """
    WITH v AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        FROM lineitem
    ),
    r AS (
        SELECT l_returnflag,
               CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1
                    AS DECIMAL(19,0)) AS rx,
               CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1
                    AS DECIMAL(19,0)) AS ry
        FROM v
    ),
    raw AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(rx) AS t1, SUM(ry) AS t2, SUM(rx * ry) AS t3,
               SUM(rx * rx) AS t4, SUM(ry * ry) AS t5
        FROM r GROUP BY l_returnflag
    ),
    s AS (
        SELECT l_returnflag, n,
               CAST(CAST(CAST(t1 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(t1 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS sx,
               CAST(CAST(CAST(t2 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(t2 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS sy,
               CAST(CAST(CAST(t3 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(t3 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS sxy,
               CAST(CAST(CAST(t4 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(t4 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS sxx,
               CAST(CAST(CAST(t5 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                   * 4294967296.0
                 + CAST(CAST(CAST(t5 AS HUGEINT) % 4294967296 AS BIGINT)
                        AS DOUBLE) AS syy
        FROM raw
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy)
             / NULLIF(sqrt(GREATEST(0.0, n * sxx - sx * sx))
                      * sqrt(GREATEST(0.0, n * syy - sy * sy)), 0)
             AS spearman_rho
    FROM s
    """,
)
def agg_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `rankCorr` — Spearman rank correlation, EXACT: Pearson on
    tie-averaged ranks, with ranks doubled (2·avg_rank = 2·rank(x) +
    tie_count(x) − 1) so average ranks of even tie groups stay
    INTEGERS; correlation is scale-invariant, so the ×2 cancels. Rank
    moment sums are exact decimals, converted to double via the
    agg_skew_kurt hi/lo int64 split (DuckDB's hugeint→double rounds
    twice; rank-square sums pass 2^53 already at sf0.1), and the
    closed form is one shared IEEE expression tree.

    Plan: two rank windows + a tie-count window per axis over the
    same group partition (one shuffle on l_returnflag, reused), then a
    partial+final moment aggregate. The per-group sort is the cost —
    the same one quantileExactWeighted pays; rankCorr at 100 TB is
    two sorted passes per group partition."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )

    def rank2(col: str):
        w_rank = Window.partitionBy("l_returnflag").orderBy(col)
        w_tie = Window.partitionBy("l_returnflag", col)
        return (
            2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1
        ).cast("decimal(19,0)")

    r = v.select(
        "l_returnflag", rank2("x").alias("rx"), rank2("y").alias("ry")
    )
    rx, ry = F.col("rx"), F.col("ry")
    raw = r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(rx).alias("t1"),
        F.sum(ry).alias("t2"),
        F.sum(rx * ry).alias("t3"),
        F.sum(rx * rx).alias("t4"),
        F.sum(ry * ry).alias("t5"),
    )

    s = raw.select(
        "l_returnflag",
        "n",
        hilo("t1").alias("sx"),
        hilo("t2").alias("sy"),
        hilo("t3").alias("sxy"),
        hilo("t4").alias("sxx"),
        hilo("t5").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    # nz: NULL on both engines when an axis is constant in a group
    # (ANSI throw otherwise) — see queries/_util.nz
    rho = (n * F.col("sxy") - sx * sy) / nz(
        F.sqrt(pos(n * F.col("sxx") - sx * sx))
        * F.sqrt(pos(n * F.col("syy") - sy * sy))
    )
    return s.select(
        "l_returnflag", n.cast("bigint").alias("n"), rho.alias("spearman_rho")
    )


IF_CENTS_CUT = 10_000  # "big ticket" threshold: value > 100.00


@query(
    "agg_if_combinators",
    f"""
    WITH q AS (
        SELECT event_type, user_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE cents > {IF_CENTS_CUT}) AS n_big,
           CAST(COALESCE(SUM(cents) FILTER (WHERE cents > {IF_CENTS_CUT}), 0)
                AS BIGINT) AS sum_big,
           CAST(SUM(cents) FILTER (WHERE cents > {IF_CENTS_CUT}) AS DOUBLE)
             / NULLIF(COUNT(*) FILTER (WHERE cents > {IF_CENTS_CUT}), 0)
             AS avg_big,
           MIN(cents) FILTER (WHERE cents > {IF_CENTS_CUT}) AS min_big,
           MAX(cents) FILTER (WHERE cents > {IF_CENTS_CUT}) AS max_big,
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE cents > {IF_CENTS_CUT})
                AS BIGINT) AS uniq_big_users
    FROM q GROUP BY event_type
    """,
)
def agg_if_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CH `-If` aggregate-combinator family in one pass — sumIf /
    avgIf / minIf / maxIf / uniqIf / countIf side by side with the
    unconditional count, all over a single scan (the single-pass
    conditional-aggregate pattern that replaces N filtered subqueries
    with N predicates). The condition is an exact integer compare
    (cents > 10000); avgIf is the one final IEEE division; empty
    condition groups yield NULL min/max/avg and 0 sums, matching CH's
    combinator semantics for empty states via the explicit COALESCE.

    One partial+final hash aggregate — identical shuffle budget to a
    single unconditional aggregate at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    q = ev.select("event_type", "user_id", cents.alias("cents"))
    big = F.col("cents") > IF_CENTS_CUT
    cond = lambda c: F.when(big, c)  # noqa: E731
    return q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(cond(F.lit(1))).alias("n_big"),
        F.coalesce(F.sum(cond(F.col("cents"))), F.lit(0))
        .cast("bigint")
        .alias("sum_big"),
        (
            # nz: NULL avgIf on both engines for an empty condition
            # group (ANSI throw otherwise)
            F.sum(cond(F.col("cents"))).cast("double")
            / nz(F.count(cond(F.lit(1))).cast("double"))
        ).alias("avg_big"),
        F.min(cond(F.col("cents"))).alias("min_big"),
        F.max(cond(F.col("cents"))).alias("max_big"),
        F.count_distinct(cond(F.col("user_id")))
        .cast("bigint")
        .alias("uniq_big_users"),
    )


TT_GROUP_A = "purchase"
TT_GROUP_B = "view"


@query(
    "agg_welch_ttest",
    f"""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(9,0)) AS x
        FROM events WHERE event_type IN ('{TT_GROUP_A}', '{TT_GROUP_B}')
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS s1,
               CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0))) AS HUGEINT)
                         // 4294967296 AS BIGINT) AS DOUBLE) * 4294967296.0
                 + CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0))) AS HUGEINT)
                             % 4294967296 AS BIGINT) AS DOUBLE) AS s2
        FROM q GROUP BY event_type
    ),
    w AS (
        SELECT
          (SELECT n FROM s WHERE event_type = '{TT_GROUP_A}') AS na,
          (SELECT s1 FROM s WHERE event_type = '{TT_GROUP_A}') AS sa1,
          (SELECT s2 FROM s WHERE event_type = '{TT_GROUP_A}') AS sa2,
          (SELECT n FROM s WHERE event_type = '{TT_GROUP_B}') AS nb,
          (SELECT s1 FROM s WHERE event_type = '{TT_GROUP_B}') AS sb1,
          (SELECT s2 FROM s WHERE event_type = '{TT_GROUP_B}') AS sb2
    )
    SELECT '{TT_GROUP_A}_vs_{TT_GROUP_B}' AS pair,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           (sa1 / na - sb1 / nb)
             / NULLIF(sqrt(GREATEST(0.0,
                 (sa2 / na - (sa1 / na) * (sa1 / na)) / NULLIF(na - 1, 0)
                 + (sb2 / nb - (sb1 / nb) * (sb1 / nb)) / NULLIF(nb - 1, 0))),
               0)
             AS welch_t
    FROM w
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `welchTTest` — the Welch t STATISTIC for unequal-variance
    mean comparison between two event populations, computed from
    exact integer moment sums (`_util.two_group_moments`: cents,
    squares staged through (19,0), hugeint hi/lo split on the wide
    sums) and one shared IEEE expression tree over the Welch standard
    error (`_util.welch_se`), so the statistic hash-matches
    bit-for-bit. The p-value is deliberately NOT emitted:
    it needs the incomplete beta function, which neither engine
    exposes with reproducible rounding — the statistic + dof are the
    deterministic core (CH's own test returns the statistic too).

    Plan: one 2-group aggregate + a 1-row reshape — the cost IS the
    scan; population variance uses the n−1 sample form like CH."""
    w = two_group_moments(
        load_table(spark, sf_dir, "events"), TT_GROUP_A, TT_GROUP_B
    )
    t = (F.col("sa1") / F.col("na") - F.col("sb1") / F.col("nb")) / welch_se()
    return w.select(
        F.lit(f"{TT_GROUP_A}_vs_{TT_GROUP_B}").alias("pair"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        t.alias("welch_t"),
    )


@query(
    "agg_mannwhitney_u",
    f"""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        FROM events WHERE event_type IN ('{TT_GROUP_A}', '{TT_GROUP_B}')
    ),
    g AS (
        SELECT x, event_type, COUNT(*) AS m FROM q GROUP BY x, event_type
    ),
    vals AS (
        SELECT x, CAST(SUM(m) AS BIGINT) AS mv FROM g GROUP BY x
    ),
    spine AS (
        SELECT x, mv,
               SUM(mv) OVER (ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - mv AS below
        FROM vals
    ),
    s AS (
        SELECT
          CAST(SUM(CASE WHEN g.event_type = '{TT_GROUP_A}'
                        THEN g.m * (2 * sp.below + sp.mv + 1) ELSE 0 END)
               AS BIGINT) AS ra2,
          CAST(SUM(CASE WHEN g.event_type = '{TT_GROUP_A}' THEN g.m ELSE 0 END)
               AS BIGINT) AS na,
          CAST(SUM(CASE WHEN g.event_type = '{TT_GROUP_B}' THEN g.m ELSE 0 END)
               AS BIGINT) AS nb
        FROM g JOIN spine sp ON g.x = sp.x
    )
    SELECT '{TT_GROUP_A}_vs_{TT_GROUP_B}' AS pair, na, nb,
           ra2 AS rank_sum_x2,
           ra2 - na * (na + 1) AS u_x2,
           CAST(ra2 - na * (na + 1) AS DOUBLE)
             / NULLIF(CAST(2 * na * nb AS DOUBLE), 0) AS auc
    FROM s
    """,
)
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `mannWhitneyUTest` — the U statistic (and its AUC
    normalization U/(n_a·n_b), the probability a random A value beats
    a random B value) computed EXACTLY: tie-averaged ranks doubled to
    stay integers (the agg_rank_corr device), U·2 = 2·R_A −
    n_a(n_a+1), one final IEEE division for the AUC. No normal
    approximation, no p-value — the statistic itself is exact int64.

    Plan — deliberately NO row-level global rank window (a bare
    Window.orderBy funnels every row through one task): the rank sum
    needs only Σ m_A(v)·(2·below(v) + m(v) + 1), so everything
    reduces to VALUE-level aggregates — per-(value, group) counts, a
    cumulative count over the DISTINCT-VALUE spine (bounded by the
    cents domain, ≤ 49 002 rows regardless of data size — the
    agg_quantile_state bounded-spine pattern), and an equi-join of
    two value-keyed frames. At 100 TB the row count never touches an
    ordered window; only the fixed-size value spine does
    (`_util.value_rank_spine`)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TT_GROUP_A, TT_GROUP_B)
    )
    _, joined = value_rank_spine(ev)
    is_a = F.col("event_type") == TT_GROUP_A
    r2 = 2 * F.col("below") + F.col("mv") + 1
    s = joined.agg(
        F.sum(F.when(is_a, F.col("m") * r2).otherwise(0))
        .cast("bigint")
        .alias("ra2"),
        F.sum(F.when(is_a, F.col("m")).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~is_a, F.col("m")).otherwise(0)).cast("bigint").alias("nb"),
    )
    u2 = F.col("ra2") - F.col("na") * (F.col("na") + 1)
    return s.select(
        F.lit(f"{TT_GROUP_A}_vs_{TT_GROUP_B}").alias("pair"),
        "na",
        "nb",
        F.col("ra2").alias("rank_sum_x2"),
        u2.alias("u_x2"),
        # nz: NULL on both engines when a group is empty (ANSI throw
        # otherwise) — see queries/_util.nz
        (u2.cast("double")
         / nz((2 * F.col("na") * F.col("nb")).cast("double"))).alias("auc"),
    )


TOTALS_SENTINEL = "<totals>"


@query(
    "agg_with_totals",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '{TOTALS_SENTINEL}', COUNT(*),
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM events
    """,
)
def agg_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `GROUP BY ... WITH TOTALS` — the per-group rows plus ONE
    grand-total row (sentinel group key), where the total re-aggregates
    the RAW input, not the group rows: COUNT(DISTINCT user_id) in the
    totals row is the corpus-wide distinct count, NOT the sum of
    per-group distincts — exactly the distinction WITH TOTALS exists
    for (a user active in two event types counts once). ROLLUP gives
    the same shape for additive measures only; this key pins the
    non-additive semantics.

    Plan: Spark computes it as rollup()-style grouping-sets (one pass,
    partial+final, the distinct handled by expand) via
    F.grouping_id-free union of two aggregates sharing the scan;
    exchange budget = two aggregates."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    q = ev.select("event_type", "user_id", cents.alias("cents"))
    per = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    tot = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    ).select(F.lit(TOTALS_SENTINEL).alias("event_type"), "n", "sum_cents", "n_users")
    return per.unionAll(tot)


@query(
    "agg_covar_exact",
    """
    WITH cents AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0)) AS xc,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0)) AS yc
      FROM lineitem
    ),
    raw AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(xc) AS r1, SUM(yc) AS r2, SUM(xc * yc) AS r3
      FROM cents GROUP BY l_returnflag
    ),
    s AS (
      SELECT l_returnflag, n,
             CAST(CAST(CAST(r1 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                 * 4294967296.0
               + CAST(CAST(CAST(r1 AS HUGEINT) % 4294967296 AS BIGINT)
                      AS DOUBLE) AS sx,
             CAST(CAST(CAST(r2 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                 * 4294967296.0
               + CAST(CAST(CAST(r2 AS HUGEINT) % 4294967296 AS BIGINT)
                      AS DOUBLE) AS sy,
             CAST(CAST(CAST(r3 AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)
                 * 4294967296.0
               + CAST(CAST(CAST(r3 AS HUGEINT) % 4294967296 AS BIGINT)
                      AS DOUBLE) AS sxy
      FROM raw
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy) / (n * n) AS covar_pop,
           (n * sxy - sx * sy) / NULLIF(n * (n - 1), 0) AS covar_samp
    FROM s
    """,
)
def agg_covar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `covarPop` / `covarSamp` — deterministic covariance by the
    agg_corr_exact recipe: built-in covar_* merges co-moments in
    partition order (cross-engine ulp drift), so both engines take
    three exact integer sums and apply the closed forms
    (n·Σxy − Σx·Σy)/n² and /(n(n−1)) in one shared IEEE tree. The
    product sum passes 2^53 around sf1, so every sum converts to
    double via the hi/lo int64 split (the agg_skew_kurt recipe —
    DuckDB's hugeint→double rounds twice otherwise). Units are cents²
    — covariance scales with both axes, and the exact integers are
    the point, not the unit.

    One partial+final hash aggregate; order-insensitive everywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    xc = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("decimal(18,0)")
    yc = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("decimal(18,0)")
    cents = li.select("l_returnflag", xc.alias("xc"), yc.alias("yc"))
    x, y = F.col("xc"), F.col("yc")
    raw = cents.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("r1"),
        F.sum(y).alias("r2"),
        F.sum(x * y).alias("r3"),
    )

    s = raw.select(
        "l_returnflag",
        "n",
        hilo("r1").alias("sx"),
        hilo("r2").alias("sy"),
        hilo("r3").alias("sxy"),
    )
    n, sx, sy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxy"))
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        ((n * sxy - sx * sy) / (n * n)).alias("covar_pop"),
        # nz: NULL covar_samp at n=1 on both engines (ANSI throw
        # otherwise) — see queries/_util.nz
        ((n * sxy - sx * sy) / nz(n * (n - 1))).alias("covar_samp"),
    )


@query(
    "agg_histogram_log2",
    """
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    b AS (
        SELECT event_type,
               CASE WHEN cents <= 0 THEN -1
                    ELSE length(format('{:b}', cents)) - 1 END AS bucket,
               cents
        FROM q
    )
    SELECT event_type, CAST(bucket AS INT) AS bucket,
           CAST(CASE WHEN bucket = -1 THEN 0
                     ELSE 1 << bucket END AS BIGINT) AS bucket_lo,
           COUNT(*) AS n,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM b GROUP BY event_type, bucket
    """,
)
def agg_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-spaced (power-of-two) histogram — the latency/size
    histogram convention (Prometheus-style exponential buckets)
    computed EXACTLY: bucket = floor(log2(cents)) as bitlen(cents)−1
    (the llm_unigram_logprob integer identity — no float log), bucket
    floor = 1 << bucket. Equi-width agg_histogram covers linear
    domains; heavy-tailed money/latency values need log buckets, and
    whole-bit buckets make the oracle hash-exact.

    One partial+final hash aggregate over ~34 buckets per type —
    map-side combine does everything at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    q = ev.select("event_type", cents.alias("cents"))
    bucket = F.when(F.col("cents") <= 0, -1).otherwise(
        F.length(F.conv(F.col("cents"), 10, 2)) - 1
    )
    b = q.select("event_type", bucket.cast("int").alias("bucket"), "cents")
    g = b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )
    bucket_lo = (
        F.when(F.col("bucket") == -1, 0)
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
        .cast("bigint")
    )
    return g.select(
        "event_type", "bucket", bucket_lo.alias("bucket_lo"),
        "n", "min_cents", "max_cents",
    )


@query(
    "agg_student_ttest",
    f"""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(9,0)) AS x
        FROM events WHERE event_type IN ('{TT_GROUP_A}', '{TT_GROUP_B}')
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS s1,
               CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0))) AS HUGEINT)
                         // 4294967296 AS BIGINT) AS DOUBLE) * 4294967296.0
                 + CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0))) AS HUGEINT)
                             % 4294967296 AS BIGINT) AS DOUBLE) AS s2
        FROM q GROUP BY event_type
    ),
    w AS (
        SELECT
          (SELECT n FROM s WHERE event_type = '{TT_GROUP_A}') AS na,
          (SELECT s1 FROM s WHERE event_type = '{TT_GROUP_A}') AS sa1,
          (SELECT s2 FROM s WHERE event_type = '{TT_GROUP_A}') AS sa2,
          (SELECT n FROM s WHERE event_type = '{TT_GROUP_B}') AS nb,
          (SELECT s1 FROM s WHERE event_type = '{TT_GROUP_B}') AS sb1,
          (SELECT s2 FROM s WHERE event_type = '{TT_GROUP_B}') AS sb2
    )
    SELECT '{TT_GROUP_A}_vs_{TT_GROUP_B}' AS pair,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(na + nb - 2 AS BIGINT) AS dof,
           (sa1 / na - sb1 / nb)
             / NULLIF(sqrt(GREATEST(0.0,
                 (((sa2 - (sa1 / na) * sa1) + (sb2 - (sb1 / nb) * sb1))
                  / NULLIF(na + nb - 2.0, 0)) * (1.0 / na + 1.0 / nb))), 0)
             AS student_t
    FROM w
    """,
)
def agg_student_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `studentTTest` — the equal-variance (pooled) two-sample t
    STATISTIC, the classical sibling of `agg_welch_ttest` and computed
    from the SAME exact integer moment sums
    (`_util.two_group_moments`) with one shared IEEE expression tree:
    pooled variance s_p² = (Σ(x−m_a)² + Σ(x−m_b)²)/(n_a+n_b−2), statistic
    (m_a−m_b)/√(s_p²(1/n_a+1/n_b)). The p-value is deliberately NOT
    emitted (incomplete beta — not reproducible cross-engine); CH's
    own function returns the statistic too.

    Plan: identical to the Welch key — one 2-group aggregate + a
    1-row×1-row reshape; the cost is the scan."""
    w = two_group_moments(
        load_table(spark, sf_dir, "events"), TT_GROUP_A, TT_GROUP_B
    )
    na, nb = F.col("na"), F.col("nb")
    sa1, sa2, sb1, sb2 = (F.col(c) for c in ("sa1", "sa2", "sb1", "sb2"))
    # nz: NULL (both engines) instead of an ANSI throw at n_a=n_b=1 or
    # zero pooled variance — see queries/_util.nz
    t = (sa1 / na - sb1 / nb) / nz(
        F.sqrt(
            pos(
                (((sa2 - (sa1 / na) * sa1) + (sb2 - (sb1 / nb) * sb1))
                 / nz(na + nb - F.lit(2.0)))
                * (F.lit(1.0) / na + F.lit(1.0) / nb)
            )
        )
    )
    return w.select(
        F.lit(f"{TT_GROUP_A}_vs_{TT_GROUP_B}").alias("pair"),
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        (na + nb - F.lit(2.0)).cast("bigint").alias("dof"),
        t.alias("student_t"),
    )


@query(
    "agg_ks_test",
    f"""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        FROM events WHERE event_type IN ('{TT_GROUP_A}', '{TT_GROUP_B}')
    ),
    g AS (
        SELECT x,
               CAST(SUM(CASE WHEN event_type = '{TT_GROUP_A}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN event_type = '{TT_GROUP_B}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM q GROUP BY x
    ),
    spine AS (
        SELECT x,
               SUM(ca) OVER (ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_a,
               SUM(cb) OVER (ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_b,
               SUM(ca) OVER () AS na,
               SUM(cb) OVER () AS nb
        FROM g
    )
    SELECT '{TT_GROUP_A}_vs_{TT_GROUP_B}' AS pair,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS DOUBLE)
             / NULLIF(CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE), 0)
             AS ks_d
    FROM spine
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `kolmogorovSmirnovTest` — the two-sample KS STATISTIC
    D = max_x |F_a(x) − F_b(x)| computed EXACTLY: the ECDF difference
    is cross-multiplied to integers (|C_a·n_b − C_b·n_a|, the
    division-free device shared with `subq_correlated` and
    `agg_mannwhitney_u`), the max is taken over integers, and ONE
    final IEEE division produces D. No asymptotic distribution, no
    p-value — the statistic is exact int64 arithmetic.

    Plan — the `agg_mannwhitney_u` value-spine form: per-value
    conditional counts (one aggregate over the scan), then cumulative
    and total sums over the DISTINCT-VALUE spine (bounded by the cents
    domain, ≤ 49 002 rows regardless of row count), then a 1-row max.
    At 100 TB only the fixed-size spine crosses an ordered window,
    never the raw rows. C·n products stay < 2^63 for any corpus where
    rows_per_group < 3·10⁹; past that, restage through DECIMAL(38,0).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TT_GROUP_A, TT_GROUP_B)
    )
    x = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    q = ev.select("event_type", x.alias("x"))
    is_a = F.col("event_type") == TT_GROUP_A
    g = q.groupBy("x").agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("bigint").alias("cb"),
    )
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    spine = g.select(
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
        F.sum("ca").over(w_tot).alias("na"),
        F.sum("cb").over(w_tot).alias("nb"),
    )
    d = F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
    return spine.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.max(d).cast("bigint").alias("d_num"),
        (
            # nz: NULL D on both engines when a group is empty
            # (ANSI throw otherwise) — see queries/_util.nz
            F.max(d).cast("double")
            / nz(F.max("na").cast("double") * F.max("nb").cast("double"))
        ).alias("ks_d"),
    ).select(
        F.lit(f"{TT_GROUP_A}_vs_{TT_GROUP_B}").alias("pair"),
        "n_a",
        "n_b",
        "d_num",
        "ks_d",
    )


@query(
    "agg_corr_matrix",
    """
    WITH cents AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0)) AS xc,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0)) AS yc,
             CAST(CAST(l_discount AS DECIMAL(12,4)) * 10000 AS DECIMAL(18,0)) AS zc
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(xc) AS DOUBLE) AS sx,
             CAST(SUM(yc) AS DOUBLE) AS sy,
             CAST(SUM(zc) AS DOUBLE) AS sz,
             CAST(SUM(xc * yc) AS DOUBLE) AS sxy,
             CAST(SUM(xc * zc) AS DOUBLE) AS sxz,
             CAST(SUM(yc * zc) AS DOUBLE) AS syz,
             CAST(SUM(xc * xc) AS DOUBLE) AS sxx,
             CAST(SUM(yc * yc) AS DOUBLE) AS syy,
             CAST(SUM(zc * zc) AS DOUBLE) AS szz
      FROM cents GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / NULLIF(sqrt(GREATEST(0.0, n * sxx - sx * sx))
                      * sqrt(GREATEST(0.0, n * syy - sy * sy)), 0)
             AS corr_qty_price,
           (n * sxz - sx * sz)
             / NULLIF(sqrt(GREATEST(0.0, n * sxx - sx * sx))
                      * sqrt(GREATEST(0.0, n * szz - sz * sz)), 0)
             AS corr_qty_disc,
           (n * syz - sy * sz)
             / NULLIF(sqrt(GREATEST(0.0, n * syy - sy * sy))
                      * sqrt(GREATEST(0.0, n * szz - sz * sz)), 0)
             AS corr_price_disc
    FROM s
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `corrMatrix` — all pairwise Pearson correlations over three
    measures (quantity, price, discount) in ONE aggregate pass: the
    `agg_corr_exact` exact-integer-moment recipe extended to the full
    moment vector (3 sums, 3 cross-products, 3 squares as exact
    decimals), finalized by one shared IEEE expression tree per pair —
    so the whole matrix hash-matches bit for bit.

    Plan/scale: a single partial/final HashAggregate pair computes all
    nine moments map-side — the matrix costs one scan regardless of
    how many column pairs are requested, the same reason CH ships the
    Matrix combinator instead of k² separate corr() calls."""
    li = load_table(spark, sf_dir, "lineitem")
    xc = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("decimal(18,0)")
    yc = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
        "decimal(18,0)"
    )
    zc = (F.col("l_discount").cast("decimal(12,4)") * 10000).cast("decimal(18,0)")
    c = li.select("l_returnflag", xc.alias("xc"), yc.alias("yc"), zc.alias("zc"))
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").cast("double").alias("sx"),
        F.sum("yc").cast("double").alias("sy"),
        F.sum("zc").cast("double").alias("sz"),
        F.sum(F.col("xc") * F.col("yc")).cast("double").alias("sxy"),
        F.sum(F.col("xc") * F.col("zc")).cast("double").alias("sxz"),
        F.sum(F.col("yc") * F.col("zc")).cast("double").alias("syz"),
        F.sum(F.col("xc") * F.col("xc")).cast("double").alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).cast("double").alias("syy"),
        F.sum(F.col("zc") * F.col("zc")).cast("double").alias("szz"),
    )
    n = F.col("n")

    def corr(sa, sb, sab, saa, sbb):
        # nz: NULL on both engines for a constant axis (ANSI throw
        # otherwise) — see queries/_util.nz
        return (n * F.col(sab) - F.col(sa) * F.col(sb)) / nz(
            F.sqrt(pos(n * F.col(saa) - F.col(sa) * F.col(sa)))
            * F.sqrt(pos(n * F.col(sbb) - F.col(sb) * F.col(sb)))
        )

    return s.select(
        "l_returnflag",
        "n",
        corr("sx", "sy", "sxy", "sxx", "syy").alias("corr_qty_price"),
        corr("sx", "sz", "sxz", "sxx", "szz").alias("corr_qty_disc"),
        corr("sy", "sz", "syz", "syy", "szz").alias("corr_price_disc"),
    )


CMS_EPS = 0.005  # ±0.5% of total count with 99% confidence
CMS_CONF = 0.99
CMS_SEED = 42


@query("agg_heavy_hitters_cms")  # sketch estimates — rows-only;
# overcount/merge/format gates in tests/test_aggregations_ch.py
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequency estimation with a Count-Min sketch — the
    third mergeable-sketch family next to HLL (`agg_sketch_state`) and
    KLL (`agg_quantile_kll`): ONE JVM-side `count_min_sketch` aggregate
    over the raw column (a TypedImperativeAggregate — partial sketches
    per partition, merged inside the JVM's final aggregation, so the
    distributed merge is Spark's own, not a driver loop; VERDICT r5
    "What's wrong" #2 closed). The driver collects the single few-KB
    sketch blob, parses it with the pure-Python V1-format reader in
    ops/cms.py (no `sc._jvm` private bridge), and looks up the true
    top-10 user_ids (exact distributed count) in it.

    CMS guarantees estimate ≥ true count, and ≤ true + eps·N with the
    configured confidence — the overcount gate in tests. Scale: sketch
    size is constant regardless of row count, and per-day shard
    sketches merged via ops/cms.py are byte-identical to this one-pass
    sketch (mergeability test) — the CH materialized-view idiom with a
    frequency (not cardinality) sketch, rolling up forever without
    rescanning raw ids. Rows-only (estimates are approximate; DuckDB
    has no CMS)."""
    from etl_ch_destination_spark.ops.cms import SparkCMS

    ev = load_table(spark, sf_dir, "events")
    out_schema = (
        "user_id bigint, true_n bigint, est_n bigint, overcount bigint"
    )
    sk_row = ev.agg(
        F.count_min_sketch(
            "user_id", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
        ).alias("sk")
    ).head()
    if sk_row is None or sk_row.sk is None:
        # empty input: no sketch to read — empty result with the
        # declared schema instead of an AttributeError (ADVICE r5)
        return spark.createDataFrame([], out_schema)
    merged = SparkCMS.from_bytes(bytes(sk_row.sk))

    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("user_id"))
        .limit(10)
        .collect()
    )
    rows = [
        (
            int(r.user_id),
            int(r.true_n),
            int(merged.estimate_long(int(r.user_id))),
        )
        for r in top
    ]
    return spark.createDataFrame(
        [(u, t, e, e - t) for u, t, e in rows], out_schema
    )


SPARKBAR_CHARS = "▁▂▃▄▅▆▇█"
SPARKBAR_Y0, SPARKBAR_Y1 = 1992, 1998


@query(
    "agg_sparkbar",
    f"""
    WITH counts AS (
      SELECT l_returnflag AS flag,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate)
            BETWEEN {SPARKBAR_Y0} AND {SPARKBAR_Y1}
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT flag, y, COALESCE(cnt, 0) AS cnt
      FROM (SELECT DISTINCT flag FROM counts)
      CROSS JOIN (SELECT unnest(range({SPARKBAR_Y0}, {SPARKBAR_Y1} + 1)) AS y)
      LEFT JOIN counts USING (flag, y)
    ),
    dense AS (
      SELECT flag,
             list(cnt ORDER BY y) AS cs,
             CAST(MAX(cnt) AS BIGINT) AS mx
      FROM spine GROUP BY flag
    )
    SELECT flag,
           mx AS max_count,
           array_to_string(list_transform(cs, c ->
             CASE WHEN c = 0 THEN '{SPARKBAR_CHARS[0]}'
                  ELSE array_extract(string_split('{"|".join(SPARKBAR_CHARS)}', '|'),
                         CAST(2 + ((c - 1) * 7) // mx AS INT))
             END), '') AS bar
    FROM dense
    """,
)
def agg_sparkbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sparkbar(width)(x, y)``: a unicode block-character
    histogram string per group — shipments per year per return flag
    rendered as one glanceable cell (the monitoring-dashboard
    formatter). Level mapping is pure integer arithmetic (zero → ▁,
    else 1 + (cnt−1)·7 div max → ▂..█), so the emitted STRING is
    byte-identical cross-engine and the key runs under the full hash
    oracle — unusual for a visualization function.

    Plan: one (flag, year) hash aggregate, then the 7-year dense spine
    is built per group with a map lookup over a constant sequence —
    the second aggregate touches |flags × years| rows only."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.year("l_shipdate").cast("bigint")
    counts = (
        li.filter(y.between(SPARKBAR_Y0, SPARKBAR_Y1))
        .groupBy(F.col("l_returnflag").alias("flag"), y.alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    dense = counts.groupBy("flag").agg(
        F.map_from_entries(
            F.collect_list(F.struct("y", "cnt"))
        ).alias("m"),
        F.max("cnt").cast("bigint").alias("mx"),
    )
    chars = F.array(*[F.lit(ch) for ch in SPARKBAR_CHARS])
    bar = F.array_join(
        F.transform(
            F.sequence(F.lit(SPARKBAR_Y0), F.lit(SPARKBAR_Y1)),
            lambda yy: F.when(
                F.coalesce(
                    F.element_at("m", yy.cast("bigint")), F.lit(0)
                )
                == 0,
                F.lit(SPARKBAR_CHARS[0]),
            ).otherwise(
                F.element_at(
                    chars,
                    (
                        F.lit(2)
                        + (
                            (
                                F.coalesce(
                                    F.element_at("m", yy.cast("bigint")),
                                    F.lit(0),
                                )
                                - 1
                            )
                            * 7
                        )
                        / F.col("mx")
                    ).cast("int"),
                )
            ),
        ),
        "",
    )
    return dense.select(
        "flag", F.col("mx").alias("max_count"), bar.alias("bar")
    )


@query(
    "agg_theils_u",
    """
    WITH o AS (
        SELECT event_type AS a, user_id % 4 AS b,
               CAST(COUNT(*) AS BIGINT) AS o_ab
        FROM events GROUP BY event_type, user_id % 4
    ),
    tot AS (
        SELECT a, b, o_ab,
               CAST(SUM(o_ab) OVER (PARTITION BY a) AS BIGINT) AS r_a,
               CAST(SUM(o_ab) OVER (PARTITION BY b) AS BIGINT) AS c_b,
               CAST(SUM(o_ab) OVER () AS BIGINT) AS n
        FROM o
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(o_ab * (length(format('{:b}', n // r_a)) - 1))
                AS BIGINT) AS sx_bits,
           CAST(SUM(o_ab * (length(format('{:b}', c_b // o_ab)) - 1))
                AS BIGINT) AS sxy_bits,
           CAST(SUM(o_ab * (length(format('{:b}', n // r_a)) - 1))
                - SUM(o_ab * (length(format('{:b}', c_b // o_ab)) - 1))
                AS DOUBLE)
             / NULLIF(CAST(SUM(o_ab * (length(format('{:b}', n // r_a))
                              - 1)) AS DOUBLE), 0) AS theils_u_bits
    FROM tot
    """,
)
def agg_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``theilsU(a, b)`` — the asymmetric uncertainty
    coefficient U(X|Y) = (H(X) − H(X|Y)) / H(X) — in the repo's
    WHOLE-BIT dyadic entropy form (the agg_entropy_gini /
    llm_unigram_logprob identity; raw ln cannot hash-match). The
    algebra collapses beautifully to integers: with surprisal sums
    Sx = Σ_a r_a·bits(n div r_a) and Sxy = Σ_cells o_ab·bits(c_b div
    o_ab), U = (Sx − Sxy) / Sx — both sums exact int64, ONE final IEEE
    division. Sx is summed CELL-WISE via the identity Σ_b o_ab = r_a
    (so Σ_cells o_ab·bits(n div r_a) = Σ_a r_a·bits(n div r_a)) —
    correct on sparse contingency tables too, where a per-row-class
    guard keyed to any particular column class would drop marginals.

    Plan: one (a, b) hash agg over the scan (tiny contingency table),
    margins as windows over the cells, one final aggregate — same
    shape as agg_cramers_v at any scale."""
    tot = _type_bucket_margins(spark, sf_dir)
    bits_x = (
        F.length(F.conv(F.expr("n div r_a"), 10, 2)) - F.lit(1)
    ).cast("bigint")
    bits_xy = (
        F.length(F.conv(F.expr("c_b div o_ab"), 10, 2)) - F.lit(1)
    ).cast("bigint")
    sx = F.sum(F.col("o_ab") * bits_x).cast("bigint")
    sxy = F.sum(F.col("o_ab") * bits_xy).cast("bigint")
    return tot.agg(
        F.max("n").cast("bigint").alias("n"),
        sx.alias("sx_bits"),
        sxy.alias("sxy_bits"),
        # nz: NULL U on both engines when H(X)=0 — single category,
        # zero bit-entropy denominator (ANSI throw otherwise)
        ((sx - sxy).cast("double") / nz(sx.cast("double"))).alias(
            "theils_u_bits"
        ),
    )


@query(
    "agg_cramers_v_bc",
    """
    WITH o AS (
        SELECT event_type AS a, user_id % 4 AS b, COUNT(*) AS o_ab
        FROM events GROUP BY event_type, user_id % 4
    ),
    tot AS (
        SELECT a, b, o_ab,
               SUM(o_ab) OVER (PARTITION BY a) AS r_a,
               SUM(o_ab) OVER (PARTITION BY b) AS c_b,
               SUM(o_ab) OVER () AS n
        FROM o
    ),
    cells AS (
        SELECT a, b, o_ab, r_a, c_b, n,
               CAST(floor(
                 CAST(CAST(o_ab * n - r_a * c_b AS HUGEINT)
                      * CAST(o_ab * n - r_a * c_b AS HUGEINT) AS DOUBLE)
                 / CAST(r_a * c_b * n AS DOUBLE) * 1000000
               ) AS BIGINT) AS term_e6
        FROM tot
    ),
    s AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
             CAST(SUM(term_e6) AS BIGINT) AS chi2_e6
      FROM cells
    )
    SELECT n, r, c, chi2_e6,
           sqrt(
             GREATEST(0.0,
               CAST(chi2_e6 AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
               - CAST((r - 1) * (c - 1) AS DOUBLE)
                 / NULLIF(CAST(n - 1 AS DOUBLE), 0))
             / NULLIF(LEAST(
                  CAST(r AS DOUBLE)
                  - CAST((r - 1) * (r - 1) AS DOUBLE)
                    / NULLIF(CAST(n - 1 AS DOUBLE), 0),
                  CAST(c AS DOUBLE)
                  - CAST((c - 1) * (c - 1) AS DOUBLE)
                    / NULLIF(CAST(n - 1 AS DOUBLE), 0))
                - 1.0, 0)
           ) AS cramers_v_bc
    FROM s
    """,
)
def agg_cramers_v_bc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``cramersVBiasCorrected(a, b)`` — the
    Bergsma-Wicher bias-corrected Cramér's V: φ²_corr = max(0, φ² −
    (r−1)(c−1)/(n−1)), with the row/column dimensions shrunk the same
    way, completing the association family next to `agg_cramers_v` and
    `agg_theils_u`. The χ² intermediate is the shared
    `_util.chi2_term_e6` cell (exact integer per-cell terms → order-
    insensitive sum); the correction is a fixed scalar expression over
    (n, r, c, χ²_e6) — every operand exact, replayed identically by
    the oracle. Plan: identical to agg_cramers_v (one tiny hash agg +
    margins)."""
    tot = _type_bucket_margins(spark, sf_dir)
    s = tot.select("a", "b", "n", chi2_term_e6().alias("term_e6")).agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("a").cast("bigint").alias("r"),
        F.countDistinct("b").cast("bigint").alias("c"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
    )
    n_d = F.col("n").cast("double")
    phi2 = F.col("chi2_e6").cast("double") / 1000000.0 / n_d
    # nz on every (n-1) and on the shrunk-dim denominator: NULL on
    # both engines at n=1 or a single-category variable (ANSI throw
    # otherwise) — see queries/_util.nz
    corr = (
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("double")
        / nz((F.col("n") - 1).cast("double"))
    )
    r_sh = F.col("r").cast("double") - (
        ((F.col("r") - 1) * (F.col("r") - 1)).cast("double")
        / nz((F.col("n") - 1).cast("double"))
    )
    c_sh = F.col("c").cast("double") - (
        ((F.col("c") - 1) * (F.col("c") - 1)).cast("double")
        / nz((F.col("n") - 1).cast("double"))
    )
    v = F.sqrt(
        F.greatest(F.lit(0.0), phi2 - corr) / nz(F.least(r_sh, c_sh) - 1.0)
    )
    return s.select("n", "r", "c", "chi2_e6", v.alias("cramers_v_bc"))


@query(
    "agg_contingency_coef",
    """
    WITH o AS (
        SELECT event_type AS a, user_id % 4 AS b, COUNT(*) AS o_ab
        FROM events GROUP BY event_type, user_id % 4
    ),
    tot AS (
        SELECT a, b, o_ab,
               SUM(o_ab) OVER (PARTITION BY a) AS r_a,
               SUM(o_ab) OVER (PARTITION BY b) AS c_b,
               SUM(o_ab) OVER () AS n
        FROM o
    ),
    cells AS (
        SELECT o_ab, r_a, c_b, n,
               CAST(floor(
                 CAST(CAST(o_ab * n - r_a * c_b AS HUGEINT)
                      * CAST(o_ab * n - r_a * c_b AS HUGEINT) AS DOUBLE)
                 / CAST(r_a * c_b * n AS DOUBLE) * 1000000
               ) AS BIGINT) AS term_e6
        FROM tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(term_e6) AS BIGINT) AS chi2_e6,
           sqrt((CAST(SUM(term_e6) AS DOUBLE) / 1000000.0)
                / (CAST(SUM(term_e6) AS DOUBLE) / 1000000.0
                   + CAST(MAX(n) AS DOUBLE))) AS contingency_c
    FROM cells
    """,
)
def agg_contingency_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``contingency(a, b)`` — Pearson's contingency
    coefficient C = sqrt(χ² / (χ² + n)), the third member of the CH
    association family (with cramersV / cramersVBiasCorrected /
    theilsU all now covered). Sums the shared `_util.chi2_term_e6`
    cells; the final expression is two divisions and a sqrt over
    deterministic scalars. Plan: identical tiny-contingency shape."""
    tot = _type_bucket_margins(spark, sf_dir)
    s = tot.select("n", chi2_term_e6().alias("term_e6")).agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
    )
    chi2 = F.col("chi2_e6").cast("double") / 1000000.0
    return s.select(
        "n",
        "chi2_e6",
        F.sqrt(chi2 / (chi2 + F.col("n").cast("double"))).alias(
            "contingency_c"
        ),
    )


GROUP_SAMPLE_K = 5


@query(
    "agg_group_sample",
    f"""
    SELECT event_type, user_id, pos FROM (
      SELECT event_type, user_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(user_id AS VARCHAR) || ':gsample'), user_id
             ) AS BIGINT) AS pos
      FROM (SELECT DISTINCT event_type, user_id FROM events)
    ) WHERE pos <= {GROUP_SAMPLE_K}
    """,
)
def agg_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArraySample(k)`` made reproducible: a
    deterministic uniform k-sample of distinct users per event type,
    drawn by md5 order (the unseeded uniform draw both engines replay
    bit-for-bit) instead of RNG state — so the "sample" is stable
    across reruns, partitionings, and engines, which is what a
    debugging/eyeballing sample actually wants. Emitted in relational
    long form (group, member, position) because the driver's hasher
    rejects array cells. Plan: distinct-pair hash agg, then one
    exchange on event_type with an early top-K window — a skewed
    giant group still emits K rows."""
    e = load_table(spark, sf_dir, "events")
    pairs = e.select("event_type", "user_id").distinct()
    win = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":gsample"))),
        "user_id",
    )
    return (
        pairs.select(
            "event_type",
            "user_id",
            F.row_number().over(win).cast("bigint").alias("pos"),
        )
        .filter(F.col("pos") <= GROUP_SAMPLE_K)
    )


GAS_K = 10  # groupArraySorted cap


@query(
    "agg_group_array_sorted",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           array_to_string(
             list_transform(
               (list_sort(list(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                                    AS BIGINT))))[1:{GAS_K}],
               x -> CAST(x AS VARCHAR)),
             ',') AS low{GAS_K}_cents_csv
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_group_array_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArraySorted(N)(x)`` — the N smallest values
    per group as a sorted array; here the {GAS_K} lowest order totals
    (exact cents) per priority class, emitted as a csv string because
    the driver's hasher rejects array cells. The multiset-sorted
    prefix is a pure function of the group's values — deterministic
    under any partitioning, unlike groupArray.

    Plan: one hash aggregate; collect_list is safe because the
    retained prefix is bounded (N) and the full per-group list is
    bounded by the fixture's group sizes — at 100 TB swap the exact
    collect for the same windowed top-N used in agg_group_sample
    (rank <= N then collect), which this key's test pins as
    equivalent."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    return (
        o.select("o_orderpriority", cents.alias("cents"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("cents")), 1, GAS_K),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias(f"low{GAS_K}_cents_csv"),
        )
    )


GUA_MOD = 50  # groupUniqArray bucket modulus


@query(
    "agg_group_uniq_array",
    f"""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           array_to_string(
             list_transform(list_sort(list(DISTINCT user_id % {GUA_MOD})),
                            x -> CAST(x AS VARCHAR)),
             ',') AS buckets_csv
    FROM events
    GROUP BY event_type
    """,
)
def agg_group_uniq_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupUniqArray(x)`` — the distinct value SET per
    group (sorted csv so it hashes; set semantics make the value
    partition-order-independent, which is why CH documents it as safe
    where groupArray is not). Bucketed user ids (mod {GUA_MOD}) keep
    the per-group set bounded; the exact distinct user count rides
    along.

    Plan: collect_set is a partial-aggregable set union — map-side
    combine dedupes before the shuffle, so the exchange carries at
    most |group| × {GUA_MOD} elements regardless of row count."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", "user_id", (F.col("user_id") % GUA_MOD).alias("b"))
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("b")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("buckets_csv"),
        )
    )


# meanZTest population variances (cents^2) and 95% two-sided z quantile.
# CH's signature takes the variances as parameters — they are priors,
# not sample statistics; the z constant must be the same literal on
# both engines (it is irrational, so each engine computing its own
# quantile could drift a ulp).
MZT_VAR_X = 1.0e8
MZT_VAR_Y = 1.0e8
MZT_Z95 = 1.959963984540054


@query(
    "agg_meanztest",
    f"""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS DOUBLE) AS sum_cents
      FROM events
      WHERE event_type IN ('{{A}}', '{{B}}')
      GROUP BY event_type
    )
    SELECT CAST(x.n AS BIGINT) AS n_x, CAST(y.n AS BIGINT) AS n_y,
           x.sum_cents / x.n AS mean_x,
           y.sum_cents / y.n AS mean_y,
           ((x.sum_cents / x.n) - (y.sum_cents / y.n))
             / sqrt({MZT_VAR_X} / x.n + {MZT_VAR_Y} / y.n) AS z_stat,
           ((x.sum_cents / x.n) - (y.sum_cents / y.n))
             - {MZT_Z95} * sqrt({MZT_VAR_X} / x.n + {MZT_VAR_Y} / y.n) AS ci_lo,
           ((x.sum_cents / x.n) - (y.sum_cents / y.n))
             + {MZT_Z95} * sqrt({MZT_VAR_X} / x.n + {MZT_VAR_Y} / y.n) AS ci_hi
    FROM (SELECT * FROM s WHERE event_type = '{{A}}') x,
         (SELECT * FROM s WHERE event_type = '{{B}}') y
    """.replace("{A}", TT_GROUP_A).replace("{B}", TT_GROUP_B),
)
def agg_meanztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``meanZTest(pop_var_x, pop_var_y, conf)(sample, idx)``
    — the two-sample z statistic and confidence interval for a mean
    difference under KNOWN population variances (passed as parameters,
    exactly like CH's signature). Everything is exact int64 cent sums
    until one shared IEEE expression tree of +,-,*,/ and sqrt — all
    correctly-rounded operations, so the statistic hash-matches
    bit-for-bit (the `_util.two_group_moments` recipe; ln/exp never
    appear). The z quantile is a pinned literal for the same reason.

    Plan: ONE conditional aggregate over the scan, then a 1×1-row
    reshape — the cost is the scan itself."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TT_GROUP_A, TT_GROUP_B)
    )
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    s = (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("cents").cast("double").alias("sum_cents"),
        )
    )
    x = s.filter(F.col("event_type") == TT_GROUP_A).select(
        F.col("n").alias("nx"), F.col("sum_cents").alias("sx")
    )
    y = s.filter(F.col("event_type") == TT_GROUP_B).select(
        F.col("n").alias("ny"), F.col("sum_cents").alias("sy")
    )
    j = x.crossJoin(F.broadcast(y))
    mx = F.col("sx") / F.col("nx")
    my = F.col("sy") / F.col("ny")
    se = F.sqrt(
        F.lit(MZT_VAR_X) / F.col("nx") + F.lit(MZT_VAR_Y) / F.col("ny")
    )
    return j.select(
        F.col("nx").cast("bigint").alias("n_x"),
        F.col("ny").cast("bigint").alias("n_y"),
        mx.alias("mean_x"),
        my.alias("mean_y"),
        ((mx - my) / se).alias("z_stat"),
        ((mx - my) - F.lit(MZT_Z95) * se).alias("ci_lo"),
        ((mx - my) + F.lit(MZT_Z95) * se).alias("ci_hi"),
    )


# exact interpolated quantiles: q = num/den over these rationals
QIE_QS = [(1, 4), (2, 4), (3, 4)]


@query(
    "agg_quantile_interp_exact",
    f"""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY CAST(CAST(l_quantity AS DECIMAL(12,2))
                                              * 100 AS BIGINT)) AS rn
      FROM lineitem
    ),
    n AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY flag),
    qs AS (
      SELECT n.flag, n.n, q.num, q.den,
             ((n.n - 1) * q.num) // q.den AS idx0,
             ((n.n - 1) * q.num) % q.den AS rem
      FROM n CROSS JOIN (VALUES {", ".join(f"({a}, {b})" for a, b in QIE_QS)})
        AS q(num, den)
    )
    SELECT qs.flag, CAST(qs.num AS BIGINT) AS q_num,
           CAST(qs.den AS BIGINT) AS q_den,
           CAST(lo.cents * (qs.den - qs.rem)
                + COALESCE(hi.cents, lo.cents) * qs.rem AS BIGINT)
             AS val_num_cents,
           CAST(lo.cents * (qs.den - qs.rem)
                + COALESCE(hi.cents, lo.cents) * qs.rem AS DOUBLE)
             / (CAST(qs.den AS DOUBLE) * 100.0) AS quantile_value
    FROM qs
    JOIN v lo ON lo.flag = qs.flag AND lo.rn = qs.idx0 + 1
    LEFT JOIN v hi ON hi.flag = qs.flag AND hi.rn = qs.idx0 + 2
      AND qs.rem > 0
    """,
)
def agg_quantile_interp_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linearly-interpolated quantiles (the quantile_cont /
    CH ``quantileExactInclusive`` definition) computed DISTRIBUTED and
    in PURE INTEGER arithmetic: for q = num/den, position
    (n−1)·num = den·idx0 + rem, value·den = lo·(den−rem) + hi·rem —
    no float enters until the final display division, so the result
    hash-matches where a built-in's double interpolation could drift
    ulps (and the exact integer numerator is emitted alongside).

    Plan: one per-group sort (window row_number on the value), a
    6-row quantile-spec frame derived from group counts, and two
    sparse equi-joins that each select ONE ranked row per (group, q)
    — the sorted data never leaves executors and nothing is collected.
    At 100 TB the ranked CTE is the same sort-exchange a quantile
    aggregate needs anyway; the probe joins touch |groups|·|qs| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("bigint")
    v = li.select(F.col("l_returnflag").alias("flag"), cents.alias("cents"))
    w = Window.partitionBy("flag").orderBy("cents")
    ranked = v.select("flag", "cents", F.row_number().over(w).alias("rn"))
    n = v.groupBy("flag").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    q = spark.createDataFrame(QIE_QS, "num long, den long")
    qs = (
        n.crossJoin(F.broadcast(q))
        .select(
            "flag",
            "num",
            "den",
            F.expr("((n - 1) * num) div den").alias("idx0"),
            (((F.col("n") - 1) * F.col("num")) % F.col("den")).alias("rem"),
        )
    )
    lo = ranked.select(
        F.col("flag").alias("lflag"), F.col("cents").alias("lo_cents"),
        F.col("rn").alias("lrn"),
    )
    hi = ranked.select(
        F.col("flag").alias("hflag"), F.col("cents").alias("hi_cents"),
        F.col("rn").alias("hrn"),
    )
    joined = (
        qs.join(
            lo,
            (F.col("flag") == F.col("lflag")) & (F.col("lrn") == F.col("idx0") + 1),
        )
        .join(
            hi,
            (F.col("flag") == F.col("hflag"))
            & (F.col("hrn") == F.col("idx0") + 2)
            & (F.col("rem") > 0),
            "left",
        )
    )
    val_num = (
        F.col("lo_cents") * (F.col("den") - F.col("rem"))
        + F.coalesce("hi_cents", "lo_cents") * F.col("rem")
    ).cast("bigint")
    return joined.select(
        "flag",
        F.col("num").cast("bigint").alias("q_num"),
        F.col("den").cast("bigint").alias("q_den"),
        val_num.alias("val_num_cents"),
        (
            val_num.cast("double") / (F.col("den").cast("double") * F.lit(100.0))
        ).alias("quantile_value"),
    )


@query(
    "agg_bool_aggs",
    """
    SELECT event_type,
           bool_and(value > 1.0) AS all_above_1,
           bool_or(value > 400.0) AS any_above_400,
           CAST(count_if(value > 100.0) AS BIGINT) AS n_above_100,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def agg_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family — ``bool_and``/``bool_or``/``count_if``
    (ANSI every/any + CH countIf): the predicate-rollup trio used for
    data-quality assertions ("did EVERY row pass?", "did ANY row
    trip?", "how many?"). All three are partial-aggregable (AND/OR/
    count are associative-commutative), so map-side combine reduces
    each group to three scalars before the exchange; the predicate
    compares raw doubles to literals — no derived float arithmetic, so
    results are exact booleans/counts on both engines."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("bool_and(value > 1.0)").alias("all_above_1"),
        F.expr("bool_or(value > 400.0)").alias("any_above_400"),
        F.expr("count_if(value > 100.0)").cast("bigint").alias("n_above_100"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@query(
    "agg_mode_exact",
    """
    SELECT l_returnflag, mode_cents, mode_count
    FROM (
      SELECT l_returnflag,
             cents AS mode_cents,
             CAST(n AS BIGINT) AS mode_count,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, cents) AS rk
      FROM (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                 AS cents,
               COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2
      )
    ) WHERE rk = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group with a PINNED tie-break (highest count,
    then smallest value) — DuckDB's ``mode()`` and most engines leave
    ties implementation-defined, which can never hash-match, so the
    deterministic contract is the windowed form on both sides (the
    same discipline as dedup_by_key_latest). Plan: value-frequency
    hash aggregate (map-side combinable), then a per-group top-1
    window over the |distinct values| frame — Spark plans
    WindowGroupLimit, so only one candidate row per group survives
    each partial stage."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("bigint")
    freq = (
        li.select("l_returnflag", cents.alias("cents"))
        .groupBy("l_returnflag", "cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), "cents")
    return (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("cents").alias("mode_cents"),
            F.col("n").cast("bigint").alias("mode_count"),
        )
    )


@query(
    "agg_group_array_insert_at",
    """
    WITH e0 AS (
      SELECT l_orderkey,
             CAST(l_linenumber - 1 AS BIGINT) AS pos,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS val
      FROM lineitem
    ),
    e AS (
      SELECT l_orderkey, pos, MIN(val) AS val
      FROM e0 GROUP BY l_orderkey, pos
    ),
    g AS (
      SELECT l_orderkey,
             CAST(MAX(pos) AS BIGINT) AS mx,
             list(pos ORDER BY pos) AS poss,
             list(val ORDER BY pos) AS vals
      FROM e GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(mx + 1 AS BIGINT) AS size,
           array_to_string(
             list_transform(range(0, CAST(mx + 1 AS INT)),
                            i -> CAST(COALESCE(
                                   vals[list_position(poss, CAST(i AS BIGINT))],
                                   CAST(0 AS BIGINT)) AS VARCHAR)),
             ',') AS arr_csv
    FROM g
    """,
)
def agg_group_array_insert_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArrayInsertAt(default, size)(x, pos)`` — build
    a per-group array by PLACING each value at the position another
    column dictates, default-filling unseen slots (emitted as a csv
    string — the driver's hasher rejects array cells): here each
    order's quantity cents land at slot l_linenumber−1, gaps become 0, and a
    DUPLICATED position resolves to MIN(value) — CH itself picks an
    arbitrary winner there (non-deterministic by definition), so the
    pinned minimum is this engine's deterministic strengthening (the
    fixture does carry duplicate (order, linenumber) pairs).

    Plan: a (group, pos) pre-agg collapses duplicates map-side, then
    one hash agg per l_orderkey builds the (pos→val) map and a
    map-side sequence/transform reshapes it into the dense array — no
    window, no sort, two key-compatible exchanges; array length is
    bounded by the group's max position (≤7 lines/order here), so
    per-group state stays O(size) at any corpus scale."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.select(
            "l_orderkey",
            (F.col("l_linenumber") - 1).cast("bigint").alias("pos"),
            (F.col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("val"),
        )
        .groupBy("l_orderkey", "pos")
        .agg(F.min("val").alias("val"))
    )
    g = e.groupBy("l_orderkey").agg(
        F.max("pos").cast("bigint").alias("mx"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("pos", "val")))
        ).alias("m"),
    )
    return g.select(
        "l_orderkey",
        (F.col("mx") + 1).cast("bigint").alias("size"),
        F.concat_ws(
            ",",
            F.transform(
                F.sequence(F.lit(0).cast("bigint"), F.col("mx")),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i), F.lit(0).cast("bigint")
                ).cast("string"),
            ),
        ).alias("arr_csv"),
    )


@query(
    "agg_categorical_woe",
    """
    WITH g AS (
      SELECT o_orderpriority AS category,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_event,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_nonevent
      FROM orders GROUP BY o_orderpriority
    ),
    t AS (
      SELECT category, n_event, n_nonevent,
             CAST(SUM(n_event) OVER () AS BIGINT) AS t_event,
             CAST(SUM(n_nonevent) OVER () AS BIGINT) AS t_nonevent
      FROM g
    )
    SELECT category, n_event, n_nonevent,
           CAST(n_event AS DOUBLE) / NULLIF(t_event, 0) AS dist_event,
           CAST(n_nonevent AS DOUBLE) / NULLIF(t_nonevent, 0)
             AS dist_nonevent,
           CASE WHEN n_nonevent > 0 AND n_event > 0
                THEN (CAST(n_event AS DOUBLE) * CAST(t_nonevent AS DOUBLE))
                     / NULLIF(CAST(n_nonevent AS DOUBLE)
                              * CAST(t_event AS DOUBLE), 0)
           END AS woe_odds,
           CASE WHEN n_event + n_nonevent > 0
                THEN ((CAST(n_event AS DOUBLE) / NULLIF(t_event, 0))
                      - (CAST(n_nonevent AS DOUBLE) / NULLIF(t_nonevent, 0)))
                     * ((CAST(n_event AS DOUBLE) / NULLIF(t_event, 0))
                        - (CAST(n_nonevent AS DOUBLE)
                           / NULLIF(t_nonevent, 0)))
                     / NULLIF((CAST(n_event AS DOUBLE) / NULLIF(t_event, 0))
                        + (CAST(n_nonevent AS DOUBLE)
                           / NULLIF(t_nonevent, 0)), 0)
           END AS tri_divergence
    FROM t
    """,
)
def agg_categorical_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence category profiling — the credit-scoring /
    feature-engineering primitive: per category (order priority) vs a
    binary outcome (order fulfilled, ``o_orderstatus = 'F'``), the
    event/non-event distributions, the WoE ODDS RATIO
    (n_e·T_ne)/(n_ne·T_e) — the exact rational whose log is classic
    WoE; ln is monotone, so ranking/thresholding on the odds ratio is
    equivalent and hash-exact where raw ln drifts ulps cross-engine
    (the agg_entropy_gini finding) — and the triangular-discrimination
    contribution (d_e−d_ne)²/(d_e+d_ne), an f-divergence that plays
    Information Value's role as a pure rational. Every float is a
    fixed-shape expression over exact int64 counts.

    Plan: one hash agg onto |categories| rows, then window totals over
    that constant-size frame — a single reduce at any scale."""
    o = load_table(spark, sf_dir, "orders")
    is_f = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    g = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.sum(is_f).cast("bigint").alias("n_event"),
        F.sum(1 - is_f).cast("bigint").alias("n_nonevent"),
    )
    w = Window.partitionBy()
    t = g.select(
        "category",
        "n_event",
        "n_nonevent",
        F.sum("n_event").over(w).cast("bigint").alias("t_event"),
        F.sum("n_nonevent").over(w).cast("bigint").alias("t_nonevent"),
    )
    # nz: NULL on both engines when a class is globally absent
    # (ANSI throw otherwise) — see queries/_util.nz
    de = F.col("n_event").cast("double") / nz(F.col("t_event").cast("double"))
    dne = (F.col("n_nonevent").cast("double")
           / nz(F.col("t_nonevent").cast("double")))
    return t.select(
        "category",
        "n_event",
        "n_nonevent",
        de.alias("dist_event"),
        dne.alias("dist_nonevent"),
        F.when(
            (F.col("n_nonevent") > 0) & (F.col("n_event") > 0),
            (F.col("n_event").cast("double") * F.col("t_nonevent").cast("double"))
            / nz(
                F.col("n_nonevent").cast("double")
                * F.col("t_event").cast("double")
            ),
        ).alias("woe_odds"),
        F.when(
            F.col("n_event") + F.col("n_nonevent") > 0,
            (de - dne) * (de - dne) / nz(de + dne),
        ).alias("tri_divergence"),
    )


QT_QS = ((1, 2), (9, 10), (99, 100))  # quantileTiming levels: .5/.9/.99


@query(
    "agg_quantile_timing",
    f"""
    WITH ms AS (
      SELECT event_type,
             CAST(CASE
               WHEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) < 1024
                 THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               WHEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) <= 30000
                 THEN (CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 16)
                      * 16
               ELSE 30000 END AS BIGINT) AS b
      FROM events
    ),
    h AS (
      SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM ms GROUP BY event_type, b
    ),
    cum AS (
      SELECT event_type, b, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM h
    )
    SELECT event_type, {", ".join(
        "CAST(MIN(CASE WHEN cc * " + str(den) + " >= n * " + str(num)
        + " THEN b END) AS BIGINT) AS q" + str(num) + "_" + str(den)
        for num, den in QT_QS)}
    FROM cum GROUP BY event_type
    """,
)
def agg_quantile_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileTiming`` — the latency-quantile aggregate
    whose defining property (per the public docs) is DETERMINISM: the
    value domain is bucketed (exact 1 ms resolution below 1024 ms,
    16 ms buckets to 30 s, saturation at 30 000 ms) and the quantile
    is read off the bucket histogram by rank, so the answer never
    depends on processing order — the same property this engine needs
    for its hash gate, making the pair a natural fit. Levels .5/.9/.99
    via the nearest-rank rule cc·den ≥ n·num in pure int64
    cross-multiplication (event cents stand in for milliseconds).

    Plan: map-side bucketing, one (group, bucket) hash agg — the
    histogram is ≤ 1024 + 1812 buckets per group BY CONSTRUCTION
    (exact cells below 1024, then (30000−1024)/16 + 1 coarse cells
    and the saturation cell), the
    whole point of the Timing variant — then a constant-size window
    cumsum and conditional-min rank probes. At 100 TB the per-group
    state is the fixed histogram, exactly like CH's implementation."""
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    b = (
        F.when(cents < 1024, cents)
        .when(cents <= 30000, F.expr(
            "(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 16) * 16"
        ))
        .otherwise(F.lit(30000))
        .cast("bigint")
    )
    h = (
        e.select("event_type", b.alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = h.select(
        "event_type",
        "b",
        F.sum("c").over(w_cum).alias("cc"),
        F.sum("c").over(w_all).alias("n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("cc") * F.lit(den) >= F.col("n") * F.lit(num),
                F.col("b"),
            )
        )
        .cast("bigint")
        .alias(f"q{num}_{den}")
        for num, den in QT_QS
    ]
    return cum.groupBy("event_type").agg(*aggs)


@query(
    "agg_argmax_tuple",
    """
    WITH v AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT) DESC,
                        l_orderkey DESC, l_linenumber DESC) AS rn
      FROM lineitem
    )
    SELECT l_returnflag,
           cents AS max_cents,
           CAST(l_orderkey AS BIGINT) AS at_orderkey,
           CAST(l_linenumber AS BIGINT) AS at_linenumber
    FROM v WHERE rn = 1
    """,
)
def agg_argmax_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``argMax(tuple(...), x)`` — the WHOLE payload tuple
    of the row where x is maximal, per group: here the (orderkey,
    linenumber) coordinates of each return flag's priciest line item.
    Ties on the max value are resolved by the LARGEST (orderkey,
    linenumber) — pinned by making the argmax a single lexicographic
    ``MAX(struct(cents, orderkey, linenumber))``, which is what CH's
    arbitrary-tie argMax cannot promise. One struct-max aggregate —
    constant per-group state, map-side partials, one exchange (the
    oracle spells the same convention as a rank-1 window, the
    cross-engine-safe formulation).

    agg_argmax covers the scalar form; this is the multi-payload
    signature."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )
    g = li.groupBy("l_returnflag").agg(
        F.max(
            F.struct(
                cents.alias("cents"),
                F.col("l_orderkey").cast("bigint").alias("ok"),
                F.col("l_linenumber").cast("bigint").alias("ln"),
            )
        ).alias("m")
    )
    return g.select(
        "l_returnflag",
        F.col("m.cents").alias("max_cents"),
        F.col("m.ok").alias("at_orderkey"),
        F.col("m.ln").alias("at_linenumber"),
    )


@query("agg_uniq_combined")
def agg_uniq_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniqCombined`` — the default approximate
    distinct-count: Spark's ``approx_count_distinct`` (HyperLogLog++,
    rsd 1%) plays the role, reported per event_type NEXT TO the exact
    count and the relative error, so the report is self-auditing.
    ROWS-ONLY BY DESIGN: HLL++ register layouts differ between engines
    (Spark vs DuckDB produce different — both valid — estimates), so a
    value-hash oracle is definitionally impossible; the pytest gate
    bounds |approx − exact| / exact ≤ 0.05 for every group instead
    (agg_approx_distinct covers the plain approx form; this key is the
    CH-signature self-auditing report shape).

    Plan: both aggregates share one exchange; HLL state is the
    constant-size sketch that makes distinct counting affordable at
    100 TB (exact countDistinct re-shuffles raw values — fine at
    fixture scale, the sketch is the scale path)."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).cast("bigint").alias(
            "uniq_combined"
        ),
        F.countDistinct("user_id").cast("bigint").alias("uniq_exact"),
    )
    return g.select(
        "event_type",
        "uniq_combined",
        "uniq_exact",
        (
            F.abs(F.col("uniq_combined") - F.col("uniq_exact")).cast("double")
            / F.col("uniq_exact")
        ).alias("rel_err"),
    )


PZT_GROUP_X = "1-URGENT"
PZT_GROUP_Y = "5-LOW"


@query(
    "agg_proportions_ztest",
    f"""
    WITH s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS succ
      FROM orders
      WHERE o_orderpriority IN ('{PZT_GROUP_X}', '{PZT_GROUP_Y}')
      GROUP BY o_orderpriority
    )
    SELECT CAST(x.n AS BIGINT) AS n_x, CAST(y.n AS BIGINT) AS n_y,
           CAST(x.succ AS BIGINT) AS s_x, CAST(y.succ AS BIGINT) AS s_y,
           x.succ / x.n AS p_x,
           y.succ / y.n AS p_y,
           ((x.succ / x.n) - (y.succ / y.n))
             / sqrt(((x.succ + y.succ) / (x.n + y.n))
                    * (1.0 - (x.succ + y.succ) / (x.n + y.n))
                    * (1.0 / x.n + 1.0 / y.n)) AS z_stat,
           ((x.succ / x.n) - (y.succ / y.n))
             - {MZT_Z95} * sqrt((x.succ / x.n) * (1.0 - x.succ / x.n) / x.n
                    + (y.succ / y.n) * (1.0 - y.succ / y.n) / y.n) AS ci_lo,
           ((x.succ / x.n) - (y.succ / y.n))
             + {MZT_Z95} * sqrt((x.succ / x.n) * (1.0 - x.succ / x.n) / x.n
                    + (y.succ / y.n) * (1.0 - y.succ / y.n) / y.n) AS ci_hi
    FROM (SELECT * FROM s WHERE o_orderpriority = '{PZT_GROUP_X}') x,
         (SELECT * FROM s WHERE o_orderpriority = '{PZT_GROUP_Y}') y
    """,
)
def agg_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``proportionsZTest(sx, sy, nx, ny)`` — the two-sample
    proportion z test behind every conversion-rate A/B readout: do
    URGENT and LOW orders finalize ('F') at the same rate? Counts stay
    exact int64 through the aggregate; the statistic is one shared IEEE
    expression tree (+,-,*,/ and sqrt — all correctly rounded, the
    agg_meanztest recipe), with the POOLED variance in the z
    denominator and the UNPOOLED one in the CI, matching the CH
    implementation's convention. The p-value needs erf (engine-private
    transcendental) so the z statistic is the contract — CH users apply
    their own threshold, here the pinned 1.96 CI does it.

    Plan: ONE conditional aggregate over the scan + a 1×1-row
    reshape — the cost is the scan itself."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(PZT_GROUP_X, PZT_GROUP_Y)
    )
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("double")
        .alias("succ"),
    )
    x = s.filter(F.col("o_orderpriority") == PZT_GROUP_X).select(
        F.col("n").alias("nx"), F.col("succ").alias("sx")
    )
    y = s.filter(F.col("o_orderpriority") == PZT_GROUP_Y).select(
        F.col("n").alias("ny"), F.col("succ").alias("sy")
    )
    j = x.crossJoin(F.broadcast(y))
    px = F.col("sx") / F.col("nx")
    py = F.col("sy") / F.col("ny")
    pp = (F.col("sx") + F.col("sy")) / (F.col("nx") + F.col("ny"))
    se_pool = F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("nx") + F.lit(1.0) / F.col("ny"))
    )
    se_ci = F.sqrt(
        px * (F.lit(1.0) - px) / F.col("nx")
        + py * (F.lit(1.0) - py) / F.col("ny")
    )
    return j.select(
        F.col("nx").cast("bigint").alias("n_x"),
        F.col("ny").cast("bigint").alias("n_y"),
        F.col("sx").cast("bigint").alias("s_x"),
        F.col("sy").cast("bigint").alias("s_y"),
        px.alias("p_x"),
        py.alias("p_y"),
        ((px - py) / se_pool).alias("z_stat"),
        ((px - py) - F.lit(MZT_Z95) * se_ci).alias("ci_lo"),
        ((px - py) + F.lit(MZT_Z95) * se_ci).alias("ci_hi"),
    )


@query(
    "agg_group_array_intersect",
    """
    WITH day_types AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type
      FROM events GROUP BY 1, 2, 3
    ),
    days AS (
      SELECT user_id, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM day_types GROUP BY user_id
    ),
    everyday AS (
      SELECT dt.user_id, dt.event_type
      FROM day_types dt
      GROUP BY dt.user_id, dt.event_type
      HAVING COUNT(DISTINCT dt.day) = (SELECT n_days FROM days d
                                       WHERE d.user_id = dt.user_id)
    )
    SELECT d.user_id, d.n_days,
           COALESCE(e.n_common, 0) AS n_common,
           COALESCE(e.common_csv, '') AS common_csv
    FROM days d
    LEFT JOIN (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             array_to_string(list_sort(list(event_type)), ',') AS common_csv
      FROM everyday GROUP BY user_id
    ) e ON e.user_id = d.user_id
    """,
)
def agg_group_array_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArrayIntersect`` — the intersection of array
    values across a group's rows: here "which event types did this user
    touch on EVERY active day" (the habitual-behavior signal). The
    set-intersection aggregate decomposes relationally — distinct
    (user, day, type) triples, then types whose distinct-day count
    equals the user's day count — so no executor ever materializes a
    per-group set accumulator (the CH state object); emitted as the
    sorted CSV device (the agg_collect hasher lesson).

    Plan: TWO exchanges total — the (user, day, type) dedup aggregate,
    then one user_id exchange that all three window passes share
    ((user, day) / (user) / (user, type) are subpartitions, so
    Catalyst plans sorts, not re-shuffles) AND the final per-user
    aggregate reuses outright (its distribution is already satisfied —
    no exchange). The first draft of this key re-derived the triple
    frame per branch and joined the branches back: 7 static shuffles;
    the plan audit caught it."""
    e = load_table(spark, sf_dir, "events")
    triples = (
        e.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .groupBy("user_id", "day", "event_type")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )
    # ONE explicit user_id exchange: every window below partitions on a
    # user-prefixed key, and HashPartitioning(user) satisfies all of
    # them — without this, Catalyst plans a separate exchange per
    # window spec ((u,day), (u,type), (u)).
    triples = triples.repartition("user_id")
    w_day = Window.partitionBy("user_id", "day").orderBy("event_type")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("day")
    w_user = Window.partitionBy("user_id")
    w_ut = Window.partitionBy("user_id", "event_type")
    marked = triples.select(
        "user_id",
        "event_type",
        F.when(F.row_number().over(w_day) == 1, 1).otherwise(0).alias(
            "__first_of_day"
        ),
        F.when(F.row_number().over(w_type) == 1, 1).otherwise(0).alias(
            "__first_of_type"
        ),
        F.count(F.lit(1)).over(w_ut).cast("bigint").alias("__n_type_days"),
    ).withColumn(
        "__n_days",
        F.sum("__first_of_day").over(w_user).cast("bigint"),
    )
    is_common = F.col("__n_type_days") == F.col("__n_days")
    return marked.groupBy("user_id").agg(
        F.max("__n_days").alias("n_days"),
        F.sum(
            F.when(is_common & (F.col("__first_of_type") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_common"),
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.when(
                        is_common & (F.col("__first_of_type") == 1),
                        F.col("event_type"),
                    )
                )
            ),
            ",",
        ).alias("common_csv"),
    )


# agg_anova_oneway: the fixed event-type domain, in the pinned
# association order every float sum below uses on BOTH engines
ANOVA_GROUPS = ("click", "error", "purchase", "signup", "view")


def _anova_sql() -> str:
    """One-way ANOVA oracle generated from ANOVA_GROUPS: per-group
    exact moment sums (cents through DECIMAL(19,0), hugeint hi/lo
    split — the `_util.cents_moments` recipe), pivoted to NAMED
    scalars so every cross-group float sum is a FIXED left-associated
    expression — k-group SUM() over doubles would be aggregation-
    order-dependent and hash-unstable."""
    conds = [
        (
            g,
            f"CAST(COUNT(*) FILTER (WHERE event_type = '{g}') AS DOUBLE)",
            f"CAST(CAST(SUM(x) FILTER (WHERE event_type = '{g}')"
            " AS HUGEINT) AS DOUBLE)",
            f"CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0)))"
            f" FILTER (WHERE event_type = '{g}') AS HUGEINT)"
            " // 4294967296 AS BIGINT) AS DOUBLE) * 4294967296.0"
            f" + CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0)))"
            f" FILTER (WHERE event_type = '{g}') AS HUGEINT)"
            " % 4294967296 AS BIGINT) AS DOUBLE)",
        )
        for g in ANOVA_GROUPS
    ]
    sel = ",\n               ".join(
        f"{n} AS n_{g},\n               {s1} AS s1_{g},\n"
        f"               {s2} AS s2_{g}"
        for g, n, s1, s2 in conds
    )
    n_tot = " + ".join(f"n_{g}" for g in ANOVA_GROUPS)
    grand = " + ".join(f"s1_{g}" for g in ANOVA_GROUPS)
    tsum = " + ".join(
        f"(s1_{g} * s1_{g} / NULLIF(n_{g}, 0))" for g in ANOVA_GROUPS
    )
    s2sum = " + ".join(f"s2_{g}" for g in ANOVA_GROUPS)
    k = len(ANOVA_GROUPS)
    # NULLIF on every denominator (ADVICE r11): an empty group, an
    # empty table, or zero within-group variance must yield NULL on
    # BOTH engines — unguarded, ANSI Spark throws DIVIDE_BY_ZERO while
    # DuckDB quietly returns NULL, so the degenerate inputs the fixture
    # never exercises would crash one engine and hash-diverge the other.
    return f"""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(9,0)) AS x
        FROM events
    ),
    s AS (
        SELECT {sel}
        FROM q
    ),
    m AS (
        SELECT ({n_tot}) AS n_total, ({grand}) AS grand,
               ({tsum}) AS tsum, ({s2sum}) AS s2sum
        FROM s
    )
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(n_total AS BIGINT) AS n_total,
           tsum - grand * grand / NULLIF(n_total, 0) AS ss_between,
           s2sum - tsum AS ss_within,
           ((tsum - grand * grand / NULLIF(n_total, 0)) / {k - 1}.0)
             / NULLIF((s2sum - tsum) / NULLIF(n_total - {k}, 0), 0) AS f_stat
    FROM m
    """


@query("agg_anova_oneway", _anova_sql())
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic (Fisher, public literature; the
    k-group generalization completing the two-sample stats family:
    student/welch t, mann-whitney, meanztest) across the five event
    populations: does mean event value differ by type?

    Determinism contract: per-group moment sums are EXACT integers
    (`_util.cents_moments`: cents, squares staged through
    DECIMAL(19,0); hugeint hi/lo split), and every cross-group
    reduction is over NAMED per-group scalars in one pinned
    left-associated order on both engines — a k-group float SUM()
    would be aggregation-order-dependent. SSB = Σ s1_j²/n_j − G²/N and SSW = Σ s2_j − Σ s1_j²/n_j
    then share one IEEE expression tree, so the statistic (and both
    sums of squares) hash-match bit-for-bit. The p-value is
    deliberately NOT emitted (incomplete beta — no reproducible
    rounding on either engine); the statistic + dofs are the
    deterministic core, same policy as the t-test keys. Degenerate
    inputs (empty group, empty table, zero within-group variance)
    yield NULL identically on both engines — every denominator is
    NULLIF-guarded, so ANSI Spark cannot throw DIVIDE_BY_ZERO where
    DuckDB would quietly emit NULL (ADVICE r11).

    Plan: ONE partial+final hash aggregate over the scan (15
    conditional sums fold map-side like any other agg) + a 1-row
    reshape — the cost is the scan at any scale."""
    q = cents_moments(load_table(spark, sf_dir, "events"))

    def grp(g: str):
        c = F.col("event_type") == g
        return [
            F.count(F.when(c, F.lit(1))).cast("double").alias(f"n_{g}"),
            F.sum(F.when(c, F.col("x"))).alias(f"r1_{g}"),
            F.sum(F.when(c, F.col("x2"))).alias(f"r2_{g}"),
        ]

    aggs = [a for g in ANOVA_GROUPS for a in grp(g)]
    s = q.agg(*aggs)

    s = s.select(
        *[F.col(f"n_{g}") for g in ANOVA_GROUPS],
        *[hilo(f"r1_{g}").alias(f"s1_{g}") for g in ANOVA_GROUPS],
        *[hilo(f"r2_{g}").alias(f"s2_{g}") for g in ANOVA_GROUPS],
    )

    # nz() mirrors the oracle's NULLIF on every denominator (ADVICE
    # r11): empty group / empty table / zero within-variance → NULL on
    # both engines instead of an ANSI DIVIDE_BY_ZERO here and a quiet
    # NULL there. reduce(add) builds the oracle's left-associated
    # a + b + c tree.
    n_total = functools.reduce(operator.add, [F.col(f"n_{g}") for g in ANOVA_GROUPS])
    grand = functools.reduce(operator.add, [F.col(f"s1_{g}") for g in ANOVA_GROUPS])
    tsum = functools.reduce(
        operator.add,
        [F.col(f"s1_{g}") * F.col(f"s1_{g}") / nz(F.col(f"n_{g}"))
         for g in ANOVA_GROUPS],
    )
    s2sum = functools.reduce(operator.add, [F.col(f"s2_{g}") for g in ANOVA_GROUPS])
    k = len(ANOVA_GROUPS)
    ssb = tsum - grand * grand / nz(n_total)
    ssw = s2sum - tsum
    return s.select(
        F.lit(k).cast("bigint").alias("k"),
        n_total.cast("bigint").alias("n_total"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        ((ssb / F.lit(float(k - 1))) / nz(ssw / nz(n_total - k))).alias(
            "f_stat"
        ),
    )


def _kruskal_sql() -> str:
    """Kruskal-Wallis oracle generated from ANOVA_GROUPS: tie-averaged
    ranks doubled to stay integer on the bounded VALUE spine (the
    `_util.value_rank_spine` device), per-group doubled rank sums
    pivoted to NAMED scalars, hugeint hi/lo splits on every sum wider
    than 2^53, and one pinned left-associated float expression tree
    for H and the tie correction."""
    hilo = (
        "CAST(CAST(CAST({v} AS HUGEINT) // 4294967296 AS BIGINT) AS DOUBLE)"
        " * 4294967296.0"
        " + CAST(CAST(CAST({v} AS HUGEINT) % 4294967296 AS BIGINT) AS DOUBLE)"
    )
    # per-group n and rank sums both reduce over the value-level g⋈spine
    nsel = ",\n               ".join(
        f"CAST(SUM(CASE WHEN g.event_type = '{g}' THEN g.m ELSE 0 END)"
        f" AS DOUBLE) AS n_{g},\n               "
        + hilo.format(
            v=f"COALESCE(SUM(CASE WHEN g.event_type = '{g}' THEN"
            f" CAST(g.m AS HUGEINT) * (2 * sp.below + sp.mv + 1) END), 0)"
        )
        + f" AS r2_{g}"
        for g in ANOVA_GROUPS
    )
    n_tot = " + ".join(f"n_{g}" for g in ANOVA_GROUPS)
    # NULLIF on every denominator (ADVICE r11): degenerate inputs
    # (empty group / n<=1 / all-ties) → NULL on both engines instead of
    # an ANSI DIVIDE_BY_ZERO on the Spark side.
    tsum = " + ".join(
        f"((r2_{g} / 2) * (r2_{g} / 2) / NULLIF(n_{g}, 0))"
        for g in ANOVA_GROUPS
    )
    k = len(ANOVA_GROUPS)
    tie_d = hilo.format(v="(SELECT SUM(CAST(mv AS HUGEINT) * mv * mv - mv)"
                          " FROM vals)")
    return f"""
    WITH q AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    g AS (
        SELECT x, event_type, COUNT(*) AS m FROM q GROUP BY x, event_type
    ),
    vals AS (
        SELECT x, CAST(SUM(m) AS BIGINT) AS mv FROM g GROUP BY x
    ),
    spine AS (
        SELECT x, mv,
               SUM(mv) OVER (ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - mv AS below
        FROM vals
    ),
    s AS (
        SELECT {nsel},
               {tie_d} AS tie_sum
        FROM g JOIN spine sp ON g.x = sp.x
    ),
    m AS (
        SELECT ({n_tot}) AS nd, ({tsum}) AS tsum, tie_sum FROM s
    )
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(nd AS BIGINT) AS n_total,
           12.0 / NULLIF(nd * (nd + 1), 0) * tsum - 3 * (nd + 1) AS h_stat,
           1 - tie_sum / NULLIF(nd * nd * nd - nd, 0) AS tie_correction,
           (12.0 / NULLIF(nd * (nd + 1), 0) * tsum - 3 * (nd + 1))
             / NULLIF(1 - tie_sum / NULLIF(nd * nd * nd - nd, 0), 0)
             AS h_corrected
    FROM m
    """


@query("agg_kruskal_wallis", _kruskal_sql())
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952, public
    literature) across the five event populations — the rank-based
    (distribution-free) sibling of agg_anova_oneway, with the standard
    tie correction C = 1 − Σ(t³−t)/(N³−N).

    Determinism contract, layer by layer: tie-averaged ranks doubled
    to stay INTEGER on the bounded value spine
    (`_util.value_rank_spine`, shared with agg_mannwhitney_u — the
    spine is the cents domain, ≤49k rows at any data size, so no
    row-level global window exists in the plan); per-group
    doubled rank sums and the tie sum are exact integers summed
    through hugeint/decimal(38,0); every exact-but-wide sum crosses to
    float via the SAME hi/lo 2^32 split on both engines; and all
    cross-group reductions are pinned left-associated expressions over
    NAMED per-group scalars (the agg_anova_oneway rule). H, C, and
    H/C hash-match bit-for-bit. No chi-square p-value (no reproducible
    incomplete-gamma rounding) — same policy as every stats key.
    Degenerate inputs (empty group, n<=1, all values tied ⇒ C=0)
    yield NULL identically on both engines via NULLIF-guarded
    denominators (ADVICE r11).

    Plan: two value-keyed aggregates + the bounded-spine window + one
    equi-join + a 1-row reshape; the row count never touches an
    ordered window (`_util.value_rank_spine`)."""
    vals, joined = value_rank_spine(load_table(spark, sf_dir, "events"))
    # per-row doubled rank contribution WIDENED to decimal(38,0) before
    # the multiply/sum (ADVICE r11): the doubled rank sum is ~N(N+1),
    # which wraps int64 past N ≈ 3e9 rows — inside the 100 TB regime —
    # while decimal(38,0) holds to 1e38 (the oracle side accumulates
    # through HUGEINT the same way).
    r2 = F.col("m").cast("decimal(38,0)") * (
        2 * F.col("below") + F.col("mv") + 1
    )

    aggs = []
    for gname in ANOVA_GROUPS:
        cond = F.col("event_type") == gname
        aggs.append(
            F.sum(F.when(cond, F.col("m")).otherwise(0))
            .cast("double")
            .alias(f"n_{gname}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(cond, r2)), F.lit(0))
            .cast("decimal(38,0)")
            .alias(f"r2i_{gname}")
        )
    s = joined.agg(*aggs)
    tie = vals.agg(
        F.sum(
            (F.col("mv").cast("decimal(38,0)") * F.col("mv") * F.col("mv")
             - F.col("mv")).cast("decimal(38,0)")
        ).alias("tie_i")
    )
    s = s.crossJoin(tie)  # 1 row x 1 row
    s = s.select(
        *[F.col(f"n_{gname}") for gname in ANOVA_GROUPS],
        *[hilo(f"r2i_{gname}").alias(f"r2_{gname}")
          for gname in ANOVA_GROUPS],
        hilo("tie_i").alias("tie_sum"),
    )

    # nz() mirrors the oracle's NULLIF guards (ADVICE r11): degenerate
    # inputs (empty group / n<=1 / all-ties ⇒ C=0) → NULL on both
    # engines instead of an ANSI DIVIDE_BY_ZERO here. reduce(add) builds
    # the oracle's left-associated a + b + c tree.
    nd = functools.reduce(
        operator.add, [F.col(f"n_{gname}") for gname in ANOVA_GROUPS]
    )
    tsum = functools.reduce(
        operator.add,
        [
            (F.col(f"r2_{gname}") / 2) * (F.col(f"r2_{gname}") / 2)
            / nz(F.col(f"n_{gname}"))
            for gname in ANOVA_GROUPS
        ],
    )
    k = len(ANOVA_GROUPS)
    h = F.lit(12.0) / nz(nd * (nd + 1)) * tsum - 3 * (nd + 1)
    c = F.lit(1) - F.col("tie_sum") / nz(nd * nd * nd - nd)
    return s.select(
        F.lit(k).cast("bigint").alias("k"),
        nd.cast("bigint").alias("n_total"),
        h.alias("h_stat"),
        c.alias("tie_correction"),
        (h / nz(c)).alias("h_corrected"),
    )


# agg_min_sample_size: A/B-test power-analysis constants.
# MSS_C = (z_{1-alpha/2} + z_{power})^2 for alpha=0.05, power=0.8 —
# the standard normal quantiles as exact double literals, squared
# once offline so both engines consume ONE shared constant.
MSS_C = 7.848879734349091
MSS_MDE_REL = 0.05   # continuous: detect a 5% relative shift in mean
MSS_MDE_ABS = 0.02   # conversion: detect a 2-point absolute shift


@query(
    "agg_min_sample_size",
    f"""
    WITH q AS (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                  AS DECIMAL(10,0)) AS x,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS conv
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    s AS (
      SELECT segment,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS s1,
             CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(21,0))) AS HUGEINT)
                       // 4294967296 AS BIGINT) AS DOUBLE) * 4294967296.0
               + CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(21,0))) AS HUGEINT)
                           % 4294967296 AS BIGINT) AS DOUBLE) AS s2,
             CAST(SUM(conv) AS DOUBLE) AS cf
      FROM q GROUP BY segment
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n,
           s1 / n AS mean_cents,
           cf / n AS conv_rate,
           CAST(CEIL({MSS_C} * 2.0
                 * (GREATEST(0.0, (s2 / n - (s1 / n) * (s1 / n))
                                  * n / NULLIF(n - 1, 0)))
                 / (({MSS_MDE_REL} * (s1 / n)) * ({MSS_MDE_REL} * (s1 / n))))
             AS BIGINT) AS n_req_continuous,
           CAST(CEIL({MSS_C}
                 * ((cf / n) * (1.0 - cf / n)
                    + (cf / n + {MSS_MDE_ABS})
                      * (1.0 - (cf / n + {MSS_MDE_ABS})))
                 / 0.0004)
             AS BIGINT) AS n_req_conversion
    FROM s
    """,
)
def agg_min_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``minSampleSizeContinuous`` / ``minSampleSizeConversion`` —
    A/B-test POWER ANALYSIS as an aggregate: per market segment, the
    minimum per-variant sample size to detect (α=0.05, power=0.8) a
    {MSS_MDE_REL:.0%} relative shift in mean order value (continuous:
    n = (z₁₋α/₂+z_pow)²·2σ²/(mde·μ)², the two-sample means formula)
    and a {MSS_MDE_ABS:.0%}-point absolute shift in the 'F'-status
    rate (conversion: the two-proportion formula with
    p₂ = p₁ + mde). The z-quantile combination is ONE shared double
    literal (MSS_C) computed offline, so neither engine evaluates a
    normal quantile at runtime.

    Hash-exactness is the `_util.two_group_moments` recipe end to end: moments
    stay exact integers (cents through DECIMAL(10,0), squares staged
    via DECIMAL(21,0), the wide sum split hi/lo at 2³² before the
    double cast), then one IDENTICAL IEEE expression tree on both
    engines for mean, sample variance, and both sample-size formulas
    — bit-for-bit including the CEIL.

    Plan/scale: one broadcast-dim join (customer segment onto orders)
    + one 5-group aggregate — the cost is the scan; the power math is
    5 rows of arithmetic. This is the aggregate every experimentation
    platform runs over yesterday's data to size today's test."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
        "decimal(10,0)"
    )
    q = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        x.alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("conv"),
    )
    x2 = (F.col("x") * F.col("x")).cast("decimal(21,0)")

    s = (
        q.select("segment", "x", x2.alias("x2"), "conv")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").alias("r1"),
            F.sum("x2").alias("r2"),
            F.sum("conv").cast("double").alias("cf"),
        )
        .select(
            "segment",
            "n",
            hilo("r1").alias("s1"),
            hilo("r2").alias("s2"),
            "cf",
        )
    )
    n, s1, s2, cf = (F.col(c_) for c_ in ("n", "s1", "s2", "cf"))
    mean = s1 / n
    var = pos((s2 / n - (s1 / n) * (s1 / n)) * n / nz(n - 1))
    p = cf / n
    p2 = cf / n + F.lit(MSS_MDE_ABS)
    return s.select(
        "segment",
        n.cast("bigint").alias("n"),
        mean.alias("mean_cents"),
        p.alias("conv_rate"),
        F.ceil(
            F.lit(MSS_C) * F.lit(2.0) * var
            / ((F.lit(MSS_MDE_REL) * (s1 / n)) * (F.lit(MSS_MDE_REL) * (s1 / n)))
        ).cast("bigint").alias("n_req_continuous"),
        F.ceil(
            F.lit(MSS_C)
            * (p * (F.lit(1.0) - p) + p2 * (F.lit(1.0) - p2))
            / F.lit(0.0004)
        ).cast("bigint").alias("n_req_conversion"),
    )

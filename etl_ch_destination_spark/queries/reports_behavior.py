"""SURVEY §2.12 extension — behavioral/product-analytics composed
reports over the events stream (the ClickHouse-for-analytics workload
class: cohort retention matrices).

Determinism: all outputs are integer counts over integer month
indexes (year*12 + month) — no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_ch_destination_spark.catalog import load_table
from etl_ch_destination_spark.queries._util import hilo, nz, pos
from etl_ch_destination_spark.registry import query


@query(
    "rpt_cohort_retention",
    """
    WITH act AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events
    ),
    coh AS (
        SELECT user_id, d,
               MIN(d) OVER (PARTITION BY user_id) AS cohort_d
        FROM act
    )
    SELECT CAST(DATE '1970-01-01' + to_days(CAST(cohort_d AS INT)) AS DATE) AS cohort_day,
           CAST(d - cohort_d AS INT) AS days_since,
           COUNT(*) AS n_users
    FROM coh
    GROUP BY cohort_d, d
    """,
)
def rpt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity DAY,
    counted on every day they return — the canonical product-analytics
    retention triangle (day granularity because the events fixture
    spans one month; the month form is the same plan). The day index
    is integer days-since-epoch, so cohort assignment and offsets are
    exact; the label column converts back to a DATE.

    Plan: distinct (user, day) — one exchange whose output feeds BOTH
    the per-user MIN window (cohort assignment — Catalyst keeps it on
    the user-hash partitioning, no second shuffle of the same data)
    and the final (cohort, day) count. Collapsing to user-day rows
    BEFORE any wide state is the only viable layout at 100 TB of raw
    events; COUNT(*) downstream is correct because rows are already
    user-unique within (cohort_d, d)."""
    e = load_table(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d")
    ).distinct()
    coh = act.select(
        "user_id",
        "d",
        F.min("d").over(Window.partitionBy("user_id")).alias("cohort_d"),
    )
    return (
        coh.groupBy("cohort_d", "d")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("cohort_d").cast("int")).alias(
                "cohort_day"
            ),
            (F.col("d") - F.col("cohort_d")).cast("int").alias("days_since"),
            "n_users",
        )
    )


def _dedup_audit_oracle() -> str:
    # Compose the registered llm_dedup_near oracle verbatim so the
    # audit's near-dup notion can never drift from the standalone key.
    from etl_ch_destination_spark.registry import ORACLES

    near = ORACLES["llm_dedup_near"]
    return f"""
    WITH pair_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id_a AS doc_id FROM ({near})
            UNION ALL
            SELECT id_b AS doc_id FROM ({near})
        )
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT md5(d.text)) AS BIGINT) AS n_unique_texts,
           COUNT(*) - COUNT(DISTINCT md5(d.text)) AS n_exact_extra,
           CAST(SUM(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_neardup_docs,
           CAST(SUM(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS neardup_rate
    FROM documents d LEFT JOIN pair_docs p ON d.doc_id = p.doc_id
    GROUP BY d.source
    """


@query("rpt_dedup_audit", _dedup_audit_oracle())
def rpt_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication audit — the go/no-go report a curation
    run produces before committing a training mixture: how many docs,
    how many DISTINCT texts (exact-dup overhead), and how many docs
    participate in at least one MinHash near-duplicate pair. The
    near-dup notion is EXACTLY the llm_dedup_near operator (same
    shingles, permutations, band join, Jaccard cut — the oracle embeds
    that key's SQL verbatim, the Spark side calls the same
    ops/neardup.near_duplicate_pairs), so this report is a true
    composition, not a re-implementation.

    Plan: the banded pair generation dominates (see llm_dedup_near);
    the audit adds one distinct over pair endpoints, a left semi-ish
    join back to the doc scan, and a per-source aggregate. Bucketed
    end to end — no all-pairs stage anywhere."""
    from etl_ch_destination_spark.ops.neardup import near_duplicate_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = near_duplicate_pairs(d, max_jaccard_distance=0.8)
    pair_docs = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("in_pair", F.lit(1))
    )
    joined = d.join(pair_docs, "doc_id", "left")
    near = F.sum(F.when(F.col("in_pair").isNotNull(), 1).otherwise(0)).cast("bigint")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_extra"),
        near.alias("n_neardup_docs"),
        (near.cast("double") / F.count(F.lit(1))).alias("neardup_rate"),
    )


SEQ_BASE_EVENT = "view"


@query(
    "seq_next_node",
    f"""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type,
               lead(event_type) OVER w AS next_type,
               lead(event_id) OVER w AS next_event_id,
               CAST(floor(epoch_us(lead(ts) OVER w) / 1000000)
                    - floor(epoch_us(ts) / 1000000) AS BIGINT) AS gap_sec,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS rn_of_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS anchor_event_id, next_type,
           next_event_id, gap_sec
    FROM seq
    WHERE event_type = '{SEQ_BASE_EVENT}' AND rn_of_type = 1
    """,
)
def seq_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH `sequenceNextNode` — for each user, the event that
    IMMEDIATELY follows the first occurrence of a base event type
    ('view'), the where-do-users-go-next primitive behind funnel
    exploration. NULL next_* columns mean the anchor was the user's
    last event.

    One lead() pass over the per-user event sequence (ts, event_id
    total order) plus a per-(user, type) rank to pick the FIRST
    anchor; both engines run the identical two windows over the same
    user_id partition — one shuffle, reused by both window specs and
    deterministic under the unique event_id tiebreak. Gap seconds are
    whole-second integer math on exact epoch micros."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    secs = F.floor(F.unix_micros("ts") / F.lit(1_000_000))
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (F.lead(secs).over(w) - secs).cast("bigint").alias("gap_sec"),
        F.row_number().over(w_type).alias("rn_of_type"),
    )
    return (
        seq.filter(
            (F.col("event_type") == SEQ_BASE_EVENT) & (F.col("rn_of_type") == 1)
        )
        .select(
            "user_id",
            F.col("event_id").alias("anchor_event_id"),
            "next_type",
            "next_event_id",
            "gap_sec",
        )
    )


PEAK_SLOT_SEC = 1800


@query(
    "rpt_peak_concurrency",
    f"""
    WITH iv AS (
        SELECT event_id, event_type,
               CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS s,
               CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
                 + event_id % 600 + 60 AS e
        FROM events
    ),
    slots AS (
        SELECT event_type, slot
        FROM iv, unnest(range(s // {PEAK_SLOT_SEC},
                              (e - 1) // {PEAK_SLOT_SEC} + 1)) AS u(slot)
    ),
    per_slot AS (
        SELECT event_type, slot, COUNT(*) AS n_live
        FROM slots GROUP BY event_type, slot
    ),
    ranked AS (
        SELECT event_type, slot, n_live,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n_live DESC, slot) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n_slots_used
        FROM per_slot
    )
    SELECT event_type,
           CAST(n_live AS BIGINT) AS peak_live,
           make_timestamp(slot * {PEAK_SLOT_SEC} * 1000000) AS peak_slot,
           CAST(n_slots_used AS BIGINT) AS n_slots_used
    FROM ranked WHERE rk = 1
    """,
)
def rpt_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak slot load per event type — the capacity-planning report
    composing the date_time_slots fan-out with the
    agg_interval_length_sum interval derivation: explode each event's
    active interval onto the 30-min grid, count live intervals per
    (type, slot), report each type's busiest slot (earliest on ties).
    Slot-granular concurrency is the planner's number: it bounds true
    instantaneous concurrency within one slot width.

    Plan: map-side bounded explode (≤2 slots per 60-659 s interval) →
    (type, slot) partial+final count → per-type top-1 as a
    WindowGroupLimit over the tiny per-slot frame. Two shuffles, both
    on post-aggregation cardinalities."""
    ev = load_table(spark, sf_dir, "events")
    s = F.floor(F.unix_micros("ts") / F.lit(1_000_000)).cast("long")
    iv = ev.select(
        "event_id",
        "event_type",
        s.alias("s"),
        (s + F.col("event_id") % 600 + 60).alias("e"),
    )
    slots = iv.select(
        "event_type",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / PEAK_SLOT_SEC).cast("long"),
                F.floor((F.col("e") - 1) / PEAK_SLOT_SEC).cast("long"),
            )
        ).alias("slot"),
    )
    per_slot = slots.groupBy("event_type", "slot").agg(
        F.count(F.lit(1)).alias("n_live")
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.col("n_live").desc(), "slot"
    )
    w_all = Window.partitionBy("event_type")
    ranked = per_slot.select(
        "event_type",
        "slot",
        "n_live",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_slots_used"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("n_live").cast("bigint").alias("peak_live"),
        F.timestamp_micros(
            F.col("slot") * PEAK_SLOT_SEC * 1_000_000
        ).alias("peak_slot"),
        F.col("n_slots_used").cast("bigint").alias("n_slots_used"),
    )


@query(
    "rpt_conversion_lag",
    """
    WITH e AS (
        SELECT user_id, event_type, event_id,
               CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS s
        FROM events
    ),
    v AS (
        SELECT user_id, MIN(s) AS first_view
        FROM e WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.s) AS first_purchase_after
        FROM e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.s >= v.first_view
        GROUP BY e.user_id
    )
    SELECT v.user_id,
           v.first_view,
           p.first_purchase_after,
           p.first_purchase_after - v.first_view AS lag_sec,
           CAST(p.user_id IS NOT NULL AS BOOLEAN) AS converted
    FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def rpt_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert — for every user with a 'view', the seconds
    from their FIRST view to their first purchase AT-OR-AFTER it
    (NULL lag = viewed, never converted). The product-analytics
    number behind conversion SLAs, sitting next to agg_window_funnel
    (step reach) and agg_retention (day-wise return): funnel DEPTH
    there, funnel LATENCY here. Whole-second integer epochs; the >=
    anchor makes a same-second view+purchase count as converted.

    Plan: two per-user min-aggregates (partial+final) and two
    user_id-keyed joins — all four exchanges on the same key, so AQE
    reuses the partitioning; no window needed at all. Scales as the
    standard per-entity funnel shape."""
    ev = load_table(spark, sf_dir, "events")
    s = F.floor(F.unix_micros("ts") / F.lit(1_000_000)).cast("long")
    e = ev.select("user_id", "event_type", s.alias("s"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("s").alias("first_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("s") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("s").alias("first_purchase_after"))
    )
    return v.join(p, "user_id", "left").select(
        "user_id",
        "first_view",
        "first_purchase_after",
        (F.col("first_purchase_after") - F.col("first_view")).alias("lag_sec"),
        F.col("first_purchase_after").isNotNull().alias("converted"),
    )


PATH_STEPS = 5


@query(
    "rpt_user_paths",
    f"""
    WITH o AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               array_to_string(list(substr(event_type, 1, 1) ORDER BY rn), '>')
                 AS path
        FROM o WHERE rn <= {PATH_STEPS}
        GROUP BY user_id
    )
    SELECT path,
           COUNT(*) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM paths GROUP BY path
    """,
)
def rpt_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path analysis — each user's first five event-type
    initials joined into a path signature ('v>c>p>v>c'), counted
    across users: the CH `groupArray`-based journey histogram behind
    every "what do users do first" sankey. Order is pinned by the
    (ts, event_id) tiebreak; Spark sorts the collected (rn, step)
    structs before joining (collect_list arrival order is not
    deterministic), DuckDB uses list(... ORDER BY rn).

    Plan: one shuffle on user_id (row_number + the per-user collect),
    then a path-keyed count whose cardinality is bounded by 5^5
    type sequences — tiny at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("step"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= PATH_STEPS)
    path = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "step"))),
            lambda s: s["step"],
        ),
        ">",
    )
    paths = o.groupBy("user_id").agg(path.alias("path"))
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").cast("bigint").alias("sample_user"),
    )


WAU_DAYS = 7
MAU_DAYS = 30


@query(
    "rpt_active_users",
    f"""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
    spine AS (
        SELECT CAST(u.d AS DATE) AS day
        FROM bounds, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)
    ),
    dau AS (
        SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
    ),
    cov AS (
        SELECT user_id, covered, MIN(o) AS min_o FROM (
            SELECT user_id, CAST(day + INTERVAL (o) DAY AS DATE) AS covered, o
            FROM ud, unnest(range(0, {MAU_DAYS})) AS t(o)
        ) GROUP BY user_id, covered
    ),
    roll AS (
        SELECT covered,
               CAST(SUM(CASE WHEN min_o < {WAU_DAYS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS wau,
               COUNT(*) AS mau
        FROM cov GROUP BY covered
    )
    SELECT s.day,
           CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
           CAST(COALESCE(r.wau, 0) AS BIGINT) AS wau,
           CAST(COALESCE(r.mau, 0) AS BIGINT) AS mau
    FROM spine s
    LEFT JOIN dau d ON s.day = d.day
    LEFT JOIN roll r ON s.day = r.covered
    """,
)
def rpt_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU — daily actives plus trailing 7- and 30-day
    ROLLING DISTINCT users, the engagement report every product team
    runs. Rolling COUNT DISTINCT has no window form; the scale-safe
    exact recast is the coverage fan-out: dedupe to (user, day) FIRST
    (the only corpus-sized reduction), then each user-day covers the
    next 30 report days ONCE, keeping the smallest offset — WAU
    membership is just min_offset < 7, so one fan-out + one
    (user, covered) aggregate serves BOTH trailing windows. Fan-out is
    30× of USER-DAYS (already tiny relative to events), never of raw
    rows; the day spine zero-fills silent days.

    Plan: one distinct on (user, day), ONE bounded explode + two
    aggregates for both windows, two spine-sized joins. The approximate alternative
    at extreme user counts is agg_sketch_state's mergeable HLL
    partials — same coverage trick, constant-size state."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    cov = (
        ud.select(
            "user_id",
            F.posexplode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), MAU_DAYS - 1))
            ).alias("o", "covered"),
        )
        .groupBy("user_id", "covered")
        .agg(F.min("o").alias("min_o"))
    )
    roll = cov.groupBy("covered").agg(
        F.sum(F.when(F.col("min_o") < WAU_DAYS, 1).otherwise(0))
        .cast("bigint")
        .alias("wau"),
        F.count(F.lit(1)).alias("mau"),
    )
    return (
        spine.join(dau, "day", "left")
        .join(roll, spine.day == roll.covered, "left")
        .drop(roll.covered)
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("bigint").alias("wau"),
            F.coalesce("mau", F.lit(0)).cast("bigint").alias("mau"),
        )
    )


@query(
    "rpt_brand_affinity",
    """
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM ob),
    brand_n AS (
        SELECT p_brand, COUNT(*) AS n_b FROM ob GROUP BY p_brand
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_pair
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.n_pair,
           na.n_b AS n_a, nb.n_b AS n_b,
           CAST(p.n_pair AS DOUBLE) * (SELECT n FROM n_orders)
             / (na.n_b * nb.n_b) AS lift
    FROM pairs p
    JOIN brand_n na ON p.brand_a = na.p_brand
    JOIN brand_n nb ON p.brand_b = nb.p_brand
    """,
)
def rpt_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence — brand pairs ordered together,
    with support counts and LIFT (P(a,b)/(P(a)·P(b)), computed as one
    double expression over exact integer counts). The association
    shape behind "frequently bought together".

    Scale shape: the pair generator is a SELF EQUI-JOIN on the order
    key of the (order, brand) DISTINCT projection — candidates are
    co-ordered brands only, never a brand×brand cartesian, and the
    per-order fan-out is bounded by basket size (|lines| per order,
    ~4 here). Dims broadcast; the distinct + pair count are the two
    real exchanges. The same plan serves item-item co-occurrence at
    100 TB (the pair-count reduce side is |brand|² bounded)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.select("l_orderkey").distinct().count()
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n_b").alias("n_a")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n_b").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            "n_a",
            "n_b",
            (
                F.col("n_pair").cast("double")
                * F.lit(n_orders)
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


@query(
    "rpt_dedup_cluster_sizes",
    """
    WITH cl AS (
      SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY md5(text)
    ),
    hist AS (
      SELECT sz AS cluster_size,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(sz * COUNT(*) AS BIGINT) AS n_docs
      FROM cl GROUP BY sz
    ),
    total AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM hist)
    SELECT cluster_size, n_clusters, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(t.total_docs AS DOUBLE) AS frac_docs
    FROM hist CROSS JOIN total t
    """,
)
def rpt_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram — the curation report
    behind every dedup decision ("how much of the corpus is in
    2-copies vs 100-copies clusters?"), the companion to
    rpt_dedup_audit's per-source view. Plan: md5 hash agg (corpus-
    sized exchange), then a |distinct sizes|-sized agg and a 1-row
    broadcast for the fraction — integer counts, one final IEEE
    division."""
    d = load_table(spark, sf_dir, "documents")
    cl = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    hist = cl.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("sz") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )
    total = hist.agg(F.sum("n_docs").cast("bigint").alias("total_docs"))
    return hist.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("total_docs").cast("double")).alias(
            "frac_docs"
        ),
    )


@query(
    "rpt_column_profile",
    """
    WITH m AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_key,
             CAST(MIN(o_orderkey) AS VARCHAR) AS min_key,
             CAST(MAX(o_orderkey) AS VARCHAR) AS max_key,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
             CAST(MIN(o_custkey) AS VARCHAR) AS min_cust,
             CAST(MAX(o_custkey) AS VARCHAR) AS max_cust,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_st,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_st,
             MIN(o_orderstatus) AS min_st,
             MAX(o_orderstatus) AS max_st,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_tp,
             CAST(COUNT(DISTINCT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS nd_tp,
             CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS VARCHAR) AS min_tp,
             CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS VARCHAR) AS max_tp,
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_dt,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd_dt,
             strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_dt,
             strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_dt,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pr,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_pr,
             MIN(o_orderpriority) AS min_pr,
             MAX(o_orderpriority) AS max_pr
      FROM orders
    )
    SELECT 'o_orderkey' AS column_name, n_rows, null_key AS n_null,
           nd_key AS n_distinct, min_key AS min_repr, max_key AS max_repr FROM m
    UNION ALL SELECT 'o_custkey', n_rows, null_cust, nd_cust, min_cust, max_cust FROM m
    UNION ALL SELECT 'o_orderstatus', n_rows, null_st, nd_st, min_st, max_st FROM m
    UNION ALL SELECT 'o_totalprice_cents', n_rows, null_tp, nd_tp, min_tp, max_tp FROM m
    UNION ALL SELECT 'o_orderdate', n_rows, null_dt, nd_dt, min_dt, max_dt FROM m
    UNION ALL SELECT 'o_orderpriority', n_rows, null_pr, nd_pr, min_pr, max_pr FROM m
    """,
)
def rpt_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling report — per column: row count, nulls, exact
    distinct count, and min/max rendered through drift-proof
    representations (numerics as exact cent/int strings, dates as ISO
    — never float formatting, which differs between the JVM and C).
    The first thing an ETL engineer runs against a new source; CH's
    ``DESCRIBE`` + per-column ``uniqExact``/``min``/``max`` rollup in
    one pass.

    Plan: ONE aggregate computes every column's metrics in a single
    scan (count_distinct per column partial-aggregates per group-less
    agg), then a 6-row literal unpivot — the long-form reshape touches
    one row. At 100 TB: same single scan; swap exact distinct for
    approx_count_distinct when the profile is advisory."""
    o = load_table(spark, sf_dir, "orders")
    tp_cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )

    def null_count(c):
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint")

    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        null_count("o_orderkey").alias("null_key"),
        F.countDistinct("o_orderkey").cast("bigint").alias("nd_key"),
        F.min("o_orderkey").cast("string").alias("min_key"),
        F.max("o_orderkey").cast("string").alias("max_key"),
        null_count("o_custkey").alias("null_cust"),
        F.countDistinct("o_custkey").cast("bigint").alias("nd_cust"),
        F.min("o_custkey").cast("string").alias("min_cust"),
        F.max("o_custkey").cast("string").alias("max_cust"),
        null_count("o_orderstatus").alias("null_st"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("nd_st"),
        F.min("o_orderstatus").alias("min_st"),
        F.max("o_orderstatus").alias("max_st"),
        null_count("o_totalprice").alias("null_tp"),
        F.countDistinct(tp_cents).cast("bigint").alias("nd_tp"),
        F.min(tp_cents).cast("string").alias("min_tp"),
        F.max(tp_cents).cast("string").alias("max_tp"),
        null_count("o_orderdate").alias("null_dt"),
        F.countDistinct("o_orderdate").cast("bigint").alias("nd_dt"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_dt"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_dt"),
        null_count("o_orderpriority").alias("null_pr"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("nd_pr"),
        F.min("o_orderpriority").alias("min_pr"),
        F.max("o_orderpriority").alias("max_pr"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"null_{tag}").alias("n_null"),
                F.col(f"nd_{tag}").alias("n_distinct"),
                F.col(f"min_{tag}").alias("min_repr"),
                F.col(f"max_{tag}").alias("max_repr"),
            )
            for name, tag in [
                ("o_orderkey", "key"),
                ("o_custkey", "cust"),
                ("o_orderstatus", "st"),
                ("o_totalprice_cents", "tp"),
                ("o_orderdate", "dt"),
                ("o_orderpriority", "pr"),
            ]
        ]
    )
    return m.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "rpt_fk_integrity",
    """
    SELECT 'lineitem->orders' AS relation,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child_rows
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'orders-childless',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_orderkey = o.o_orderkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    """,
)
def rpt_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphaned children (lineitems
    whose order vanished, orders whose customer vanished) and
    childless parents (orders with no lines), as the data-quality
    gate every warehouse load runs before publishing. The oracle
    states it as NOT EXISTS; Spark plans each check as a LEFT ANTI
    hash join (the decorrelated form) feeding a 1-row count, and the
    three audits union into the long-form report.

    Scale: anti joins shuffle on the FK being audited (their natural
    key); the count aggregates are partial. At 100 TB this is the
    same plan; AQE broadcasts the smaller side where it fits."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def audit(name, child, parent, ck, pk):
        """One fully-lazy audit row: anti-join orphan count × total —
        no driver-side collect; the three rows union into one plan."""
        orphans = (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        total = child.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows")
        )
        return orphans.crossJoin(total).select(
            F.lit(name).alias("relation"), "n_orphans", "n_child_rows"
        )

    return (
        audit("lineitem->orders", li.select("l_orderkey"),
              o.select("o_orderkey"), "l_orderkey", "o_orderkey")
        .unionByName(
            audit("orders->customer", o.select("o_custkey"),
                  c.select("c_custkey"), "o_custkey", "c_custkey")
        )
        .unionByName(
            audit("orders-childless", o.select("o_orderkey"),
                  li.select("l_orderkey").distinct(), "o_orderkey",
                  "l_orderkey")
        )
    )


ATTR_WINDOW_S = 7 * 86400  # attribution lookback (seconds)


@query(
    "rpt_attribution",
    f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
             CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_tus
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    scored AS (
      SELECT event_id, user_id, event_type, tus,
             MIN(view_tus) OVER w AS first_touch_us,
             MAX(view_tus) OVER w AS last_touch_us,
             COUNT(view_tus) OVER w AS n_views_window
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY tus
                   RANGE BETWEEN {ATTR_WINDOW_S * 1_000_000} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           first_touch_us, last_touch_us,
           CAST(n_views_window AS BIGINT) AS n_views_window,
           (tus - last_touch_us) // 1000000 AS last_touch_lag_s
    FROM scored WHERE event_type = 'purchase'
    """,
)
def rpt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution — for every purchase, the FIRST-touch and
    LAST-touch view inside a {ATTR_WINDOW_S // 86400}-day lookback,
    plus the view count and last-touch lag: the two standard
    attribution models in one pass. Where join_asof finds only the
    single nearest event, this is the windowed generalization: views
    project into a nullable timestamp column and ONE µs-RANGE frame
    (PARTITION BY user ORDER BY time RANGE N PRECEDING) computes
    min/max/count of it at every purchase row — no view×purchase join,
    no fan-out, one exchange on user_id. NULL first/last = organic
    purchase (no view in window). At 100 TB this is the attribution
    shape that avoids the classic exploding interval join."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    ev = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.when(F.col("event_type") == "view", F.unix_micros("ts")).alias(
            "view_tus"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(-ATTR_WINDOW_S * 1_000_000, 0)
    )
    scored = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "tus",
        F.min("view_tus").over(w).alias("first_touch_us"),
        F.max("view_tus").over(w).alias("last_touch_us"),
        F.count("view_tus").over(w).cast("bigint").alias("n_views_window"),
    )
    return scored.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "first_touch_us",
        "last_touch_us",
        "n_views_window",
        F.expr("(tus - last_touch_us) div 1000000").alias("last_touch_lag_s"),
    )


@query(
    "rpt_event_transitions",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY from_type) AS DOUBLE)
             AS p_transition
    FROM seq
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def rpt_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix — the first-order Markov model of
    user flows (the data behind every Sankey / "where do users go
    next" diagram; seq_next_node's aggregate generalization from
    first-anchor rows to ALL transitions). One lead() pass over the
    per-user (ts, event_id)-ordered stream, a (from, to) hash
    aggregate, and per-from probabilities as one IEEE division of
    exact counts over the ≤|types|² cell table.

    One user_id exchange for the window; the aggregate and the tiny
    per-from window run on cell-table-sized data."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cells = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    w_from = Window.partitionBy("from_type")
    return cells.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_from).cast("double")
        ).alias("p_transition"),
    )


RFM_ANCHOR = "2001-09-01"  # recency anchor just past the fixture's max date


@query(
    "rpt_rfm_segmentation",
    f"""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       DATE '{RFM_ANCHOR}') AS r_days,
             CAST(COUNT(*) AS BIGINT) AS f_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS m_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, CAST(r_days AS BIGINT) AS r_days, f_orders, m_cents,
           CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
             || CAST(m_q AS VARCHAR) AS segment
    FROM (
      SELECT *,
             NTILE(4) OVER (ORDER BY r_days, o_custkey) AS r_q,
             NTILE(4) OVER (ORDER BY f_orders DESC, o_custkey) AS f_q,
             NTILE(4) OVER (ORDER BY m_cents DESC, o_custkey) AS m_q
      FROM base
    )
    """,
)
def rpt_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic CRM scoring: recency
    (days since last order, quartile 1 = most recent), frequency, and
    monetary value each quartiled with NTILE(4), concatenated into the
    '111'…'444' segment code. Quartile assignment is deterministic
    because every NTILE order carries the customer key as a final
    tiebreaker (ntile over a non-total order can never hash-match).

    Plan: one hash aggregate collapses orders to |customers| rows;
    the three ntile windows run over that reduced frame (the
    aggregate-first discipline — the unpartitioned windows see
    customer cardinality, never order cardinality). Exact integer
    metrics; no floats anywhere."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    base = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate").cast("date"))
        )
        .cast("bigint")
        .alias("r_days"),
        F.count(F.lit(1)).cast("bigint").alias("f_orders"),
        F.sum(cents).cast("bigint").alias("m_cents"),
    )
    r_q = F.ntile(4).over(Window.orderBy("r_days", "o_custkey"))
    f_q = F.ntile(4).over(Window.orderBy(F.desc("f_orders"), "o_custkey"))
    m_q = F.ntile(4).over(Window.orderBy(F.desc("m_cents"), "o_custkey"))
    scored = base.select(
        "o_custkey",
        "r_days",
        "f_orders",
        "m_cents",
        r_q.cast("bigint").alias("r_q"),
        f_q.cast("bigint").alias("f_q"),
        m_q.cast("bigint").alias("m_q"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ),
    )


DIFF_DEL_MOD = 997    # v2 drops these keys ("removed")
DIFF_CHG_MOD = 401    # v2 perturbs these totals ("changed")
DIFF_ADD_MOD = 1009   # v2 adds clones under key+1e9 ("added")


@query(
    "rpt_table_diff",
    f"""
    WITH v1 AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' ||
                 CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT) AS VARCHAR)) AS h
      FROM orders
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' ||
                 CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)
                      + CASE WHEN o_orderkey % {DIFF_CHG_MOD} = 0
                             THEN 1 ELSE 0 END AS VARCHAR)) AS h
      FROM orders WHERE o_orderkey % {DIFF_DEL_MOD} != 0
      UNION ALL
      SELECT o_orderkey + 1000000000,
             md5(CAST(o_custkey AS VARCHAR) || '|' ||
                 CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT) AS VARCHAR))
      FROM orders WHERE o_orderkey % {DIFF_ADD_MOD} = 0
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (
      SELECT CASE WHEN v1.k IS NULL THEN 'added'
                  WHEN v2.k IS NULL THEN 'removed'
                  WHEN v1.h != v2.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    GROUP BY status
    """,
)
def rpt_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation — the added/removed/changed/unchanged
    census between two versions of a table, THE verification query a
    destination connector runs after a migration or backfill (and the
    check behind every "did the CDC apply cleanly?" audit). Rows
    compare by key + an md5 row fingerprint over drift-proof renders
    (exact cents, never float formatting); the synthetic v2 derives
    deterministically from v1 (drop mod-{DIFF_DEL_MOD} keys, perturb
    mod-{DIFF_CHG_MOD} totals by one cent, clone mod-{DIFF_ADD_MOD}
    rows under new keys) so both engines diff identical versions.

    Plan: one FULL OUTER hash join on the key plus a 4-group
    aggregate — at 100 TB the join shuffles both sides on the
    primary key once; fingerprints collapse row width to 32 bytes
    before the exchange."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")

    def fp(cents_col):
        return F.md5(
            F.concat_ws(
                "|", F.col("o_custkey").cast("string"), cents_col.cast("string")
            )
        )

    v1 = o.select(F.col("o_orderkey").alias("k1"), fp(cents).alias("h1"))
    changed_cents = cents + F.when(
        F.col("o_orderkey") % DIFF_CHG_MOD == 0, 1
    ).otherwise(0)
    v2_kept = o.filter(F.col("o_orderkey") % DIFF_DEL_MOD != 0).select(
        F.col("o_orderkey").alias("k2"), fp(changed_cents).alias("h2")
    )
    v2_added = o.filter(F.col("o_orderkey") % DIFF_ADD_MOD == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("k2"), fp(cents).alias("h2")
    )
    v2 = v2_kept.unionByName(v2_added)
    joined = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    status = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


@query(
    "rpt_new_returning",
    """
    WITH m AS (
      SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS ym
      FROM orders GROUP BY o_custkey, strftime(o_orderdate, '%Y-%m')
    ),
    first_m AS (
      SELECT o_custkey, MIN(ym) AS first_ym FROM m GROUP BY o_custkey
    )
    SELECT m.ym,
           CAST(SUM(CASE WHEN m.ym = f.first_ym THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN m.ym != f.first_ym THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM m JOIN first_m f ON f.o_custkey = m.o_custkey
    GROUP BY m.ym
    """,
)
def rpt_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning customers per month — the growth-accounting
    split every revenue dashboard leads with: a customer is NEW in
    their first-ever active month and RETURNING in every later active
    month. Plan: orders collapse to distinct (customer, month) rows
    first (the aggregate-first discipline), the per-customer first
    month is a MIN over that reduced frame reusing its exchange, and
    the monthly split is one more hash aggregate. Integer counts
    only."""
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).distinct()
    w = Window.partitionBy("o_custkey")
    flagged = m.select(
        "ym", (F.col("ym") == F.min("ym").over(w)).alias("is_new")
    )
    return flagged.groupBy("ym").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_returning"),
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
    )


@query(
    "rpt_basket_pairs",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY b),
    nk AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets FROM ob),
    pr AS (
      SELECT a.b AS brand_a, c.b AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
      GROUP BY a.b, c.b
    )
    SELECT pr.brand_a, pr.brand_b, pr.n_pair,
           na.n_b AS n_a, nc.n_b AS n_b, nk.n_baskets,
           CAST(pr.n_pair AS DOUBLE) / nk.n_baskets AS support,
           (CAST(pr.n_pair AS DOUBLE) * nk.n_baskets)
             / (CAST(na.n_b AS DOUBLE) * nc.n_b) AS lift
    FROM pr
    JOIN nb na ON na.b = pr.brand_a
    JOIN nb nc ON nc.b = pr.brand_b
    CROSS JOIN nk
    WHERE pr.n_pair >= 3
    """,
)
def rpt_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs — brand co-occurrence within an
    order with support and lift (Agrawal & Srikant's association-rule
    measures, VLDB 1994 — public literature): baskets are orders, items
    are part BRANDS (the deduped (order, brand) projection bounds the
    per-basket pair expansion at C(brands_in_order, 2) ≤ C(7,2)), lift
    is the exact rational n_pair·N / (n_a·n_b) in ONE double expression
    (integer counts, no float accumulation). Pairs under support 3 are
    pruned — the a-priori floor every basket miner applies before
    emitting rules.

    Plan: one broadcast join to the part dim for the brand, the deduped
    (order, brand) projection STAGED once (three consumers — marginals,
    basket count, pair join — read stored blocks instead of re-deriving
    the dedup), one self-equi-join on the order key (its natural
    layout), partial-agg pair counts (brand-pair cardinality is tiny),
    and broadcast joins of the per-brand marginals back onto the pairs.
    Nothing is collected; the only big shuffles are the dedup and the
    self-join.

    Measured and REJECTED (r15, guide §1.1): replacing the self-join
    with a per-order sorted collect_set + map-side a<b pair expansion
    (the `_copurchase_edges` device, which DID pay off for the two
    common-neighbor graph keys). It halves the ob frame's shuffled
    bytes (one aggregate exchange instead of two join sides), but at
    bench scale the ObjectHashAggregate + nested-HOF struct expansion
    costs more CPU than the sorts it removes: per-key floors over 4
    alternating matched full-suite runs 1.56 → 1.85 s (×1.19), and an
    interleaved re-probe confirmed (old 2.09 s vs new 2.34 s median,
    result-identical). Revisit only if the per-order exchange bytes —
    not CPU — dominate this key at the target scale."""
    from etl_ch_destination_spark.ops.staging import stage

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = stage(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct(),
        label="basket_ob",
    )
    nb = ob.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    nk = ob.agg(
        F.countDistinct("o").cast("bigint").alias("n_baskets")
    )
    a, c = ob.alias("a"), ob.alias("c")
    pr = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(
            F.col("a.b").alias("brand_a"), F.col("c.b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    na = nb.select(F.col("b").alias("brand_a"), F.col("n_b").alias("n_a"))
    nc = nb.select(F.col("b").alias("brand_b"), F.col("n_b").alias("n_b"))
    return (
        pr.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nc), "brand_b")
        .crossJoin(F.broadcast(nk))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            "n_a",
            "n_b",
            "n_baskets",
            (F.col("n_pair").cast("double") / F.col("n_baskets")).alias(
                "support"
            ),
            (
                (F.col("n_pair").cast("double") * F.col("n_baskets"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


@query(
    "rpt_activity_heatmap",
    """
    WITH b AS (
      SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hr,
             user_id
      FROM events
    ),
    cell AS (
      SELECT dow, hr, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM b GROUP BY dow, hr
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
           n_events, n_users,
           CAST(n_events AS DOUBLE) / SUM(n_events) OVER () AS share,
           CAST(RANK() OVER (PARTITION BY dow
                             ORDER BY n_events DESC, hr) AS BIGINT)
             AS rank_in_dow
    FROM cell
    """,
)
def rpt_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap — the traffic-seasonality
    grid behind every ops dashboard: per (dow, hour) cell, event and
    distinct-user counts, share of total traffic, and the cell's rank
    within its day. Weekday is computed ARITHMETICALLY from the epoch
    ((days + 4) mod 7; 1970-01-01 was a Thursday, so Sunday ≡ 0) —
    engine weekday builtins disagree on origin (Spark dayofweek is
    1=Sunday, DuckDB dayofweek is 0=Sunday), and the pure integer form
    sidesteps the mapping entirely.

    Plan: map-side epoch bucketing, one hash agg onto ≤168 cells, and
    window passes over that constant-size frame — a single reduce at
    any data scale; the distinct-user count is the only full-width
    exchange."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").alias("dow"),
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hr"),
        "user_id",
    )
    cell = b.groupBy("dow", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    w_all = Window.partitionBy()
    w_dow = Window.partitionBy("dow").orderBy(F.desc("n_events"), F.asc("hr"))
    return cell.select(
        "dow",
        "hr",
        "n_events",
        "n_users",
        (F.col("n_events").cast("double") / F.sum("n_events").over(w_all)).alias(
            "share"
        ),
        F.rank().over(w_dow).cast("bigint").alias("rank_in_dow"),
    )


@query(
    "rpt_cohort_ltv",
    """
    WITH act AS (
      SELECT user_id,
             CAST(EXTRACT(year FROM ts) * 12 + EXTRACT(month FROM ts) - 1
                  AS BIGINT) AS m,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    coh AS (
      SELECT user_id, m, cents,
             MIN(m) OVER (PARTITION BY user_id) AS cohort_m
      FROM act
    ),
    cs AS (
      SELECT cohort_m, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_users
      FROM coh GROUP BY cohort_m
    ),
    cell AS (
      SELECT cohort_m, CAST(m - cohort_m AS BIGINT) AS months_since,
             CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM coh GROUP BY cohort_m, m
    )
    SELECT cell.cohort_m, cell.months_since, cell.rev_cents,
           cs.cohort_users,
           CAST(SUM(cell.rev_cents) OVER (
             PARTITION BY cell.cohort_m ORDER BY cell.months_since
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents,
           CAST(SUM(cell.rev_cents) OVER (
             PARTITION BY cell.cohort_m ORDER BY cell.months_since
             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / (cs.cohort_users * 100.0) AS ltv_per_user
    FROM cell JOIN cs ON cs.cohort_m = cell.cohort_m
    """,
)
def rpt_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — the growth metric behind every payback
    model: users bucket by first-activity MONTH (integer month index
    y·12+m−1, the rpt_cohort_retention convention), and each cohort
    accumulates revenue over months-since-acquisition; the running
    per-user LTV is the decimal-exact cumulative cents divided once
    by cohort size. rpt_cohort_retention counts the USERS surviving;
    this key follows the MONEY — together they are the
    retention/monetization pair.

    Plan: one user window for the cohort tag (user exchange), STAGED
    once for its two consumers (cohort sizes and the revenue grid), a
    (cohort, month) hash agg, and a constant-size window over the
    cohort×age grid — the heavy exchange is shared, the rest is
    dashboard-sized."""
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    m = (F.year("ts") * 12 + F.month("ts") - 1).cast("bigint")
    act = e.select("user_id", m.alias("m"), cents.alias("cents"))
    w_u = Window.partitionBy("user_id")
    from etl_ch_destination_spark.ops.staging import stage

    coh = stage(
        act.select(
            "user_id", "m", "cents", F.min("m").over(w_u).alias("cohort_m")
        ),
        label="cohort_ltv_tagged",
    )
    cs = coh.groupBy("cohort_m").agg(
        F.countDistinct("user_id").cast("bigint").alias("cohort_users")
    )
    cell = coh.groupBy(
        "cohort_m", (F.col("m") - F.col("cohort_m")).cast("bigint").alias(
            "months_since"
        )
    ).agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    w_cum = (
        Window.partitionBy("cohort_m")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rev_cents").over(w_cum).cast("bigint")
    j = cell.join(F.broadcast(cs), "cohort_m")
    return j.select(
        "cohort_m",
        "months_since",
        "rev_cents",
        "cohort_users",
        cum.alias("cum_rev_cents"),
        (
            cum.cast("double") / (F.col("cohort_users") * F.lit(100.0))
        ).alias("ltv_per_user"),
    )


SKEW_TOPN = 10  # heaviest join keys reported


@query(
    "rpt_join_skew_profile",
    f"""
    WITH c AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_orderkey
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM c
    ),
    top AS (
      SELECT k, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, k) AS BIGINT) AS rk
      FROM c
    )
    SELECT top.k AS heavy_key, top.cnt, top.rk,
           st.n_keys, st.n_rows, st.max_cnt,
           CAST(top.cnt AS DOUBLE) * st.n_keys / st.n_rows AS skew_factor,
           CAST(top.cnt AS DOUBLE) / st.n_rows AS row_share
    FROM top CROSS JOIN st
    WHERE top.rk <= {SKEW_TOPN}
    """,
)
def rpt_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic that DECIDES whether a
    join needs salting (join_skew_salted is the cure; this is the
    doctor): per candidate join key, the {SKEW_TOPN} heaviest keys
    with their row share and skew factor cnt·|keys|/|rows| (1.0 =
    perfectly uniform; AQE's skew-join threshold reasons about the
    same ratio). Exact integer counts, two single-division doubles.

    Plan: one key-grain hash agg (map-side partials), a 1-row stats
    reduce broadcast onto the top-N — at 100 TB this is the cheapest
    query you will ever run before the most expensive join you will
    ever run."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    st = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("k"))
    top = c.select(
        F.col("k").alias("heavy_key"),
        "cnt",
        F.row_number().over(w).cast("bigint").alias("rk"),
    ).filter(F.col("rk") <= SKEW_TOPN)
    return top.crossJoin(F.broadcast(st)).select(
        "heavy_key",
        "cnt",
        "rk",
        "n_keys",
        "n_rows",
        "max_cnt",
        (F.col("cnt").cast("double") * F.col("n_keys") / F.col("n_rows")).alias(
            "skew_factor"
        ),
        (F.col("cnt").cast("double") / F.col("n_rows")).alias("row_share"),
    )


# time-to-convert quantile specs: median and p90 as exact fractions
TTC_QS = [(1, 2), (9, 10)]


@query(
    "rpt_time_to_convert",
    f"""
    WITH tv AS (
      SELECT user_id, MIN(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    tp AS (
      SELECT e.user_id, MIN(e.ts) AS tp
      FROM events e JOIN tv ON e.user_id = tv.user_id
      WHERE e.event_type = 'purchase' AND e.ts > tv.tv
      GROUP BY 1
    ),
    lat AS (
      SELECT c.c_mktsegment AS segment,
             epoch_us(tp.tp) - epoch_us(tv.tv) AS lat_us
      FROM tv JOIN tp ON tv.user_id = tp.user_id
      JOIN customer c ON tv.user_id = c.c_custkey
    ),
    v AS (
      SELECT segment, lat_us,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY lat_us) AS rn
      FROM lat
    ),
    n AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_conv
          FROM v GROUP BY segment),
    qs AS (
      SELECT n.segment, n.n_conv, q.num, q.den,
             ((n.n_conv - 1) * q.num) // q.den AS idx0,
             ((n.n_conv - 1) * q.num) % q.den AS rem
      FROM n CROSS JOIN (VALUES {", ".join(f"({a}, {b})" for a, b in TTC_QS)})
        AS q(num, den)
    )
    SELECT qs.segment, CAST(qs.num AS BIGINT) AS q_num,
           CAST(qs.den AS BIGINT) AS q_den, qs.n_conv,
           CAST(lo.lat_us * (qs.den - qs.rem)
                + COALESCE(hi.lat_us, lo.lat_us) * qs.rem AS BIGINT)
             AS val_num_us,
           CAST(lo.lat_us * (qs.den - qs.rem)
                + COALESCE(hi.lat_us, lo.lat_us) * qs.rem AS DOUBLE)
             / (CAST(qs.den AS DOUBLE) * 1e6) AS quantile_seconds
    FROM qs
    JOIN v lo ON lo.segment = qs.segment AND lo.rn = qs.idx0 + 1
    LEFT JOIN v hi ON hi.segment = qs.segment AND hi.rn = qs.idx0 + 2
      AND qs.rem > 0
    """,
)
def rpt_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION-LATENCY distribution — the report product teams run
    right after the funnel: for every converted user (first 'view',
    then the first 'purchase' strictly after it), the view→purchase
    latency, rolled up per customer market segment to exact
    median / p90 latency seconds plus converted-user counts. The
    funnel keys count WHO converts; this measures HOW FAST.

    Latencies are integer MICROSECONDS end to end and the quantiles
    ride the exact integer-interpolation machinery
    (agg_quantile_interp_exact's identity: position (n−1)·num =
    den·idx0 + rem; value·den = lo·(den−rem) + hi·rem) — no float
    until the final display division, so the hash oracle pins the
    distribution bit-for-bit, exact numerator emitted alongside.

    Plan: two user-keyed aggregates (first view, first qualifying
    purchase via one range-residual equi-join), a broadcast segment
    join, ONE per-segment sort window over CONVERTED USERS (bounded
    by users, not events), and two sparse rank-probe joins that pick
    one ranked row per (segment, q). At 100 TB the event scans
    dominate; everything after the per-user collapse is
    user-cardinality or smaller."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    tv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    tp = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("pt"))
        .join(
            tv,
            (F.col("pu") == F.col("user_id")) & (F.col("pt") > F.col("tv")),
        )
        .groupBy("pu")
        .agg(F.min("pt").alias("tp"))
    )
    lat = (
        tv.join(tp, tv.user_id == tp.pu)
        .join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("user_id"),
                    F.col("c_mktsegment").alias("segment"),
                )
            ),
            "user_id",
        )
        .select(
            "segment",
            (F.unix_micros("tp") - F.unix_micros("tv")).alias("lat_us"),
        )
    )
    w = Window.partitionBy("segment").orderBy("lat_us")
    v = lat.select("segment", "lat_us", F.row_number().over(w).alias("rn"))
    n = v.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conv")
    )
    q = spark.createDataFrame(TTC_QS, "num long, den long")
    qs = (
        n.crossJoin(F.broadcast(q))
        .withColumn("idx0", F.expr("((n_conv - 1) * num) div den"))
        .withColumn("rem", F.expr("((n_conv - 1) * num) % den"))
    )
    lo = v.select(
        F.col("segment").alias("ls"),
        F.col("rn").alias("lrn"),
        F.col("lat_us").alias("lo_us"),
    )
    hi = v.select(
        F.col("segment").alias("hs"),
        F.col("rn").alias("hrn"),
        F.col("lat_us").alias("hi_us"),
    )
    joined = (
        qs.join(
            lo,
            (F.col("segment") == F.col("ls"))
            & (F.col("lrn") == F.col("idx0") + 1),
        )
        .join(
            hi,
            (F.col("segment") == F.col("hs"))
            & (F.col("hrn") == F.col("idx0") + 2)
            & (F.col("rem") > 0),
            "left",
        )
        .withColumn(
            "val_num_us",
            (
                F.col("lo_us") * (F.col("den") - F.col("rem"))
                + F.coalesce("hi_us", "lo_us") * F.col("rem")
            ).cast("bigint"),
        )
    )
    return joined.select(
        "segment",
        F.col("num").cast("bigint").alias("q_num"),
        F.col("den").cast("bigint").alias("q_den"),
        "n_conv",
        "val_num_us",
        (
            F.col("val_num_us").cast("double")
            / (F.col("den").cast("double") * 1e6)
        ).alias("quantile_seconds"),
    )


AB_Z_CRIT = 1.959963984540054  # two-sided alpha=0.05 normal quantile


@query(
    "rpt_ab_test_readout",
    f"""
    WITH q AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab1'),
                                  1, 7)) AS BIGINT) % 2 AS v,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(9,0)) AS x
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (v = 0) AS DOUBLE) AS na,
             CAST(COUNT(*) FILTER (v = 1) AS DOUBLE) AS nb,
             CAST(CAST(SUM(x) FILTER (v = 0) AS HUGEINT) AS DOUBLE) AS sa1,
             CAST(CAST(SUM(x) FILTER (v = 1) AS HUGEINT) AS DOUBLE) AS sb1,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0))) FILTER (v = 0)
                       AS HUGEINT) AS DOUBLE) AS sa2,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(19,0))) FILTER (v = 1)
                       AS HUGEINT) AS DOUBLE) AS sb2
      FROM q GROUP BY event_type
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           sa1 / na AS mean_a, sb1 / nb AS mean_b,
           (sb1 / nb - sa1 / na) / (sa1 / na) * 100.0 AS lift_pct,
           (sb1 / nb - sa1 / na)
             / NULLIF(sqrt(GREATEST(0.0,
                 (sa2 / na - (sa1 / na) * (sa1 / na)) / NULLIF(na - 1, 0)
                 + (sb2 / nb - (sb1 / nb) * (sb1 / nb)) / NULLIF(nb - 1, 0))),
               0) AS z_stat,
           (abs((sb1 / nb - sa1 / na)
             / NULLIF(sqrt(GREATEST(0.0,
                 (sa2 / na - (sa1 / na) * (sa1 / na)) / NULLIF(na - 1, 0)
                 + (sb2 / nb - (sb1 / nb) * (sb1 / nb)) / NULLIF(nb - 1, 0))),
               0)) >= {AB_Z_CRIT}) AS significant
    FROM s
    """,
)
def rpt_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment READOUT end to end — the composition every
    experimentation platform runs daily, and the consumer of
    agg_min_sample_size's power analysis: users are deterministically
    assigned variants by the repo's stable md5 device (the assignment
    every replica of the pipeline reproduces — pmod(hash) is not
    stable across Spark versions, the reason md5 is policy), then per
    metric (event_type): per-variant n and mean, relative lift, and
    the two-sample Welch z statistic with a significance verdict at
    α=0.05 (the z critical value is a pinned literal, like MSS_C —
    no quantile function at query time).

    Determinism is the agg_welch_ttest recipe on conditional sums:
    moments accumulate as exact integers per (metric, variant) inside
    ONE grouped aggregate (FILTER/when — no self-join, no pivot
    shuffle), wide squares staged through DECIMAL(19,0), and the
    statistic assembles in one shared IEEE expression tree — mean,
    lift, z and the boolean verdict all hash bit-for-bit. Note
    Welch's variance form (σ²/n as m2/(n−1)) is exactly what the z
    denominator needs — the form agg_min_sample_size must NOT use
    (its gate caught that inversion).

    Plan/scale: one scan → one |metrics|-group aggregate with
    map-side partials; the readout math is |metrics| rows of
    arithmetic. The assignment hash is map-side codegen."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"),
                               F.lit(":ab1"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    x = (F.col("value").cast("decimal(12,2)") * 100).cast("decimal(9,0)")
    q = ev.select("event_type", v.alias("v"), x.alias("x")).withColumn(
        "x2", (F.col("x") * F.col("x")).cast("decimal(19,0)")
    )

    s = (
        q.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("v") == 0, 1)).cast("double").alias("na"),
            F.count(F.when(F.col("v") == 1, 1)).cast("double").alias("nb"),
            F.sum(F.when(F.col("v") == 0, F.col("x"))).alias("ra1"),
            F.sum(F.when(F.col("v") == 1, F.col("x"))).alias("rb1"),
            F.sum(F.when(F.col("v") == 0, F.col("x2"))).alias("ra2"),
            F.sum(F.when(F.col("v") == 1, F.col("x2"))).alias("rb2"),
        )
        .select(
            "event_type",
            "na",
            "nb",
            hilo("ra1").alias("sa1"),
            hilo("rb1").alias("sb1"),
            hilo("ra2").alias("sa2"),
            hilo("rb2").alias("sb2"),
        )
    )
    na, nb = F.col("na"), F.col("nb")
    sa1, sb1, sa2, sb2 = (F.col(c) for c in ("sa1", "sb1", "sa2", "sb2"))
    diff = sb1 / nb - sa1 / na
    z = diff / nz(
        F.sqrt(
            pos(
                (sa2 / na - (sa1 / na) * (sa1 / na)) / nz(na - 1)
                + (sb2 / nb - (sb1 / nb) * (sb1 / nb)) / nz(nb - 1)
            )
        )
    )
    return s.select(
        "event_type",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        (sa1 / na).alias("mean_a"),
        (sb1 / nb).alias("mean_b"),
        (diff / (sa1 / na) * F.lit(100.0)).alias("lift_pct"),
        z.alias("z_stat"),
        (F.abs(z) >= F.lit(AB_Z_CRIT)).alias("significant"),
    )


# Shapley attribution: 3 channels -> masks view=1, click=2, signup=4.
# Coalition weights |S|!(n-1-|S|)!/n! for n=3, scaled by 3! = 6 to
# exact integers: |S|=0 -> 2, |S|=1 -> 1, |S|=2 -> 2.
SHAP_CHANNELS = (("view", 1), ("click", 2), ("signup", 4))
SHAP_SCALE = 6
_SHAP_W = {0: 2, 1: 1, 2: 2}
# (channel, bit, S_without_i, scaled_weight) for every coalition
SHAP_TERMS = [
    (name, bit, s, _SHAP_W[bin(s).count("1")])
    for name, bit in SHAP_CHANNELS
    for s in range(8)
    if not s & bit
]


def _shapley_sql() -> str:
    terms = ", ".join(
        f"('{name}', {s_no_i}, {s_no_i | bit}, {w})"
        for name, bit, s_no_i, w in SHAP_TERMS
    )
    return f"""
    WITH p AS (
      SELECT user_id, MIN(ts) AS pts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    m AS (
      SELECT p.user_id,
             MAX(CASE WHEN e.event_type = 'view' AND e.ts < p.pts
                      THEN 1 ELSE 0 END)
           + 2 * MAX(CASE WHEN e.event_type = 'click' AND e.ts < p.pts
                          THEN 1 ELSE 0 END)
           + 4 * MAX(CASE WHEN e.event_type = 'signup' AND e.ts < p.pts
                          THEN 1 ELSE 0 END) AS mask
      FROM p JOIN events e ON e.user_id = p.user_id
      GROUP BY p.user_id
    ),
    mc AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS c
      FROM m WHERE mask > 0 GROUP BY mask
    ),
    subsets AS (SELECT CAST(UNNEST(range(0, 8)) AS BIGINT) AS S),
    v AS (
      SELECT S,
             CAST(COALESCE(SUM(CASE WHEN (mask & S) = mask THEN c END), 0)
                  AS BIGINT) AS v
      FROM subsets LEFT JOIN mc ON TRUE GROUP BY S
    ),
    terms(channel, s_no_i, s_with_i, w) AS (SELECT * FROM (VALUES {terms})),
    shap AS (
      SELECT t.channel,
             CAST(SUM(t.w * (vi.v - vo.v)) AS BIGINT) AS shapley_num
      FROM terms t
      JOIN v vi ON vi.S = t.s_with_i
      JOIN v vo ON vo.S = t.s_no_i
      GROUP BY t.channel
    ),
    touch AS (
      SELECT 'view' AS tc, CAST(COALESCE(SUM(c) FILTER ((mask & 1) != 0), 0)
                                AS BIGINT) AS touched FROM mc
      UNION ALL
      SELECT 'click', CAST(COALESCE(SUM(c) FILTER ((mask & 2) != 0), 0)
                           AS BIGINT) FROM mc
      UNION ALL
      SELECT 'signup', CAST(COALESCE(SUM(c) FILTER ((mask & 4) != 0), 0)
                            AS BIGINT) FROM mc
    )
    SELECT channel, touched AS touched_users, shapley_num,
           CAST(shapley_num AS DOUBLE) / {SHAP_SCALE} AS shapley,
           CAST(shapley_num AS DOUBLE)
             / CAST(SUM(shapley_num) OVER () AS DOUBLE) AS share
    FROM shap JOIN touch ON tc = channel
    """


@query("rpt_attribution_shapley", _shapley_sql())
def rpt_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE conversion attribution (Shapley 1953; the
    marketing-analytics standard for fair multi-touch credit, public
    literature) — the game-theoretic model next to
    rpt_attribution's first/last-touch lags: each converted user's
    pre-purchase journey is a channel COALITION (view/click/signup
    bitmask before the first purchase), the characteristic function
    v(S) counts conversions whose whole journey S covers, and each
    channel's credit is its exact Shapley value — the weighted
    average of its marginal contribution over all coalitions.

    Exactness: with n=3 channels the coalition weights scale by
    3! = 6 to INTEGERS (the 12-term (channel, S) table is generated
    once at import and inlined into both plans as literals — the
    AA_W device); v(S) is integer counts; the whole computation is
    exact int64 with two presentation divisions. EFFICIENCY — the
    Shapley axiom Σᵢ φᵢ = v(all channels) = total covered
    conversions — is gated in pytest, as is symmetry on a
    hand-crafted journey set.

    Plan/scale: one purchase aggregate + one user-keyed join/agg
    collapses events to ≤7 mask-count rows; everything after (the
    8-subset × mask cross, the 12-term join) is literal-dim algebra
    on single-digit row counts. At 100 TB the user aggregate is the
    only data-volume stage; n stays small because Shapley is 2^n —
    the documented reason real attribution stops at a handful of
    channel GROUPS."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    m = (
        p.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when(
                        (F.col("event_type") == "view")
                        & (F.col("ts") < F.col("pts")),
                        1,
                    ).otherwise(0)
                )
                + 2
                * F.max(
                    F.when(
                        (F.col("event_type") == "click")
                        & (F.col("ts") < F.col("pts")),
                        1,
                    ).otherwise(0)
                )
                + 4
                * F.max(
                    F.when(
                        (F.col("event_type") == "signup")
                        & (F.col("ts") < F.col("pts")),
                        1,
                    ).otherwise(0)
                )
            ).alias("mask")
        )
    )
    mc = (
        m.filter(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    subsets = spark.range(8).select(F.col("id").cast("bigint").alias("S"))
    v = (
        subsets.join(F.broadcast(mc), F.lit(True), "left")
        .groupBy("S")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseAND(F.col("S")) == F.col("mask"),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("v")
        )
    )
    terms = spark.createDataFrame(
        [(name, s, s | bit, w) for name, bit, s, w in SHAP_TERMS],
        "channel string, s_no_i bigint, s_with_i bigint, w bigint",
    )
    vi = v.select(F.col("S").alias("si"), F.col("v").alias("v_with"))
    vo = v.select(F.col("S").alias("so"), F.col("v").alias("v_without"))
    shap = (
        terms.join(F.broadcast(vi), terms["s_with_i"] == vi["si"])
        .join(F.broadcast(vo), terms["s_no_i"] == vo["so"])
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_with") - F.col("v_without")))
            .cast("bigint")
            .alias("shapley_num")
        )
    )
    # ONE pass over mc for all three touch counts, unpivoted with
    # stack() — a per-channel union would re-plan the whole upstream
    # lineage three times over
    touch_wide = mc.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(F.col("mask").bitwiseAND(F.lit(bit)) != 0,
                           F.col("c"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"t_{name}")
            for name, bit in SHAP_CHANNELS
        ]
    )
    touch_rows = touch_wide.select(
        F.expr(
            "stack(3, 'view', t_view, 'click', t_click,"
            " 'signup', t_signup) AS (tc, touched)"
        )
    )
    w_all = Window.partitionBy()
    return (
        shap.join(F.broadcast(touch_rows), shap["channel"] == touch_rows["tc"])
        .select(
            "channel",
            F.col("touched").alias("touched_users"),
            "shapley_num",
            (F.col("shapley_num").cast("double") / SHAP_SCALE).alias(
                "shapley"
            ),
            (
                F.col("shapley_num").cast("double")
                / F.sum("shapley_num").over(w_all).cast("double")
            ).alias("share"),
        )
    )


@query(
    "rpt_kaplan_meier",
    """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS tus,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nus
      FROM events
    ),
    obs AS (SELECT MAX(epoch_us(ts)) AS oe FROM events),
    epi AS (
      SELECT CASE WHEN nus IS NOT NULL
                  THEN (nus - tus) // 3600000000
                  ELSE (oe - tus) // 3600000000 END AS dur,
             CASE WHEN nus IS NOT NULL THEN 1 ELSE 0 END AS death
      FROM t, obs
    ),
    h AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(death) AS BIGINT) AS d_death
      FROM epi GROUP BY dur
    ),
    r AS (
      SELECT dur, d_death,
             CAST(SUM(n_all) OVER (ORDER BY dur DESC) AS BIGINT) AS n_risk
      FROM h
    ),
    e AS (
      SELECT dur, d_death, n_risk,
             CAST(n_risk - d_death AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
      FROM r WHERE d_death > 0
    )
    SELECT CAST(dur AS BIGINT) AS t, n_risk, d_death AS d,
           list_reduce(
             list(f) OVER (ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             (a, b) -> a * b) AS km
    FROM e
    """,
)
def rpt_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve (Kaplan & Meier 1958, public
    literature) over ENGAGEMENT: each event opens an episode whose
    survival time is the gap (whole hours, exact integer microsecond
    arithmetic — never engine-specific date_diff boundary semantics)
    until the user's NEXT action; a user's last event is CENSORED at
    the observation end — we know they stayed away at least that
    long, not when they return. Censored episodes stay in the risk
    set until their censoring time without counting as events — the
    correction naive "average gap between actions" gets wrong (it
    drops exactly the longest-absence tail, one censored episode per
    user by construction at every SF). At each event time t: risk
    set n_t, returns d_t, S(t) = Π_{s≤t}(1 − d_s/n_s) — the
    probability a user is still "away" after t hours.

    Hash-exactness for a cumulative float PRODUCT: parallel
    multiplication is order-sensitive, but this one folds an ORDERED
    bounded list — each factor is one IEEE division of exact int64
    counts and both engines fold the identical sequence
    left-to-right (Spark: collect_list over the ordered frame +
    F.aggregate with init 1.0; DuckDB: windowed list + list_reduce —
    the ts_ema_dyadic fold device lifted from ints to
    controlled-order doubles), so every S(t) matches bit-for-bit.

    Plan/scale: one user-keyed lead() window collapses events to
    episodes; everything after runs over |distinct hour-durations|
    rows (≤ observation window in hours, ~720 here): the
    reverse-cumsum risk set and the O(k²) windowed fold are
    bounded-frame algebra. The 1-row observation-end frame rides a
    broadcast, condition-free by design."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_next = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.lead(F.unix_micros("ts")).over(w_next).alias("nus"),
    )
    obs = ev.agg(F.max(F.unix_micros("ts")).alias("oe"))
    epi = t.crossJoin(F.broadcast(obs)).select(
        F.when(
            F.col("nus").isNotNull(),
            F.expr("(nus - tus) div 3600000000"),
        )
        .otherwise(F.expr("(oe - tus) div 3600000000"))
        .alias("dur"),
        F.when(F.col("nus").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "death"
        ),
    )
    h = epi.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("death").cast("bigint").alias("d_death"),
    )
    w_rev = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "dur",
        "d_death",
        F.sum("n_all").over(w_rev).cast("bigint").alias("n_risk"),
    )
    e = r.filter(F.col("d_death") > 0).select(
        "dur",
        "d_death",
        "n_risk",
        (
            (F.col("n_risk") - F.col("d_death")).cast("double")
            / F.col("n_risk").cast("double")
        ).alias("f"),
    )
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = F.aggregate(
        F.collect_list("f").over(w_fwd),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return e.select(
        F.col("dur").alias("t"),
        "n_risk",
        F.col("d_death").alias("d"),
        km.alias("km"),
    )

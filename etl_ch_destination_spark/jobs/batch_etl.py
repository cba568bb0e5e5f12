"""The reference's product shape as ONE composed batch job:

  extract (typed JSONL, µs timestamps)
    → clean (dedup by event id, earliest wins)
    → enrich (broadcast customer segment)
    → derive (event_date, exact-decimal value)
    → load (date-partitioned parquet, batch-stamped, CH DDL emitted)
    → verify (re-read the LOADED data and report per-partition totals)

Every stage is an operator the registry already gates individually
(scan_jsonl, dedup_by_key_latest, stream_static_join's enrich,
sink_parquet_partitioned, sink_idempotent_batch); this module proves
they compose — the "a user of the reference could switch" story.

Scale notes (100 TB/day): the JSONL extract writes one file per input
split, so it runs as wide as the scan (never funnelled through one
task); one shuffle for the id-dedup window, one for the partitioned
write's date clustering; the dimension join is broadcast; the verify
re-read declares the schema it wrote (no footer-inference job), reads
only the columns it needs and counts batch stamps in the same
single-exchange aggregate (`batch_count`). Batch stamping makes re-runs
idempotent downstream (dedup on (_batch_id, event_id) at read time).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ch_destination_spark.catalog import load_table, scratch_dir
from etl_ch_destination_spark.ops.dedup import latest_by_key
from etl_ch_destination_spark.schemas import EVENTS
from etl_ch_destination_spark.sink.clickhouse import batch_count, ddl_for, stamp_batch

TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def run_batch_etl(
    spark: SparkSession, sf_dir: str, out_dir: str, batch_id: str = "batch-0001"
) -> DataFrame:
    """Run the full pipeline; returns the per-(event_date, segment)
    load report aggregated FROM THE RE-READ SINK (so the report value-
    hashes only if extract→load lost and duplicated nothing)."""
    # extract: stage events as typed JSONL, read back with schema
    staged = f"{out_dir}/staged_jsonl"
    ev_src = load_table(spark, sf_dir, "events")
    ev_src.write.mode("overwrite").option("timestampFormat", TS_FMT).json(staged)
    ev = spark.read.schema(EVENTS).option("timestampFormat", TS_FMT).json(staged)

    # clean: exactly-one row per event_id (earliest ts wins)
    ev = latest_by_key(ev, ["event_id"], [F.asc("ts")])

    # enrich: customer market segment, broadcast dim
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    ev = ev.join(F.broadcast(dim), "user_id")

    # derive + load: date-partitioned, batch-stamped
    out = f"{out_dir}/events_loaded"
    shutil.rmtree(out, ignore_errors=True)
    loaded = stamp_batch(
        ev.withColumn("event_date", F.to_date("ts")), batch_id
    )
    loaded.write.mode("overwrite").partitionBy("event_date").parquet(out)

    # destination DDL (unit-tested seam; no server in this environment)
    ddl_for(
        loaded.schema,
        "events_enriched",
        order_by=["event_id"],
        partition_by="toDate(ts)",
    )

    # verify: aggregate the RE-READ sink, under the schema just written
    # (no job opens a footer to infer it)
    back = spark.read.schema(loaded.schema).parquet(out)
    return (
        back.groupBy("event_date", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            batch_count().alias("n_batches"),
        )
    )

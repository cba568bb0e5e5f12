"""Bounded replay of the `events` fixture as a file-source stream.

`events.parquet` replayed through `availableNow` triggers is the test
substitute for a Kafka source: same micro-batch execution, same
watermark/state semantics, bounded termination. `stage_replay` splits
the table into N files so `maxFilesPerTrigger=1` yields N real
micro-batches (state carried across batches, late rows actually
arriving late), which a single-file read would hide.

Scale notes: in production the same code points at Kafka
(`format("kafka")`) or an object-store landing prefix; checkpointing
and sink idempotence (batch stamping) carry over unchanged.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_ch_destination_spark.catalog import load_table, scratch_dir
from etl_ch_destination_spark.ops.staging import stage
from etl_ch_destination_spark.schemas import EVENTS, EVENTS_RAW
from etl_ch_destination_spark.session import ensure_session_defaults


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """events.parquet as a streaming source — same storage-generation
    sniff as the batch catalog path (NANOS fixtures read raw + div
    1000; µs fixtures read directly; see catalog._events_ts_is_nanos)."""
    from etl_ch_destination_spark.catalog import _events_ts_is_nanos

    ensure_session_defaults(spark)
    nanos = _events_ts_is_nanos(f"{sf_dir.rstrip('/')}/events.parquet")
    reader = (
        spark.readStream.schema(EVENTS_RAW if nanos else EVENTS)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir.rstrip("/"))
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def stage_replay(
    spark: SparkSession, sf_dir: str, n_slices: int = 8, tag: str = "default"
) -> str:
    """Split events into ``n_slices`` files ordered by time slice, so a
    maxFilesPerTrigger=1 stream replays them as distinct micro-batches.
    Returns the staged directory."""
    path = scratch_dir(f"events_replay/{tag}")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    # slice by time so micro-batches arrive roughly in event-time order
    # unpartitioned ntile is fine here: test-only staging at fixture scale.
    # stage() the sliced frame ONCE: the per-slice writes below each
    # re-plan their input, so an unstaged frame would pay the global
    # ntile sort n_slices times (one full window sort per slice file —
    # measured r14 as the dominant cost of every stage_replay caller).
    sliced = stage(
        ev.withColumn(
            "__slice", F.ntile(n_slices).over(Window.orderBy("ts", "event_id"))
        ),
        eager=False,
        label="replay-sliced",
    )
    for i in range(1, n_slices + 1):
        (
            sliced.filter(F.col("__slice") == i)
            .drop("__slice")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
    return path


def read_staged_stream(spark: SparkSession, staged_path: str) -> DataFrame:
    """Stream over a stage_replay directory, one file per micro-batch."""
    ensure_session_defaults(spark)
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged_path)
    )

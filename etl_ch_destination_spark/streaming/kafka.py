"""Kafka ingestion source (SURVEY §2.9 ingestion story; VERDICT r2
"Next round" #7).

No Kafka broker or spark-sql-kafka connector jar exists in this
environment, so the module factors at the same testable seam as the
ClickHouse sink:

- `kafka_reader` — a fully-configured ``DataStreamReader`` for
  ``format("kafka")``; the caller ``.load()``s it where the connector
  is on the classpath. Config-only, no network I/O here.
- `KAFKA_RECORD_SCHEMA` — the FIXED schema every Kafka source batch
  carries (key/value binary + topic/partition/offset/timestamp…), per
  the public Structured Streaming Kafka integration contract.
- `parse_event_records` — the value-decode stage: JSON event payloads
  → typed `events` rows. This is pure DataFrame logic over the fixed
  record schema, so it is FULLY testable without a broker: tests build
  kafka-shaped frames (static and file-streamed) and assert the parse
  inverts `to_json` exactly, then run the same pipeline lattice
  (streaming/pipeline.py) over a kafka-shaped stream and over the file
  replay and assert identical results.

Scale notes (100 TB/day ingest): one Spark task consumes one Kafka
partition — size the topic's partition count to the executor fleet;
`maxOffsetsPerTrigger` bounds micro-batch size for predictable state
store pressure; `failOnDataLoss=false` + checkpoint offsets give
at-least-once delivery, which the idempotent sink (batch stamping /
insert_deduplication_token) upgrades to effectively-exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The Structured Streaming Kafka source's fixed output schema (public
# integration guide). Tests synthesize frames with exactly this shape.
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)

# JSON payload schema for an event record (matches the events table;
# ts serialized as ISO-8601 by to_json and parsed back losslessly).
EVENT_JSON_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


# JSON timestamps carry full microsecond precision both directions —
# the default format truncates to millis, which would silently corrupt
# µs-granular event times through the encode/decode trip.
_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_JSON_OPTS = {"timestampFormat": _TS_FORMAT}


def kafka_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The full option map for the Kafka source (the config seam the
    tests pin; `kafka_reader` applies it verbatim)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
):
    """Configured Kafka stream reader; ``.load()`` is the caller's
    (requires the spark-sql-kafka connector jar on the classpath)."""
    return spark.readStream.format("kafka").options(
        **kafka_options(
            bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
        )
    )


def parse_event_records(records: DataFrame) -> DataFrame:
    """Kafka-shaped records → typed event rows.

    ``value`` (binary JSON) decodes through ``from_json`` with the
    explicit event schema — never schema inference on a stream; rows
    whose payload fails to parse keep NULL fields rather than killing
    the query (dead-letter them downstream with ``event_id IS NULL``).
    Source-position columns ride along as ``_topic``/``_partition``/
    ``_offset`` for lineage and replay-window audits."""
    parsed = records.select(
        F.from_json(
            F.col("value").cast("string"), EVENT_JSON_SCHEMA, _JSON_OPTS
        ).alias("e"),
        F.col("topic").alias("_topic"),
        F.col("partition").alias("_partition"),
        F.col("offset").alias("_offset"),
    )
    return parsed.select("e.*", "_topic", "_partition", "_offset")


def to_kafka_records(
    events: DataFrame, topic: str = "events", n_partitions: int = 4
) -> DataFrame:
    """Inverse of `parse_event_records` for tests/local replay: events
    → kafka-shaped frames (value = JSON payload, key = user_id bytes,
    partition = hash of key — Kafka's default partitioner shape)."""
    return events.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(
            F.to_json(
                F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
                _JSON_OPTS,
            ),
            "UTF-8",
        ).alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.hash("user_id"), F.lit(n_partitions)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )

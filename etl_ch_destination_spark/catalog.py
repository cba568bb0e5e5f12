"""Fixture catalog: parquet loaders + temp-view registration.

Every table is read with its explicit measured schema (schemas.py) —
never inference in production paths, mirroring a ClickHouse
destination's rigid declared schemas (SURVEY §1.1). Reads stay plain
``spark.read`` so Catalyst gets predicate pushdown / column pruning /
partition pruning for free; at 100 TB the same call points at a
partitioned table root and nothing here changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ch_destination_spark.schemas import EVENTS_RAW, TABLE_SCHEMAS, TABLES
from etl_ch_destination_spark.session import ensure_session_defaults

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _events_ts_is_nanos(path: str) -> bool:
    """True if events.parquet stores ``ts`` as TIMESTAMP(NANOS).

    The driver has shipped both generations of fixture data: NANOS
    (earlier rounds — Spark's vectorized reader rejects it without the
    ``nanosAsLong`` escape hatch) and plain µs (round 3 regen). One
    footer read (no row data) keyed by path decides which read path
    applies; wrong-guessing would silently shift every event time by
    1000×, which is exactly the failure mode the 3-SF parity sweep
    caught when the regen landed.

    The local-pyarrow footer sniff only works for local filesystem
    paths; on remote storage (s3://, hdfs://) — where spark.read would
    still succeed — we fall back to the current driver generation's
    µs schema instead of failing the read (the NANOS escape hatch was
    only ever needed for locally-shipped early-round fixtures)."""
    if path not in _EVENTS_TS_NANOS_CACHE:
        local = path[7:] if path.startswith("file://") else path
        if "://" in local:  # remote FS: pyarrow can't read the footer here
            _EVENTS_TS_NANOS_CACHE[path] = False
        else:
            import pyarrow.parquet as pq

            field = pq.read_schema(local).field("ts")
            _EVENTS_TS_NANOS_CACHE[path] = str(field.type) == "timestamp[ns]"
    return _EVENTS_TS_NANOS_CACHE[path]


_EVENTS_TS_NANOS_CACHE: dict[str, bool] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Columnar scan ≈ ClickHouse MergeTree read.

    ``events.parquet``: when ``ts`` is stored as TIMESTAMP(NANOS) —
    which Spark's vectorized parquet reader rejects — it is read as
    raw int64 nanos under ``nanosAsLong`` (pinned in
    ensure_session_defaults) and converted with exact integer division
    (values are µs-granular, so the conversion is lossless — verified
    against DuckDB). µs-stored fixture generations read directly."""
    ensure_session_defaults(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events" and _events_ts_is_nanos(path):
        raw = spark.read.schema(EVENTS_RAW).parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def parallelize_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin-repartition a scan UP to the session's shuffle
    parallelism — only when it arrives with fewer splits.

    Fixture parquet files hold a single row group, so Spark cannot
    split the scan and every downstream narrow stage (md5 hashing,
    HOF arithmetic, Arrow-batched Python) runs on ONE task. A 100 TB
    table scan already has thousands of splits, so this is a no-op
    there — the guard means we never force a gratuitous full shuffle
    of a big table just to round partition counts.

    Use it before compute-heavy per-row stages; plain filters/projections
    over built-ins don't need it (they're I/O-bound, not CPU-bound).
    """
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() < n_parts:
        return df.repartition(n_parts)
    return df


def parallelize_codec_scan(
    df: DataFrame, spark: SparkSession, bytes_per_task: int = 64 * 1024
) -> DataFrame:
    """`parallelize_scan` for interpreter-bound codec stages (the
    Avro/Kafka/Protobuf/WARC encode/decode `mapInPandas` hot loops),
    with the task count PROPORTIONAL TO INPUT BYTES instead of always
    the full session parallelism.

    Rationale (r14, measured): spreading a one-split scan to all 32
    session partitions is a big win when the codec has seconds of
    Python work (scan_avro_import 4.5 → 1.9 s, scan_kafka_import
    2.6 → 1.5 s) but a REGRESSION when the input is tiny — each task
    pays Python-worker dispatch + by-value module deserialization, so
    32 tasks for ~0.3 s of total work ran 2-7× slower
    (scan_warc_import 0.8 → 5.8 s before this guard). Sizing tasks to
    ~``bytes_per_task`` of input keeps per-task codec work well above
    the dispatch cost at any input size; the cap at the session's
    shuffle parallelism and the "only when fewer splits" guard are
    unchanged from parallelize_scan, so at real scale (many splits)
    this is a no-op exactly like its parent.

    The sized fan-out is also capped at ``defaultParallelism`` (the
    cores): N tasks on fewer cores run in two waves, the second mostly
    idle (5 tasks on 4 cores at sf0.01), and a codec stager writes one
    staged file per task. With at most one file per core, Spark's
    file-split packing (``bytesPerCore`` in ``FilePartition``) gives
    every staged file its own read split, so the decode runs over the
    staged files as they are, one task per file, with no re-spread.

    Bytes come from the scan's file listing (driver-side metadata, no
    job). Non-local/unlistable inputs fall back to full fan-out.

    r15 (ADVICE r14, low): an EMPTY listing (non-file source) now also
    falls back to full fan-out — total=0 used to yield target=1 and
    silently serialize the codec, the opposite of the docstring's
    contract — and listed URIs are percent-DECODED before getsize, so
    local paths with spaces/non-ASCII stay on the sized path instead of
    raising into the full-fan-out fallback (re-introducing the
    tiny-input regression this sizing exists to prevent)."""
    import os as _os
    from urllib.parse import unquote as _unquote, urlparse as _urlparse

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        files = df.inputFiles()
        if not files:
            return parallelize_scan(df, spark)
        total = 0
        for f in files:
            parsed = _urlparse(f)
            if parsed.scheme not in ("", "file"):
                return parallelize_scan(df, spark)
            local = _unquote(parsed.path) if parsed.scheme else f
            total += _os.path.getsize(local)
        cap = min(n_parts, spark.sparkContext.defaultParallelism)
        target = max(1, min(cap, (total + bytes_per_task - 1) // bytes_per_task))
    except Exception:  # listing failed: behave like parallelize_scan
        return parallelize_scan(df, spark)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(int(target))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture table as a temp view (SQL entry point, SURVEY §3.2)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


DEFAULT_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_dir(subdir: str = "") -> str:
    """Writable scratch root for sink round-trips: ``$SPARK_GRAFT_SCRATCH``
    if set, else the gitignored ``.scratch`` beside this package — so
    each checkout of the tree stages into its own directory, never into
    another copy's."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH", DEFAULT_SCRATCH)
    path = os.path.join(root, subdir) if subdir else root
    os.makedirs(path, exist_ok=True)
    return path

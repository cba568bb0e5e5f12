"""ClickHouse JDBC sink (SURVEY §2.1 `sink_clickhouse_jdbc` — the
reference's defining operator: batched INSERT into ClickHouse over
JDBC, BASELINE.json "ClickHouse JDBC sink").

No ClickHouse server exists in this environment, so the module is
factored exactly at the testable seam:

- `ch_type` / `ddl_for`: Spark schema → ClickHouse DDL (the reverse
  of the SURVEY §1.2 type map) — pure string generation, unit-tested
  in tests/test_sinks.py;
- `jdbc_writer`: a fully-configured DataFrameWriter (driver class,
  batchsize, isolation) that the caller `.save()`s when a server is
  reachable;
- `stamp_batch`: the idempotence stamp — ClickHouse deduplicates
  identical insert blocks, and a `_batch_id` column makes replays
  deduplicable downstream too (`sink_idempotent_batch`,
  `stream_foreachbatch_sink`); `batch_count` counts the stamps a
  verify report re-reads.

The wire layer below the SQL seam lives in ``sink/rowbinary.py``
and ``sink/native.py`` (round 4): DataFrame rows → ClickHouse
RowBinary (row-wise, full type coverage) or Native (column-wise, the
server's preferred bulk path) insert blocks, byte-golden-tested,
sized by `plan_insert_blocks` and tokenized per block by
`dedup_token` — so a live-server integration is
`insert_sql(...) + POST payload` and nothing else.

Scale notes (100 TB): one JDBC connection per partition writes
`batchsize`-row insert blocks; size partitions so a block is a few
hundred MB uncompressed (repartition before write), order rows by the
destination table's ORDER BY key within partitions so MergeTree parts
arrive pre-sorted, and keep `isolationLevel=NONE` (CH has no
transactions — retries rely on the batch stamp, not rollback).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

DEFAULT_BATCH_SIZE = 100_000
JDBC_DRIVER = "com.clickhouse.jdbc.ClickHouseDriver"


def ch_type(dt: DataType, nullable: bool = False) -> str:
    """Spark type → ClickHouse type (reverse of SURVEY §1.2)."""
    if isinstance(dt, ByteType):
        base = "Int8"
    elif isinstance(dt, ShortType):
        base = "Int16"
    elif isinstance(dt, IntegerType):
        base = "Int32"
    elif isinstance(dt, LongType):
        base = "Int64"
    elif isinstance(dt, FloatType):
        base = "Float32"
    elif isinstance(dt, DoubleType):
        base = "Float64"
    elif isinstance(dt, DecimalType):
        base = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, StringType):
        base = "String"
    elif isinstance(dt, BinaryType):
        base = "String"
    elif isinstance(dt, BooleanType):
        base = "Bool"
    elif isinstance(dt, DateType):
        base = "Date32"
    elif isinstance(dt, TimestampType):
        base = "DateTime64(6)"  # Spark timestamps are µs precision
    elif isinstance(dt, ArrayType):
        # element nullability follows the Spark schema: CH forbids
        # Nullable(Array) but allows Array(Nullable(T)), and the
        # RowBinary encoder keys per-element markers off containsNull —
        # the declared type text must agree with the payload bytes
        base = f"Array({ch_type(dt.elementType, dt.containsNull)})"
    elif isinstance(dt, MapType):
        # CH map keys are never Nullable; value nullability follows
        # valueContainsNull for the same bytes-agree-with-DDL reason
        base = (
            f"Map({ch_type(dt.keyType, False)}, "
            f"{ch_type(dt.valueType, dt.valueContainsNull)})"
        )
    elif isinstance(dt, StructType):
        # named Tuple; CH forbids Nullable(Tuple) but allows Nullable
        # fields — per-field nullability from the Spark struct fields
        base = "Tuple(" + ", ".join(
            f"{f.name} {ch_type(f.dataType, f.nullable)}" for f in dt.fields
        ) + ")"
    else:
        raise TypeError(f"no ClickHouse mapping for Spark type {dt.simpleString()}")
    if nullable and not isinstance(dt, (ArrayType, MapType, StructType)):
        return f"Nullable({base})"
    return base


def ddl_for(
    schema: StructType,
    table: str,
    order_by: list[str],
    engine: str = "MergeTree",
    partition_by: str | None = None,
    ttl: str | None = None,
    settings: dict[str, str] | None = None,
) -> str:
    """CREATE TABLE DDL for a Spark schema. ORDER BY columns are never
    Nullable (MergeTree key constraint); optional PARTITION BY / TTL /
    SETTINGS clauses follow ClickHouse's documented clause order."""
    key = set(order_by)
    cols = ",\n  ".join(
        f"`{f.name}` {ch_type(f.dataType, f.nullable and f.name not in key)}"
        for f in schema.fields
    )
    ddl = f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n) ENGINE = {engine}()"
    if partition_by:
        ddl += f"\nPARTITION BY {partition_by}"
    ddl += "\nORDER BY (" + ", ".join(f"`{c}`" for c in order_by) + ")"
    if ttl:
        ddl += f"\nTTL {ttl}"
    if settings:
        ddl += "\nSETTINGS " + ", ".join(f"{k} = {v}" for k, v in settings.items())
    return ddl


# MergeTree layout for every fixture table (SURVEY §1.1 schemas):
# ORDER BY = the dominant filter/join key prefix; PARTITION BY = the
# natural time-pruning column where one exists; TTL on the mutable
# event stream. At 100 TB these choices drive partition pruning and
# part-merge behavior — they are the ClickHouse analog of the repo's
# Spark-side partitioned-parquet layout (sink_parquet_partitioned).
FIXTURE_TABLE_SPECS: dict[str, dict] = {
    "region": {"order_by": ["r_regionkey"]},
    "nation": {"order_by": ["n_nationkey"]},
    "customer": {"order_by": ["c_custkey"]},
    "supplier": {"order_by": ["s_suppkey"]},
    "part": {"order_by": ["p_partkey"]},
    "orders": {
        "order_by": ["o_custkey", "o_orderkey"],
        "partition_by": "toYYYYMM(`o_orderdate`)",
    },
    "lineitem": {
        "order_by": ["l_orderkey", "l_linenumber"],
        "partition_by": "toYYYYMM(`l_shipdate`)",
    },
    "events": {
        "order_by": ["user_id", "ts"],
        "partition_by": "toYYYYMM(`ts`)",
        "ttl": "`ts` + INTERVAL 180 DAY",
    },
    "documents": {"order_by": ["doc_id"]},
    "embeddings": {"order_by": ["vec_id"]},
}


def fixture_ddl(table: str) -> str:
    """MergeTree DDL for a fixture table from its measured Spark schema
    + the spec above (golden-file-tested in tests/test_sinks.py)."""
    from etl_ch_destination_spark.schemas import TABLE_SCHEMAS

    spec = FIXTURE_TABLE_SPECS[table]
    schema = TABLE_SCHEMAS[table]
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return ddl_for(
        schema,
        table,
        spec["order_by"],
        partition_by=spec.get("partition_by"),
        ttl=spec.get("ttl"),
    )


def dedup_token(table: str, batch_id: str, block_index: int = 0) -> str:
    """Deterministic `insert_deduplication_token` for a (table, batch,
    block) triple. ClickHouse drops an insert whose token it has seen
    in the dedup window, so a crashed-and-retried writer re-sending the
    same logical block is a no-op server-side — exactly-once delivery
    without transactions. The token must be stable across retries
    (derive from logical identity, never from wall-clock)."""
    import hashlib

    raw = f"{table}\x00{batch_id}\x00{block_index}".encode()
    return hashlib.sha256(raw).hexdigest()[:32]


def insert_sql(
    table: str,
    columns: list[str],
    token: str | None = None,
    extra_settings: dict[str, str] | None = None,
    fmt: str = "RowBinary",
) -> str:
    """INSERT statement head with a SETTINGS clause (token + overrides)
    — the SQL a token-aware writer issues per block; JDBC's plain
    batched INSERT path cannot carry per-insert settings, so the token
    path goes through `insert_sql` + raw statement execution. ``fmt``
    names the payload encoding: "RowBinary" (sink/rowbinary.py) or
    "Native" (sink/native.py)."""
    settings = {}
    if token:
        settings["insert_deduplication_token"] = f"'{token}'"
    settings.update(extra_settings or {})
    head = f"INSERT INTO {table} (" + ", ".join(f"`{c}`" for c in columns) + ")"
    if settings:
        head += "\nSETTINGS " + ", ".join(f"{k} = {v}" for k, v in settings.items())
    return head + f"\nFORMAT {fmt}"


# Static per-type row-size estimate (bytes, uncompressed insert block).
_TYPE_BYTES: list[tuple[type, int]] = [
    (ByteType, 1), (ShortType, 2), (IntegerType, 4), (BooleanType, 1),
    (LongType, 8), (FloatType, 4), (DoubleType, 8), (DateType, 4),
    (TimestampType, 8), (DecimalType, 16),
]
_VAR_TYPE_DEFAULT = 48  # strings/binaries: conservative average


def estimate_row_bytes(schema: StructType) -> int:
    """Schema-static estimate of uncompressed bytes per row (arrays/
    maps assume ~8 elements of their value type)."""

    def one(dt: DataType) -> int:
        for t, n in _TYPE_BYTES:
            if isinstance(dt, t):
                return n
        if isinstance(dt, ArrayType):
            return 8 * one(dt.elementType)
        if isinstance(dt, MapType):
            return 8 * (one(dt.keyType) + one(dt.valueType))
        if isinstance(dt, StructType):
            return sum(one(f.dataType) for f in dt.fields)
        return _VAR_TYPE_DEFAULT

    return max(1, sum(one(f.dataType) for f in schema.fields))


def plan_insert_blocks(
    row_count: int, row_bytes: int, max_block_bytes: int = 256 << 20
) -> tuple[int, int]:
    """(n_blocks, rows_per_block) so no insert block exceeds
    ``max_block_bytes`` uncompressed. Pure arithmetic — callers supply
    the row count they already know (or pay one count() job)."""
    rows_per_block = max(1, max_block_bytes // max(1, row_bytes))
    n_blocks = max(1, -(-row_count // rows_per_block))
    return n_blocks, rows_per_block


def repartition_for_blocks(
    df: DataFrame, row_count: int, max_block_bytes: int = 256 << 20
) -> tuple[DataFrame, int]:
    """Repartition so each partition's rows fit one insert block
    (one JDBC connection writes one block per partition batch). Returns
    (df, n_blocks). An oversized batch thus becomes several
    independently-retryable, independently-tokenized blocks instead of
    one giant insert the server would reject (max_insert_block_size)."""
    n_blocks, _ = plan_insert_blocks(
        row_count, estimate_row_bytes(df.schema), max_block_bytes
    )
    return df.repartition(n_blocks), n_blocks


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    mode: str = "append",
):
    """Configured JDBC writer for a ClickHouse destination. The caller
    invokes ``.save()``; not executed here (no server in this env)."""
    return (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", JDBC_DRIVER)
        .option("batchsize", str(batch_size))
        .option("isolationLevel", "NONE")
        .mode(mode)
    )


def stamp_batch(df: DataFrame, batch_id: str) -> DataFrame:
    """Stamp a replay-stable batch id so re-delivered batches are
    deduplicable (`dropDuplicates(['_batch_id', key])` downstream)."""
    return df.withColumn("_batch_id", F.lit(batch_id))


def batch_count() -> Column:
    """Number of distinct batch stamps in a group, as ``bigint`` — what
    ``countDistinct("_batch_id")`` gives (exact, NULLs ignored) without
    the distinct aggregate's second exchange: the stamp set per group is
    tiny, so it is collected and sized in one partial/final pass."""
    return F.size(F.collect_set("_batch_id")).cast("bigint")


def jdbc_insert_statement(table: str, columns: list[str]) -> str:
    """The exact parameterized batched-INSERT statement the JDBC path
    issues per `batchsize` rows — mirrors Spark's
    `JdbcUtils.getInsertStatement` under the default dialect (no
    ClickHouse-specific dialect ships with Spark, so identifiers get
    double-quote quoting), BYTE-EXACTLY: Spark joins both the column
    list and the placeholder list with ``mkString(",")`` — a bare
    comma, no space (ADVICE r6). Pinned by the golden-file test so a
    Spark upgrade or dialect change can never silently alter what the
    server receives."""
    cols = ",".join(f'"{c}"' for c in columns)
    marks = ",".join("?" for _ in columns)
    return f"INSERT INTO {table} ({cols}) VALUES ({marks})"


POST_REPORT_SCHEMA = (
    "block_rows INT, payload_sha STRING, token STRING, http_status INT"
)


def post_blocks(
    blocks: DataFrame,
    endpoint: str,
    table: str,
    columns: list[str],
    fmt: str = "RowBinary",
    batch_id: str = "batch-0",
    database: str = "default",
    timeout_sec: float = 30.0,
    salt_block_ordinal: bool = False,
) -> DataFrame:
    """POST encoded insert blocks (``rowbinary_blocks`` /
    ``native_blocks`` output: the ``sink/wire.py`` ``BLOCK_SCHEMA``
    frame, block_rows + payload) to a ClickHouse HTTP endpoint — one
    request per block, issued FROM THE EXECUTORS
    (mapInPandas), so a 1000-executor cluster fans its inserts out
    without funnelling bytes through the driver.

    Each block's `insert_deduplication_token` is CONTENT-DERIVED:
    sha256(table ⊕ batch_id ⊕ sha256(payload)). A failed task that
    Spark retries re-sends byte-identical blocks under identical
    tokens, which the server drops inside its dedup window — the same
    block-hash semantics ClickHouse applies natively, made explicit
    and batch-scoped. Returns a lazy per-block report frame
    (block_rows, payload_sha, token, http_status); the POSTs execute
    when the report is consumed. Non-2xx responses raise in the task
    (→ Spark retry → same tokens → no duplicates).

    CAVEAT (ADVICE r6) — content-derived tokens collapse IDENTICAL
    blocks: two byte-identical blocks in the same batch (legitimately
    duplicated rows that happen to fill whole blocks identically) get
    the same token, and the server silently drops the second. That is
    exactly ClickHouse's native block-hash dedup semantics, but it IS
    a silent data drop from the caller's perspective. Callers that
    must preserve duplicate blocks pass ``salt_block_ordinal=True``,
    which mixes (partitionId, in-partition block ordinal) into the
    token: duplicate blocks then survive, and plain task RETRIES still
    dedup (a retry re-runs the same partition → same ordinals) — but a
    re-SLICED retry (repartition between attempts, e.g. a foreachBatch
    replay over a differently-partitioned frame) re-sends under new
    tokens and duplicates. Pick per sink: exactly-once under re-slicing
    (default) XOR duplicate-block preservation (salted).

    The worker closure captures only plain strings/floats; like all
    engine code it ships by value (the package registration in
    etl_ch_destination_spark/__init__.py)."""
    from urllib.parse import urlencode

    path, params = http_insert_request(
        table, columns, token=None, fmt=fmt, database=database
    )
    base_url = endpoint.rstrip("/") + path + "?" + urlencode(params)

    def send(batches):
        import hashlib
        import urllib.request

        import pandas as pd

        if salt_block_ordinal:
            from pyspark import TaskContext

            tc = TaskContext.get()
            part = tc.partitionId() if tc is not None else -1
        ordinal = 0
        for pdf in batches:
            rows: dict[str, list] = {
                "block_rows": [], "payload_sha": [], "token": [],
                "http_status": [],
            }
            for n, payload in zip(pdf["block_rows"], pdf["payload"]):
                payload = bytes(payload)
                sha = hashlib.sha256(payload).hexdigest()
                raw = f"{table}\x00{batch_id}\x00{sha}".encode()
                if salt_block_ordinal:
                    raw += f"\x00{part}\x00{ordinal}".encode()
                ordinal += 1
                token = hashlib.sha256(raw).hexdigest()[:32]
                req = urllib.request.Request(
                    f"{base_url}&insert_deduplication_token={token}",
                    data=payload,
                    method="POST",
                    headers={"Content-Type": "application/octet-stream"},
                )
                with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
                    status = resp.status
                rows["block_rows"].append(int(n))
                rows["payload_sha"].append(sha)
                rows["token"].append(token)
                rows["http_status"].append(int(status))
            yield pd.DataFrame(rows)

    return blocks.mapInPandas(send, schema=POST_REPORT_SCHEMA)


def http_insert_request(
    table: str,
    columns: list[str],
    token: str | None = None,
    fmt: str = "RowBinary",
    database: str = "default",
    extra_settings: dict[str, str] | None = None,
) -> tuple[str, dict[str, str]]:
    """(path, query_params) for a ClickHouse HTTP-interface insert —
    the transport that pairs with the block encoders: POST the
    RowBinary/Native payload as the request body to ``path`` with
    these params. Settings (dedup token included) ride as HTTP query
    parameters, which the HTTP interface accepts for any server
    setting — so the token works here even though plain JDBC batching
    can't carry it. Pure function, golden-tested; no I/O here."""
    query = f"INSERT INTO {table} (" + ", ".join(f"`{c}`" for c in columns) + f") FORMAT {fmt}"
    params: dict[str, str] = {"database": database, "query": query}
    if token:
        params["insert_deduplication_token"] = token
    for k, v in (extra_settings or {}).items():
        params[k] = v
    return "/", params

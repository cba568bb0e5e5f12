"""Sink layer: ClickHouse DDL generation (the unit-testable seam of
sink_clickhouse_jdbc), sorted-sink file ordering, idempotent replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    NullType,
    StringType,
    TimestampType,
)


def test_ch_type_mapping():
    from etl_ch_destination_spark.sink.clickhouse import ch_type

    assert ch_type(LongType()) == "Int64"
    assert ch_type(IntegerType(), nullable=True) == "Nullable(Int32)"
    assert ch_type(DoubleType()) == "Float64"
    assert ch_type(DecimalType(12, 2)) == "Decimal(12, 2)"
    assert ch_type(TimestampType()) == "DateTime64(6)"
    # element nullability follows the Spark schema (ADVICE r4: the
    # declared type text must agree with the per-element marker bytes
    # the RowBinary encoder keys off containsNull)
    assert ch_type(ArrayType(FloatType(), containsNull=False)) == "Array(Float32)"
    assert (
        ch_type(ArrayType(FloatType(), containsNull=True))
        == "Array(Nullable(Float32))"
    )
    # the wrapper ignores nullable on container types (CH forbids
    # Nullable(Array)); inner nullability still follows containsNull
    assert (
        ch_type(ArrayType(StringType(), containsNull=False), nullable=True)
        == "Array(String)"
    )
    from pyspark.sql.types import MapType, StructField, StructType

    assert (
        ch_type(MapType(StringType(), LongType(), valueContainsNull=True))
        == "Map(String, Nullable(Int64))"
    )
    assert (
        ch_type(MapType(StringType(), LongType(), valueContainsNull=False))
        == "Map(String, Int64)"
    )
    # structs map to named Tuple with per-field nullability; CH forbids
    # Nullable(Tuple) so the wrapper is ignored at the top level
    st = StructType(
        [
            StructField("a", LongType(), nullable=False),
            StructField("b", StringType(), nullable=True),
        ]
    )
    assert ch_type(st, nullable=True) == "Tuple(a Int64, b Nullable(String))"
    with pytest.raises(TypeError):
        ch_type(NullType())


def test_ddl_for_orders_schema(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.sink.clickhouse import ddl_for

    o = load_table(spark, sf_dir, "orders")
    ddl = ddl_for(
        o.schema, "orders", order_by=["o_orderkey"], partition_by="toYYYYMM(o_orderdate)"
    )
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS orders")
    assert "ENGINE = MergeTree()" in ddl
    assert "PARTITION BY toYYYYMM(o_orderdate)" in ddl
    assert "ORDER BY (`o_orderkey`)" in ddl
    # the ORDER BY key column must not be Nullable; non-key columns are
    assert "`o_orderkey` Int64" in ddl
    assert "`o_totalprice` Nullable(Float64)" in ddl


def test_jdbc_writer_is_configured(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.sink.clickhouse import jdbc_writer

    o = load_table(spark, sf_dir, "orders")
    w = jdbc_writer(o, "jdbc:clickhouse://localhost:8123/default", "orders", 50_000)
    # not executed (no server); the writer object must exist and be JDBC
    assert w is not None


def test_sorted_sink_files_are_sorted_within(spark, sf_dir):
    """sink_sorted_by_key promise: each written file holds one hash
    bucket of orders, rows sorted by (l_orderkey, l_linenumber)."""
    from pyspark.sql.window import Window

    from etl_ch_destination_spark.queries.sources_sinks import _scratch, sink_sorted_by_key

    sink_sorted_by_key(spark, sf_dir)  # triggers the write
    path = _scratch(sf_dir, "sink_sorted_by_key")
    back = (
        spark.read.parquet(path)
        .withColumn("fid", F.input_file_name())
        .withColumn("seq", F.monotonically_increasing_id())
    )
    w = Window.partitionBy("fid").orderBy("seq")
    keyed = back.withColumn(
        "prev_ok",
        (F.lag("l_orderkey").over(w).isNull())
        | (F.lag("l_orderkey").over(w) < F.col("l_orderkey"))
        | (
            (F.lag("l_orderkey").over(w) == F.col("l_orderkey"))
            & (F.lag("l_linenumber").over(w) <= F.col("l_linenumber"))
        ),
    )
    assert keyed.filter(~F.col("prev_ok")).count() == 0


def test_shard_export_is_balanced_one_file_per_shard(spark, sf_dir):
    """sink_shard_balanced promises: (a) every shard directory holds
    exactly ONE file (the repartition co-located it in one task);
    (b) shard sizes are balanced — md5 spreads uniformly, so no shard
    exceeds 3x the mean at fixture scale; (c) shard assignment is
    deterministic: a second export produces byte-identical stats."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        N_SHARDS,
        _scratch,
        sink_shard_balanced,
    )

    first = sink_shard_balanced(spark, sf_dir).collect()
    path = _scratch(sf_dir, "sink_shard_balanced")
    back = spark.read.parquet(path)
    files_per_shard = (
        back.withColumn("fid", F.input_file_name())
        .groupBy("shard")
        .agg(F.countDistinct("fid").alias("nf"))
        .collect()
    )
    assert len(files_per_shard) == N_SHARDS
    assert all(r.nf == 1 for r in files_per_shard)

    counts = sorted(r.n_docs for r in first)
    mean = sum(counts) / len(counts)
    assert counts[-1] <= 3 * mean and counts[0] > 0

    second = sink_shard_balanced(spark, sf_dir).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_idempotent_batch_replay_collapses(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import sink_idempotent_batch

    orders_n = load_table(spark, sf_dir, "orders").count()
    deduped = sink_idempotent_batch(spark, sf_dir)
    assert deduped.count() == orders_n


def test_batch_count_matches_count_distinct(spark):
    from etl_ch_destination_spark.sink.clickhouse import batch_count

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (1, None), (2, None)], "g int, _batch_id string"
    )
    got = df.groupBy("g").agg(
        batch_count().alias("n"), F.countDistinct("_batch_id").alias("nd")
    )
    assert got.schema["n"].dataType == got.schema["nd"].dataType == LongType()
    assert sorted((r.g, r.n, r.nd) for r in got.collect()) == [(1, 2, 2), (2, 0, 0)]


def test_bucketed_join_eliminates_shuffles(spark, sf_dir):
    """The whole point of the bucketed layout: with broadcast disabled,
    the co-located join must plan a SortMergeJoin with NO exchange on
    either input (bucket files feed the join directly)."""
    import io
    from contextlib import redirect_stdout

    from etl_ch_destination_spark.queries.sources_sinks import sink_bucketed_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = sink_bucketed_join(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        join_part = plan.split("SortMergeJoin")[0]  # everything feeding the join
        assert "Exchange hashpartitioning" not in join_part, join_part
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_files_collapses_fragment_count(spark, sf_dir):
    """sink_compact_files must end with far fewer, larger files than
    the 64-way fragmented staging it starts from."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import _scratch, sink_compact_files

    sink_compact_files(spark, sf_dir)  # triggers stage + compact

    def parquet_files(path):
        return [
            os.path.join(root, f)
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        ]

    frag = parquet_files(_scratch(sf_dir, "sink_compact_files/frag"))
    out = parquet_files(_scratch(sf_dir, "sink_compact_files/out"))
    assert len(frag) == 64
    assert 1 <= len(out) < len(frag) / 4
    # content preserved (row counts; value totals are the oracle's job)
    n_frag = spark.read.parquet(*frag).count()
    n_out = spark.read.parquet(*out).count()
    assert n_frag == n_out


def test_partitioned_sink_reread_prunes_partitions(spark, sf_dir):
    """The partitioned sink's value IS directory pruning: a filter on
    the partition column must land in PartitionFilters (pruned at
    planning), never as a post-scan predicate over all partitions."""
    from pyspark.sql import functions as F

    from etl_ch_destination_spark.catalog import load_table, scratch_dir
    from conftest import plan_of

    path = scratch_dir("test_partition_pruning")
    o = load_table(spark, sf_dir, "orders")
    o.withColumn("ym", F.date_format("o_orderdate", "yyyy-MM")).write.mode(
        "overwrite"
    ).partitionBy("ym").parquet(path)
    back = spark.read.parquet(path).filter(F.col("ym") == "1997-03")
    plan = plan_of(back)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan
    assert "ym" in " ".join(pf)
    # pruned scan reads only the one partition's rows
    expect = o.filter(F.date_format("o_orderdate", "yyyy-MM") == "1997-03").count()
    assert back.count() == expect > 0


def test_batch_etl_job_rerun_is_idempotent(spark, sf_dir):
    """Running the composed ETL job twice (fresh batch id the second
    time) must overwrite, not append: the verification report is
    identical and every partition carries exactly the latest stamp."""
    from conftest import rows_set

    from etl_ch_destination_spark.catalog import scratch_dir
    from etl_ch_destination_spark.jobs.batch_etl import run_batch_etl

    out = scratch_dir("test_batch_etl_rerun")
    r1 = rows_set(run_batch_etl(spark, sf_dir, out, batch_id="b1"))
    r2 = rows_set(run_batch_etl(spark, sf_dir, out, batch_id="b2"))
    assert r1 == r2 and len(r1) > 0
    back = spark.read.parquet(f"{out}/events_loaded")
    stamps = [r["_batch_id"] for r in back.select("_batch_id").distinct().collect()]
    assert stamps == ["b2"]


def test_fixture_ddl_golden_events(spark):
    """Golden DDL: PARTITION BY / ORDER BY / TTL clause order and
    content for the mutable event stream."""
    from etl_ch_destination_spark.sink.clickhouse import fixture_ddl

    assert fixture_ddl("events") == (
        "CREATE TABLE IF NOT EXISTS events (\n"
        "  `event_id` Nullable(Int64),\n"
        "  `ts` DateTime64(6),\n"
        "  `user_id` Int64,\n"
        "  `event_type` Nullable(String),\n"
        "  `value` Nullable(Float64),\n"
        "  `props` Nullable(String)\n"
        ") ENGINE = MergeTree()\n"
        "PARTITION BY toYYYYMM(`ts`)\n"
        "ORDER BY (`user_id`, `ts`)\n"
        "TTL `ts` + INTERVAL 180 DAY"
    )


def test_fixture_ddl_covers_every_table(spark):
    from etl_ch_destination_spark.schemas import TABLES
    from etl_ch_destination_spark.sink.clickhouse import (
        FIXTURE_TABLE_SPECS,
        fixture_ddl,
    )

    assert set(FIXTURE_TABLE_SPECS) == set(TABLES)
    for t in TABLES:
        ddl = fixture_ddl(t)
        assert ddl.startswith(f"CREATE TABLE IF NOT EXISTS {t} (")
        assert "ORDER BY (" in ddl
        # MergeTree key columns are never Nullable
        for c in FIXTURE_TABLE_SPECS[t]["order_by"]:
            assert f"`{c}` Nullable(" not in ddl


def test_dedup_token_is_stable_and_block_scoped():
    from etl_ch_destination_spark.sink.clickhouse import dedup_token

    a = dedup_token("orders", "batch-0007", 0)
    assert a == dedup_token("orders", "batch-0007", 0)  # retry-stable
    assert a != dedup_token("orders", "batch-0007", 1)  # per-block
    assert a != dedup_token("orders", "batch-0008", 0)  # per-batch
    assert len(a) == 32 and all(c in "0123456789abcdef" for c in a)


def test_insert_sql_carries_token_settings():
    from etl_ch_destination_spark.sink.clickhouse import dedup_token, insert_sql

    tok = dedup_token("events", "b1", 2)
    sql = insert_sql("events", ["event_id", "ts"], token=tok,
                     extra_settings={"max_insert_block_size": "1048576"})
    assert sql == (
        "INSERT INTO events (`event_id`, `ts`)\n"
        f"SETTINGS insert_deduplication_token = '{tok}', "
        "max_insert_block_size = 1048576\n"
        "FORMAT RowBinary"
    )


def test_insert_block_planning_splits_oversized_batches(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.sink.clickhouse import (
        estimate_row_bytes,
        plan_insert_blocks,
        repartition_for_blocks,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rb = estimate_row_bytes(li.schema)
    assert rb > 50  # 16 columns incl. strings/dates
    n_blocks, rows_per_block = plan_insert_blocks(10_000_000, rb, 256 << 20)
    assert n_blocks == -(-10_000_000 // rows_per_block)
    assert rows_per_block * rb <= 256 << 20
    # tiny frame → one block; the repartition really takes effect
    small, n = repartition_for_blocks(li.limit(100), 100)
    assert n == 1
    assert small.rdd.getNumPartitions() == 1


def test_http_insert_request_golden():
    """The HTTP transport seam: POST body = encoder output, params
    carry the insert statement + dedup token as server settings."""
    from etl_ch_destination_spark.sink.clickhouse import (
        dedup_token,
        http_insert_request,
    )

    tok = dedup_token("events", "batch-7", 3)
    path, params = http_insert_request(
        "events", ["event_id", "ts"], token=tok, fmt="Native"
    )
    assert path == "/"
    assert params["database"] == "default"
    assert params["query"] == "INSERT INTO events (`event_id`, `ts`) FORMAT Native"
    assert params["insert_deduplication_token"] == tok
    # token is deterministic across retries — same triple, same token
    assert tok == dedup_token("events", "batch-7", 3)
    assert tok != dedup_token("events", "batch-7", 4)


def test_http_insert_request_defaults_rowbinary():
    from etl_ch_destination_spark.sink.clickhouse import http_insert_request

    _, params = http_insert_request("t", ["a"])
    assert params["query"].endswith("FORMAT RowBinary")
    assert "insert_deduplication_token" not in params


def test_schema_evolution_merges_additive_column(spark, sf_dir):
    """mergeSchema surfaces the evolved column as NULL for
    pre-evolution files and intact for post-evolution files; row
    counts per batch cover the corpus exactly."""
    from pyspark.sql import functions as F

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import scan_schema_evolution

    d = load_table(spark, sf_dir, "documents")
    n_even = d.filter(F.col("doc_id") % 2 == 0).count()
    n_odd = d.filter(F.col("doc_id") % 2 == 1).count()
    rows = {r.batch: r for r in scan_schema_evolution(spark, sf_dir).collect()}
    assert set(rows) == {"v1", "v2"}
    assert rows["v1"].n_docs == n_even
    assert rows["v2"].n_docs == n_odd
    # v1 never had the column -> NULL everywhere; v2 carries real values
    assert rows["v1"].n_lang_null == n_even
    assert rows["v1"].n_langs == 0
    assert rows["v2"].n_langs > 0


def test_sink_ttl_expire_rewrites_only_survivors(spark, sf_dir):
    """TTL expire-and-rewrite: expired + kept partitions the table
    exactly, the rewritten part contains no row past the deadline, and
    the report's totals come from the re-read survivors."""
    import datetime as dt

    from etl_ch_destination_spark.queries.sources_sinks import (
        TTL_DAYS,
        _scratch,
        sink_ttl_expire,
    )
    from etl_ch_destination_spark.catalog import load_table

    rep = sink_ttl_expire(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    n_total = e.count()
    assert sum(r.n_total for r in rep) == n_total
    assert all(r.n_kept + r.n_expired == r.n_total for r in rep)
    # something must actually expire AND survive at every fixture SF
    assert sum(r.n_expired for r in rep) > 0
    assert sum(r.n_kept for r in rep) > 0

    mx = e.agg(F.max("ts").alias("m")).collect()[0].m
    cutoff = mx - dt.timedelta(days=TTL_DAYS)
    back = spark.read.parquet(_scratch(sf_dir, "sink_ttl_expire"))
    assert back.count() == sum(r.n_kept for r in rep)
    assert back.filter(F.col("ts") < F.lit(cutoff)).count() == 0


def test_clickhouse_sql_surface_golden_file(spark):
    """VERDICT r5 #3: the complete generated SQL surface — fixture
    DDL, the JDBC batched-INSERT statement Spark's JdbcUtils issues,
    and the tokenized HTTP/raw insert heads — pinned byte-for-byte in
    tests/golden_clickhouse.sql. Regenerate deliberately with
    tools/gen_clickhouse_golden.py and review the diff."""
    import os

    from tools.gen_clickhouse_golden import GOLDEN_PATH, render

    with open(GOLDEN_PATH) as f:
        golden = f.read()
    assert render() == golden
    assert os.path.basename(GOLDEN_PATH) == "golden_clickhouse.sql"


def test_jdbc_insert_statement_shape():
    # byte-exact vs Spark JdbcUtils.getInsertStatement: mkString(",")
    # joins with a bare comma, no space (ADVICE r6)
    from etl_ch_destination_spark.sink.clickhouse import jdbc_insert_statement

    assert jdbc_insert_statement("t", ["a", "b c"]) == (
        'INSERT INTO t ("a","b c") VALUES (?,?)'
    )


# ---------------------------------------------------------------------------
# Socket-level integration (VERDICT r6 #7): post_blocks against a live
# in-process HTTP server — the last seam short of a real ClickHouse
# server. Asserts the bytes RECEIVED on the socket equal the golden
# encoder's output byte-for-byte, and that the URL carries the same
# (query, format, token) triple that http_insert_request pins.
# ---------------------------------------------------------------------------


def _start_capture_server():
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    received = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 (http.server API)
            n = int(self.headers.get("Content-Length", "0"))
            body = self.rfile.read(n)
            with lock:
                received.append({"path": self.path, "body": body})
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")

        def log_message(self, *a):  # silence per-request stderr lines
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, received


def test_post_blocks_wire_bytes_match_golden_encoder(spark, sf_dir):
    """End-to-end request assembly → live socket → byte comparison."""
    import hashlib
    from urllib.parse import parse_qs, urlparse

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.sink.clickhouse import post_blocks
    from etl_ch_destination_spark.sink.rowbinary import (
        encode_row,
        rowbinary_blocks,
    )

    df = (
        load_table(spark, sf_dir, "region")
        .coalesce(1)
        .sortWithinPartitions("r_regionkey")
    )
    cols = df.columns
    # golden bytes, computed driver-side by the same public encoder the
    # byte-golden tests pin — NOT by the code path under test
    expected_payload = b"".join(
        encode_row(df.schema, tuple(r)) for r in df.collect()
    )

    srv, received = _start_capture_server()
    try:
        endpoint = f"http://127.0.0.1:{srv.server_address[1]}"
        report = post_blocks(
            rowbinary_blocks(df),
            endpoint,
            "region",
            cols,
            fmt="RowBinary",
            batch_id="sock-batch-1",
        ).collect()
    finally:
        srv.shutdown()
        srv.server_close()

    assert len(report) == 1 and len(received) == 1
    assert report[0]["http_status"] == 200
    # the bytes on the wire are the golden encoder's bytes
    assert received[0]["body"] == expected_payload
    sha = hashlib.sha256(expected_payload).hexdigest()
    assert report[0]["payload_sha"] == sha

    url = urlparse(received[0]["path"])
    qs = parse_qs(url.query)
    from etl_ch_destination_spark.sink.clickhouse import http_insert_request

    _, params = http_insert_request("region", cols, fmt="RowBinary")
    assert qs["query"] == [params["query"]]
    assert "(`r_regionkey`, `r_name`)" in qs["query"][0]
    expected_token = hashlib.sha256(
        f"region\x00sock-batch-1\x00{sha}".encode()
    ).hexdigest()[:32]
    assert qs["insert_deduplication_token"] == [expected_token]
    assert report[0]["token"] == expected_token


def test_post_blocks_ordinal_salt_preserves_duplicate_blocks(spark):
    """Default tokens collapse byte-identical blocks (ClickHouse
    block-hash dedup semantics); salt_block_ordinal=True keeps them
    distinct (ADVICE r6 opt-out)."""
    from etl_ch_destination_spark.sink.clickhouse import post_blocks
    from etl_ch_destination_spark.sink.rowbinary import rowbinary_blocks

    # two byte-identical single-row blocks in one partition
    df = (
        spark.range(1)
        .selectExpr("CAST(7 AS INT) AS k", "'dup' AS v")
        .union(spark.range(1).selectExpr("CAST(7 AS INT) AS k", "'dup' AS v"))
        .coalesce(1)
    )
    blocks = rowbinary_blocks(df, rows_per_block=1)

    srv, received = _start_capture_server()
    try:
        endpoint = f"http://127.0.0.1:{srv.server_address[1]}"
        plain = post_blocks(
            blocks, endpoint, "t", ["k", "v"], batch_id="b1"
        ).collect()
        salted = post_blocks(
            blocks, endpoint, "t", ["k", "v"], batch_id="b1",
            salt_block_ordinal=True,
        ).collect()
    finally:
        srv.shutdown()
        srv.server_close()

    assert len(plain) == 2 and len(salted) == 2
    assert len(received) == 4 and all(
        r["body"] == received[0]["body"] for r in received
    )
    # content-derived: identical payload → identical token (server drops
    # the second block); salted: same payload, distinct tokens
    assert plain[0]["token"] == plain[1]["token"]
    assert salted[0]["token"] != salted[1]["token"]
    # salting is deterministic across re-runs of the same partitioning,
    # so plain task retries still dedup
    srv2, _ = _start_capture_server()
    try:
        salted_again = post_blocks(
            blocks,
            f"http://127.0.0.1:{srv2.server_address[1]}",
            "t",
            ["k", "v"],
            batch_id="b1",
            salt_block_ordinal=True,
        ).collect()
    finally:
        srv2.shutdown()
        srv2.server_close()
    assert sorted(r["token"] for r in salted_again) == sorted(
        r["token"] for r in salted
    )


def test_scratch_root_sits_beside_the_package(monkeypatch, tmp_path):
    """Without SPARK_GRAFT_SCRATCH the scratch root is the `.scratch`
    beside this checkout's package, so a copy of the tree never stages
    into another copy; the variable still wins when set."""
    import os

    import etl_ch_destination_spark
    from etl_ch_destination_spark.catalog import scratch_dir

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    pkg = os.path.dirname(os.path.abspath(etl_ch_destination_spark.__file__))
    assert scratch_dir() == os.path.join(os.path.dirname(pkg), ".scratch")

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert scratch_dir("sub") == os.path.join(str(tmp_path), "sub")

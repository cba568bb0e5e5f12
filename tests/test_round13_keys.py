"""Round-13 key gates: t-digest quantiles, Avro container round trip,
hex-grid bucketing."""

from __future__ import annotations

import decimal

import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------------------
# agg_quantile_tdigest
# ------------------------------------------------------------------


def _tdigest_replay(values_by_grp, delta, shards_of):
    """Pure-python replay of the pinned t-digest policy (build per
    shard over the sorted values, merge by mean order with
    (shard, bucket) tiebreak, interpolate at cumulative midpoints) —
    independent of both engines."""
    out = {}
    for grp, vals in values_by_grp.items():
        # per-shard build
        centroids = []  # (mean_key, shard, bucket, s, w)
        per_shard: dict[int, list[int]] = {}
        for key, cents in vals:
            per_shard.setdefault(shards_of(key), []).append(cents)
        for shard, cs in per_shard.items():
            cs.sort()
            n = len(cs)
            state: dict[int, list[int]] = {}
            for rn, c in enumerate(cs, start=1):
                b = (delta * (2 * rn - 1)) // (2 * n)
                st = state.setdefault(b, [0, 0])
                st[0] += c
                st[1] += 1
            for b, (s, w) in state.items():
                centroids.append((s / w, shard, b, s, w))
        # pinned merge
        centroids.sort(key=lambda t: (t[0], t[1], t[2]))
        total = sum(w for *_, w in centroids)
        cum = 0
        merged: dict[int, list[int]] = {}
        for _, _, _, s, w in centroids:
            cum += w
            mb = (delta * (2 * cum - w)) // (2 * total)
            st = merged.setdefault(mb, [0, 0])
            st[0] += s
            st[1] += w
        ordered = [
            (s / w, w) for mb, (s, w) in sorted(merged.items())
        ]
        # midpoints + interpolation
        ms, c = [], 0
        for mean, w in ordered:
            c += w
            ms.append((c - w / 2, mean))
        ests = {}
        for q in (0.50, 0.90, 0.99):
            pos = q * total
            if pos < ms[0][0]:
                est = ms[0][1]
            elif pos >= ms[-1][0]:
                est = ms[-1][1]
            else:
                for (m1, e1), (m2, e2) in zip(ms, ms[1:]):
                    if m1 <= pos < m2:
                        est = e1 + (e2 - e1) * (pos - m1) / (m2 - m1)
                        break
            ests[q] = est / 100.0
        out[grp] = (total, ests)
    return out


def _load_cents(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            "l_orderkey",
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    )
    by_grp: dict[str, list] = {}
    for r in rows:
        by_grp.setdefault(r["l_returnflag"], []).append(
            (r["l_orderkey"], r["cents"])
        )
    return by_grp


def test_tdigest_matches_pure_python_replay(spark, sf_dir):
    """The Spark pipeline equals an engine-independent replay of the
    pinned policy exactly (doubles compared bit-for-bit) — the same
    property the DuckDB oracle hash-checks, proven a third way."""
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        TD_SHARDS,
        agg_quantile_tdigest,
    )

    got = {
        r["l_returnflag"]: (r["n"], r["p50"], r["p90"], r["p99"])
        for r in agg_quantile_tdigest(spark, sf_dir).collect()
    }
    by_grp = _load_cents(spark, sf_dir)
    expect = _tdigest_replay(by_grp, TD_DELTA, lambda k: k % TD_SHARDS)
    assert set(got) == set(expect)
    for grp, (total, ests) in expect.items():
        n, p50, p90, p99 = got[grp]
        assert n == total
        assert (p50, p90, p99) == (ests[0.50], ests[0.90], ests[0.99])


def test_tdigest_rank_error_and_merge_vs_direct(spark, sf_dir):
    """Accuracy: each estimate's TRUE rank in the exact sorted data is
    within 2.5/δ of the target quantile. Merge quality: the 8-shard
    merged digest's estimates land within the same rank tolerance as a
    direct single-shard build (merging must not blow up the error)."""
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        TD_SHARDS,
        agg_quantile_tdigest,
    )

    got = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in agg_quantile_tdigest(spark, sf_dir).collect()
    }
    by_grp = _load_cents(spark, sf_dir)
    direct = _tdigest_replay(by_grp, TD_DELTA, lambda k: 0)
    tol = 2.5 / TD_DELTA
    for grp, vals in by_grp.items():
        cs = sorted(c for _, c in vals)
        n = len(cs)

        def true_rank(est_dollars):
            cents = est_dollars * 100.0
            import bisect

            return bisect.bisect_right(cs, cents) / n

        for est, q in zip(got[grp], (0.50, 0.90, 0.99)):
            assert abs(true_rank(est) - q) <= tol, (grp, q, est)
        for q in (0.50, 0.90, 0.99):
            assert abs(true_rank(direct[grp][1][q]) - q) <= tol, (grp, q)


def test_tdigest_state_is_mergeable_and_bounded(spark, sf_dir):
    """The per-shard state this key's first aggregation emits is a
    real sketch: ≤ δ centroids per (group, shard) regardless of row
    count, and summing two shards' states then re-clustering equals
    running the merge over both (closure under addition is what makes
    the state persistable shard-by-shard)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        TD_SHARDS,
    )

    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_orderkey") % TD_SHARDS).alias("shard"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w_rank = Window.partitionBy("grp", "shard").orderBy("cents")
    state = (
        li.select(
            "grp",
            "shard",
            "cents",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("grp", "shard"))
            .alias("n"),
        )
        .withColumn(
            "bucket",
            F.expr(
                f"CAST(({TD_DELTA} * (2 * CAST(rn AS BIGINT) - 1))"
                f" div (2 * n) AS BIGINT)"
            ),
        )
        .groupBy("grp", "shard", "bucket")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("w"))
    )
    sizes = state.groupBy("grp", "shard").count().collect()
    assert sizes and all(r["count"] <= TD_DELTA for r in sizes)
    # parquet persist → reload reproduces the state exactly (the
    # shard-independent rollup idiom)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        state.write.mode("overwrite").parquet(f"{d}/td_state")
        back = spark.read.parquet(f"{d}/td_state")
        assert back.exceptAll(state).count() == 0
        assert state.exceptAll(back).count() == 0


# ------------------------------------------------------------------
# scan_avro_import / sink.avro
# ------------------------------------------------------------------


def _tiny_schema():
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("k", LongType(), False),
            StructField("s", StringType(), True),
            StructField("d", DecimalType(12, 2), False),
            StructField("t", TimestampType(), False),
        ]
    )


def _tiny_rows():
    import datetime as dt

    return [
        (1, "alpha", decimal.Decimal("12345.67"), dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (-7, None, decimal.Decimal("-0.01"), dt.datetime(1969, 12, 31, 23, 59, 59)),
        (2**40, "Ünïcode ✓", decimal.Decimal("0.00"), dt.datetime(1970, 1, 1)),
    ]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(codec):
    from etl_ch_destination_spark.sink.avro import (
        avro_schema,
        decode_container,
        encode_container,
    )

    schema = avro_schema(_tiny_schema())
    rows = _tiny_rows()
    payload = encode_container(schema, rows, codec=codec, objects_per_block=2)
    assert decode_container(payload, schema) == rows


def test_avro_multi_block_and_header():
    """Blocks split at objects_per_block; the header carries magic,
    schema, codec, and the pinned sync marker."""
    from etl_ch_destination_spark.sink.avro import (
        AVRO_MAGIC,
        SYNC_MARKER,
        avro_schema,
        encode_container,
    )

    schema = avro_schema(_tiny_schema())
    rows = _tiny_rows() * 4  # 12 rows -> 6 blocks of 2
    payload = encode_container(schema, rows, codec="null", objects_per_block=2)
    assert payload.startswith(AVRO_MAGIC)
    assert payload.count(SYNC_MARKER) == 7  # header + 6 blocks
    assert b"avro.schema" in payload and b"avro.codec" in payload


def test_avro_malformed_inputs_raise():
    """Every corruption class fails loudly: flipped data byte (sync or
    record drift), truncation, wrong expected schema, bad magic."""
    from etl_ch_destination_spark.sink.avro import (
        avro_schema,
        decode_container,
        encode_container,
    )

    schema = avro_schema(_tiny_schema())
    rows = _tiny_rows()
    payload = encode_container(schema, rows, codec="deflate")

    with pytest.raises(ValueError):
        decode_container(b"NotAvro" + payload[7:], schema)
    with pytest.raises(ValueError):
        decode_container(payload[:-10], schema)  # truncated final sync
    wrong = dict(schema, name="other")
    with pytest.raises(ValueError, match="schema mismatch"):
        decode_container(payload, wrong)
    # corrupt a byte inside the compressed block body
    body = bytearray(payload)
    idx = len(payload) - 20  # inside the last block's data
    body[idx] ^= 0xFF
    with pytest.raises(Exception):
        decode_container(bytes(body), schema)


def test_avro_nulls_only_in_nullable_fields():
    from etl_ch_destination_spark.sink.avro import avro_schema, encode_record

    schema = avro_schema(_tiny_schema())
    import datetime as dt

    with pytest.raises(ValueError, match="non-nullable"):
        encode_record(
            schema, (None, "x", decimal.Decimal("1.00"), dt.datetime(1970, 1, 1))
        )


def test_scan_avro_import_roundtrip_vs_source(spark, sf_dir):
    """The full distributed key equals the relational source exactly,
    including the nullable note column's null pattern."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import scan_avro_import

    got = {
        r["o_orderkey"]: (r["o_orderstatus"], r["price_cents"], r["ts_us"], r["note"])
        for r in scan_avro_import(spark, sf_dir).collect()
    }
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("pc"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("us"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.substring("o_orderpriority", 1, 10))
        .alias("note"),
    )
    expect = {
        r["o_orderkey"]: (r["o_orderstatus"], r["pc"], r["us"], r["note"])
        for r in src.collect()
    }
    assert got == expect
    assert any(v[3] is None for v in got.values())  # union null branch hit


# ------------------------------------------------------------------
# geo_h3_hexgrid
# ------------------------------------------------------------------


def _hex_cell(x, y):
    """Pure-python replay of the pinned nearest-of-two-lattices
    assignment over SHIFTED non-negative microdegrees."""
    from etl_ch_destination_spark.queries.scalars_math import HEX_H, HEX_W

    w, h = HEX_W, HEX_H
    i1, j1 = (x + w // 2) // w, (y + h // 2) // h
    i2, j2 = x // w, y // h
    d1 = (x - i1 * w) ** 2 + (y - j1 * h) ** 2
    d2 = (x - (i2 * w + w // 2)) ** 2 + (y - (j2 * h + h // 2)) ** 2
    if d1 <= d2:
        return 2 * i1, 2 * j1
    return 2 * i2 + 1, 2 * j2 + 1


def test_hexgrid_matches_pure_python_replay(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.scalars_math import geo_h3_hexgrid

    got = {
        (r["hq"], r["hr"]): (r["cell_cx"], r["cell_cy"], r["n"], r["acct_cents"])
        for r in geo_h3_hexgrid(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            (F.col("c_acctbal").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    )
    from etl_ch_destination_spark.queries.scalars_math import HEX_H, HEX_W

    expect: dict[tuple, list] = {}
    for r in rows:
        k = r["c_custkey"]
        lat = (k * 1103515245 + 12345) % 90000001 - 45000000
        lon = (k * 787766257 + 54321) % 120000001 - 60000000
        hq, hr = _hex_cell(lon + 180000000, lat + 90000000)
        st = expect.setdefault((hq, hr), [0, 0])
        st[0] += 1
        st[1] += r["cents"]
    assert set(got) == set(expect)
    for (hq, hr), (n, cents) in expect.items():
        cx, cy, gn, gc = got[(hq, hr)]
        assert (gn, gc) == (n, cents)
        assert cx == hq * (HEX_W // 2) - 180000000
        assert cy == hr * (HEX_H // 2) - 90000000


def test_hexgrid_is_a_hex_tessellation():
    """A dense ring of probes around a cell center (radius between the
    inradius and circumradius) reaches EXACTLY the six doubled-
    coordinate hex neighbors and nothing else, for both lattices —
    the empirical hexagonality property the docstring pins."""
    import math

    from etl_ch_destination_spark.queries.scalars_math import HEX_H, HEX_W

    for (cq, cr), (cx, cy) in (
        ((2 * 40, 2 * 30), (40 * HEX_W, 30 * HEX_H)),
        ((2 * 40 + 1, 2 * 30 + 1), (40 * HEX_W + HEX_W // 2, 30 * HEX_H + HEX_H // 2)),
    ):
        # hex neighbors sit at distance ~W (E/W same-lattice and the
        # four cross-lattice diagonals, sqrt((W/2)^2+(H/2)^2) ≈ W for
        # H ≈ W√3); the same-lattice vertical pair at distance H is
        # SECOND ring. Inradius of the Voronoi hexagon is therefore
        # ~W/2; probe just inside and just outside it.
        inradius = HEX_W // 2
        seen = set()
        for step in range(720):
            a = 2 * math.pi * step / 720
            for rad in (0.92, 1.05):
                px = cx + int(rad * inradius * math.cos(a))
                py = cy + int(rad * inradius * math.sin(a))
                seen.add(_hex_cell(px, py))
        expected = {
            (cq, cr),
            (cq + 2, cr), (cq - 2, cr),
            (cq + 1, cr + 1), (cq - 1, cr + 1),
            (cq + 1, cr - 1), (cq - 1, cr - 1),
        }
        assert seen == expected, (cq, cr, seen ^ expected)


def test_hexgrid_assignment_is_nearest_center():
    """Brute-force check on a deterministic point sample: the replay's
    cell center is (weakly) closest among ALL nearby lattice centers
    of both grids, with the d1 <= d2 tie pinned to lattice A."""
    from etl_ch_destination_spark.queries.scalars_math import HEX_H, HEX_W

    w, h = HEX_W, HEX_H
    pts = [((k * 48271 + 11) % (300 * w), (k * 69621 + 7) % (100 * h))
           for k in range(4000)]
    for x, y in pts:
        hq, hr = _hex_cell(x, y)
        ccx = hq * (w // 2)
        ccy = hr * (h // 2)
        dbest = (x - ccx) ** 2 + (y - ccy) ** 2
        i0, j0 = x // w, y // h
        for i in range(i0 - 1, i0 + 3):
            for j in range(j0 - 1, j0 + 3):
                for ox, oy in ((0, 0), (w // 2, h // 2)):
                    cand = (x - (i * w + ox)) ** 2 + (y - (j * h + oy)) ** 2
                    assert dbest <= cand, (x, y, hq, hr, i, j, ox, oy)


def test_hexgrid_kring_smooth_replay(spark, sf_dir):
    """smooth_n equals the python replay: per populated cell, the mean
    of its own count and its populated hex neighbors' counts."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.scalars_math import (
        HEX_NEIGHBOR_OFFSETS,
        geo_h3_kring_smooth,
    )

    got = {
        (r["hq"], r["hr"]): (r["n"], r["neigh_n"], r["n_neighbors"], r["smooth_n"])
        for r in geo_h3_kring_smooth(spark, sf_dir).collect()
    }
    keys = [
        r["c_custkey"]
        for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    ]
    cells: dict[tuple, int] = {}
    for k in keys:
        lat = (k * 1103515245 + 12345) % 90000001 - 45000000
        lon = (k * 787766257 + 54321) % 120000001 - 60000000
        c = _hex_cell(lon + 180000000, lat + 90000000)
        cells[c] = cells.get(c, 0) + 1
    assert set(got) == set(cells)
    for (hq, hr), n in cells.items():
        nb = [
            cells[(hq + dq, hr + dr)]
            for dq, dr in HEX_NEIGHBOR_OFFSETS
            if (hq + dq, hr + dr) in cells
        ]
        gn, gneigh, gk, gsm = got[(hq, hr)]
        assert gn == n
        assert gneigh == sum(nb)
        assert gk == len(nb)
        assert gsm == (n + sum(nb)) / (1 + len(nb))
    # the fixture actually exercises neighbors
    assert any(v[2] > 0 for v in got.values())


# ------------------------------------------------------------------
# Avro schema resolution
# ------------------------------------------------------------------


def test_avro_resolution_rules():
    """Spec §Schema Resolution, unit level: name match across
    reordered layouts, writer-only discard, reader-only default,
    int→long / int→double promotion, missing default raises,
    unresolvable pair raises."""
    from etl_ch_destination_spark.sink.avro import (
        encode_record,
        resolve_record,
    )

    writer = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "gone", "type": "string"},
            {"name": "b", "type": ["null", "long"]},
        ],
    }
    payload = encode_record(writer, (7, "drop-me", 99))

    reader = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "b", "type": ["null", "long"]},   # reordered
            {"name": "a", "type": "long"},             # int -> long
            {"name": "c", "type": "double", "default": 1.5},  # reader-only
        ],
    }
    row, pos = resolve_record(writer, reader, payload, 0)
    assert row == (99, 7, 1.5)
    assert pos == len(payload)

    no_default = {
        "type": "record", "name": "row",
        "fields": [{"name": "c", "type": "double"}],
    }
    with pytest.raises(ValueError, match="no default"):
        resolve_record(writer, no_default, payload, 0)

    bad_type = {
        "type": "record", "name": "row",
        "fields": [{"name": "gone", "type": "long"}],  # string -> long
    }
    with pytest.raises(ValueError, match="unresolvable"):
        resolve_record(writer, bad_type, payload, 0)

    # int -> double promotion
    as_double = {
        "type": "record", "name": "row",
        "fields": [{"name": "a", "type": "double"}],
    }
    row, _ = resolve_record(writer, as_double, payload, 0)
    assert row == (7.0,) and isinstance(row[0], float)


def test_scan_avro_evolution_resolves_v1_to_v2(spark, sf_dir):
    """The distributed key: v1-written container files surface the v2
    reader view — promoted o_year, defaulted discount_pct, discarded
    o_orderstatus — exactly matching the relational source."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_avro_evolution,
    )

    got = {
        r["o_orderkey"]: (r["o_year"], r["price_cents"], r["discount_pct"])
        for r in scan_avro_evolution(spark, sf_dir).collect()
    }
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("pc"),
    )
    expect = {
        r["o_orderkey"]: (r["y"], r["pc"], 0.0) for r in src.collect()
    }
    assert got == expect


def test_avro_crafted_framing_raises():
    """The review-hardened framing guards: a negative metadata length
    must raise (it used to rewind the parser — a crafted container
    could loop it forever). The varint range guard is pinned in
    tests/test_wire.py."""
    from etl_ch_destination_spark.sink.avro import (
        AVRO_MAGIC,
        avro_schema,
        decode_container,
        encode_container,
    )
    from etl_ch_destination_spark.sink.wire import write_zigzag

    # container whose metadata map declares a NEGATIVE key length
    crafted = AVRO_MAGIC + write_zigzag(1) + write_zigzag(-9)
    with pytest.raises(ValueError, match="metadata key length"):
        decode_container(crafted, None)
    # ...and an oversized value length (silent short-slice before)
    crafted = (
        AVRO_MAGIC + write_zigzag(1) + write_zigzag(3) + b"abc" + write_zigzag(10**6)
    )
    with pytest.raises(ValueError, match="metadata value length"):
        decode_container(crafted, None)

    # sanity: the hardened walker still decodes a real file (both
    # public decoders share it now)
    schema = avro_schema(_tiny_schema())
    rows = _tiny_rows()
    payload = encode_container(schema, rows, codec="deflate")
    assert decode_container(payload, schema) == rows


def test_bpe_oracle_corpus_preconditions(spark, sf_dir):
    """The recursive-CTE BPE oracle's two stated preconditions on the
    corpus, pinned: no word contains U+001F (the fold's token
    separator — a word containing it would merge across token
    boundaries on the DuckDB side only), and no non-BMP characters
    (Java's split-by-empty-regex and DuckDB's string_split(w, '')
    could disagree on surrogate handling). If a future fixture regen
    violates either, THIS fails before the driver gate mismatches."""
    from etl_ch_destination_spark.catalog import load_table

    bad = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(
            F.col("w").contains("\x1f")
            | F.col("w").rlike("[^\\x00-\\uFFFF]")
        )
        .limit(1)
        .count()
    )
    assert bad == 0


def test_stream_tdigest_state_vs_batch(spark, sf_dir):
    """The real streaming run (foreachBatch state appends) equals the
    pure-batch replay of the same pinned pipeline BIT FOR BIT, the
    state table is sketch-bounded (≤ |types|×|batches|×δ), and n
    equals the exact event count (exactly-once evidence)."""
    from etl_ch_destination_spark.catalog import load_table, scratch_dir
    from etl_ch_destination_spark.queries.aggregations import (
        TD_DELTA,
        td_merge_quantiles,
    )
    from etl_ch_destination_spark.queries.streaming_batch import (
        stream_tdigest_state,
    )
    from pyspark.sql.window import Window

    got = {
        r["event_type"]: (r["n"], r["p50"], r["p90"], r["p99"])
        for r in stream_tdigest_state(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    assert sum(v[0] for v in got.values()) == n_events

    # pure-batch replay: same slice assignment, same per-slice build,
    # same flat merge
    sliced = ev.select(
        F.col("event_type").alias("grp"),
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.ntile(6).over(Window.orderBy("ts", "event_id")).alias("slice"),
    ).withColumn("btag", F.min("event_id").over(Window.partitionBy("slice")))
    w_rank = Window.partitionBy("grp", "btag").orderBy("cents")
    state = (
        sliced.select(
            "grp",
            "btag",
            "cents",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("grp", "btag"))
            .alias("n"),
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
    )
    expect = {
        r["grp"]: (r["n"], r["p50"], r["p90"], r["p99"])
        for r in td_merge_quantiles(state, ["btag", "bucket"]).collect()
    }
    assert got == expect

    # the persisted state table is sketch-bounded
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    st = spark.read.parquet(scratch_dir(f"stream_tdigest_state/{tag}/state"))
    n_types = ev.select("event_type").distinct().count()
    assert st.count() <= n_types * 6 * TD_DELTA
    # and per (group, batch) digests respect the centroid cap
    sizes = st.groupBy("grp", "btag").count().collect()
    assert sizes and all(r["count"] <= TD_DELTA for r in sizes)

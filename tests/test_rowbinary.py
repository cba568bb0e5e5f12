"""Byte-level golden tests for the ClickHouse RowBinary encoder
(sink/rowbinary.py). The expected byte strings below are hand-derived
from the public format spec (little-endian fixed-width numerics,
LEB128-prefixed strings, 0x00/0x01 Nullable markers) — they pin the
wire contract so a future live-server integration is config-only.
"""

from __future__ import annotations

import datetime as dt
import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_ch_destination_spark.sink.rowbinary import (
    encode_block,
    encode_row,
    encode_value,
    names_types_header,
    rowbinary_blocks,
)


class TestScalars:
    def test_integers_little_endian(self):
        assert encode_value(IntegerType(), 1, False) == b"\x01\x00\x00\x00"
        assert encode_value(IntegerType(), -2, False) == b"\xfe\xff\xff\xff"
        assert encode_value(LongType(), 2**40, False) == b"\x00\x00\x00\x00\x00\x01\x00\x00"

    def test_floats_ieee(self):
        assert encode_value(DoubleType(), 1.5, False) == struct.pack("<d", 1.5)

    def test_bool(self):
        assert encode_value(BooleanType(), True, False) == b"\x01"
        assert encode_value(BooleanType(), False, False) == b"\x00"

    def test_string_leb128_prefixed(self):
        assert encode_value(StringType(), "ABC", False) == b"\x03ABC"
        assert encode_value(StringType(), "", False) == b"\x00"
        # multi-byte length prefix at 300 chars
        assert encode_value(StringType(), "x" * 300, False) == b"\xac\x02" + b"x" * 300
        # UTF-8 length counts bytes, not codepoints
        assert encode_value(StringType(), "é", False) == b"\x02\xc3\xa9"

    def test_date32_days_since_epoch(self):
        assert encode_value(DateType(), dt.date(1970, 1, 2), False) == b"\x01\x00\x00\x00"
        # pre-epoch date goes negative (Date32 is signed)
        assert encode_value(DateType(), dt.date(1969, 12, 31), False) == b"\xff\xff\xff\xff"

    def test_datetime64_micros(self):
        one_sec = dt.datetime(1970, 1, 1, 0, 0, 1)
        assert encode_value(TimestampType(), one_sec, False) == struct.pack("<q", 1_000_000)
        with_us = dt.datetime(1970, 1, 1, 0, 0, 0, 42)
        assert encode_value(TimestampType(), with_us, False) == struct.pack("<q", 42)

    def test_decimal_scaled_int(self):
        # Decimal(12,2) -> Int64 of value*100
        assert encode_value(DecimalType(12, 2), Decimal("123.45"), False) == struct.pack(
            "<q", 12345
        )
        # Decimal(9,2) -> Int32
        assert encode_value(DecimalType(9, 2), Decimal("-1.00"), False) == struct.pack(
            "<i", -100
        )
        # Decimal(38,10) -> Int128 little-endian
        got = encode_value(DecimalType(38, 10), Decimal("1"), False)
        assert got == (10**10).to_bytes(16, "little", signed=True)
        assert len(got) == 16


class TestNullable:
    def test_marker_bytes(self):
        assert encode_value(LongType(), None, True) == b"\x01"
        assert encode_value(LongType(), 5, True) == b"\x00" + struct.pack("<q", 5)

    def test_null_in_non_nullable_raises(self):
        with pytest.raises(ValueError):
            encode_value(LongType(), None, False)

    def test_nan_treated_as_null(self):
        assert encode_value(DoubleType(), float("nan"), True) == b"\x01"


class TestNested:
    def test_array(self):
        at = ArrayType(IntegerType(), containsNull=False)
        assert (
            encode_value(at, [1, 2], False)
            == b"\x02" + b"\x01\x00\x00\x00" + b"\x02\x00\x00\x00"
        )
        assert encode_value(at, [], False) == b"\x00"

    def test_array_of_nullable(self):
        at = ArrayType(IntegerType(), containsNull=True)
        assert (
            encode_value(at, [1, None], False)
            == b"\x02" + b"\x00\x01\x00\x00\x00" + b"\x01"
        )

    def test_map(self):
        mt = MapType(StringType(), LongType(), valueContainsNull=False)
        assert (
            encode_value(mt, {"a": 1}, False)
            == b"\x01" + b"\x01a" + struct.pack("<q", 1)
        )


ROW_SCHEMA = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("name", StringType(), nullable=True),
        StructField("price", DecimalType(12, 2), nullable=False),
        StructField("day", DateType(), nullable=False),
    ]
)


class TestRowAndBlock:
    def test_row_golden(self):
        row = (7, "ab", Decimal("0.10"), dt.date(1970, 1, 3))
        expect = (
            struct.pack("<q", 7)
            + b"\x00\x02ab"
            + struct.pack("<q", 10)
            + struct.pack("<i", 2)
        )
        assert encode_row(ROW_SCHEMA, row) == expect

    def test_row_null_string(self):
        row = (7, None, Decimal("0.00"), dt.date(1970, 1, 1))
        assert (
            encode_row(ROW_SCHEMA, row)
            == struct.pack("<q", 7) + b"\x01" + struct.pack("<q", 0) + b"\x00" * 4
        )

    def test_row_width_mismatch(self):
        with pytest.raises(ValueError):
            encode_row(ROW_SCHEMA, (1, "x"))

    def test_block_concatenates(self):
        rows = [
            (1, "a", Decimal("1.00"), dt.date(1970, 1, 1)),
            (2, None, Decimal("2.00"), dt.date(1970, 1, 2)),
        ]
        assert encode_block(ROW_SCHEMA, rows) == encode_row(
            ROW_SCHEMA, rows[0]
        ) + encode_row(ROW_SCHEMA, rows[1])

    def test_names_types_header_golden(self):
        # 4 cols; names then ch_type texts (must agree with the DDL map)
        head = names_types_header(ROW_SCHEMA)
        expect = (
            b"\x04"
            + b"\x02id"
            + b"\x04name"
            + b"\x05price"
            + b"\x03day"
            + b"\x05Int64"
            + b"\x10Nullable(String)"
            + b"\x0eDecimal(12, 2)"
            + b"\x06Date32"
        )
        assert head == expect
        assert encode_block(ROW_SCHEMA, [], with_names_types=True) == expect

    def test_names_types_header_covers_structs_and_nullable_elements(self):
        """ADVICE r4: the header must cover the whole encodable type
        surface — struct columns map to named Tuple, and Array/Map
        element nullability in the type text must agree with the
        per-element marker bytes the encoder emits."""
        from pyspark.sql.types import ArrayType, IntegerType, MapType

        schema = StructType(
            [
                StructField(
                    "pt",
                    StructType(
                        [
                            StructField("x", LongType(), nullable=False),
                            StructField("y", StringType(), nullable=True),
                        ]
                    ),
                    nullable=False,
                ),
                StructField("xs", ArrayType(IntegerType(), True), nullable=False),
                StructField(
                    "m", MapType(StringType(), LongType(), True), nullable=False
                ),
            ]
        )
        head = names_types_header(schema)
        texts = [b"Tuple(x Int64, y Nullable(String))",
                 b"Array(Nullable(Int32))",
                 b"Map(String, Nullable(Int64))"]
        for t in texts:
            assert t in head
        # and the declared Nullable element really is marker-encoded
        at = ArrayType(IntegerType(), True)
        assert encode_value(at, [1, None], False) == (
            b"\x02" + b"\x00" + struct.pack("<i", 1) + b"\x01"
        )


class TestDistributedBlocks:
    """The mapInPandas path must byte-match the local encoder and split
    blocks by rows_per_block so each block is independently
    tokenizable/retryable."""

    def test_payload_matches_local_encode(self, spark, sf_dir):
        nation = (
            spark.read.parquet(f"{sf_dir}/nation.parquet")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .coalesce(1)
        )
        blocks = rowbinary_blocks(nation, rows_per_block=10).collect()
        assert [b.block_rows for b in blocks] == [10, 10, 5]
        payload = b"".join(b.payload for b in blocks)
        local = encode_block(nation.schema, [tuple(r) for r in nation.collect()])
        assert payload == local

    def test_blocks_respect_partitions(self, spark):
        df = spark.range(0, 100, 1, 4).select(
            F.col("id"), F.concat(F.lit("row-"), F.col("id")).alias("tag")
        )
        blocks = rowbinary_blocks(df, rows_per_block=30).collect()
        # 4 partitions x 25 rows, cap 30 -> one block per partition
        assert sorted(b.block_rows for b in blocks) == [25, 25, 25, 25]
        assert sum(b.block_rows for b in blocks) == 100

    def test_roundtrip_decode_spot(self, spark):
        """Decode the fixed-width prefix of a one-row block by hand."""
        df = spark.createDataFrame(
            [(42, 2.5)], "k BIGINT NOT NULL, v DOUBLE NOT NULL"
        )
        (block,) = rowbinary_blocks(df, rows_per_block=1).collect()
        assert block.block_rows == 1
        k, v = struct.unpack("<qd", bytes(block.payload))
        assert (k, v) == (42, 2.5)


# ---------------------------------------------------------------------------
# property: encode→decode round-trip against an INDEPENDENT decoder

from decimal import Decimal as _D

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_ch_destination_spark.sink.rowbinary import encode_block


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _decode_value(dt, nullable, buf, pos):
    from pyspark.sql.types import (
        ArrayType, DateType, DecimalType, DoubleType, LongType, StringType,
    )

    if nullable and not isinstance(dt, ArrayType):
        marker = buf[pos]
        pos += 1
        if marker == 1:
            return None, pos
    if isinstance(dt, LongType):
        return int.from_bytes(buf[pos:pos + 8], "little", signed=True), pos + 8
    if isinstance(dt, DoubleType):
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if isinstance(dt, StringType):
        n, pos = _read_varint(buf, pos)
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if isinstance(dt, DateType):
        days = int.from_bytes(buf[pos:pos + 4], "little", signed=True)
        return dt_mod.date(1970, 1, 1) + dt_mod.timedelta(days=days), pos + 4
    if isinstance(dt, DecimalType):
        raw = int.from_bytes(buf[pos:pos + 8], "little", signed=True)
        return _D(raw).scaleb(-dt.scale), pos + 8
    if isinstance(dt, ArrayType):
        n, pos = _read_varint(buf, pos)
        out = []
        for _ in range(n):
            v, pos = _decode_value(dt.elementType, dt.containsNull, buf, pos)
            out.append(v)
        return out, pos
    raise TypeError(dt)


import datetime as dt_mod  # noqa: E402

PROP_SCHEMA = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("name", StringType(), nullable=True),
        StructField("score", DoubleType(), nullable=True),
        StructField("price", DecimalType(18, 4), nullable=False),
        StructField("day", DateType(), nullable=False),
        StructField("tags", ArrayType(IntegerType(), containsNull=True), nullable=False),
    ]
)

_row_strategy = st.tuples(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.one_of(st.none(), st.text(max_size=40)),
    st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=True, width=64),
    ),
    st.decimals(
        min_value=_D("-99999999999999.9999"),
        max_value=_D("99999999999999.9999"),
        places=4,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.dates(min_value=dt_mod.date(1900, 1, 1), max_value=dt_mod.date(2200, 1, 1)),
    st.lists(st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)), max_size=6),
)


def _decode_int_array(buf, pos, n):
    out = []
    for _ in range(n):
        marker = buf[pos]
        pos += 1
        if marker == 1:
            out.append(None)
        else:
            out.append(int.from_bytes(buf[pos:pos + 4], "little", signed=True))
            pos += 4
    return out, pos


@given(rows=st.lists(_row_strategy, max_size=20))
@settings(max_examples=200, deadline=None)
def test_rowbinary_roundtrip_random_rows(rows):
    """encode_block output must decode — via a decoder written
    independently against the format spec — back to the exact input
    values, for random rows including NULLs, empty strings, negative
    dates, int64 extremes, and nullable array elements."""
    payload = encode_block(PROP_SCHEMA, rows)
    pos = 0
    decoded = []
    for _ in rows:
        vals = []
        for f in PROP_SCHEMA.fields:
            if isinstance(f.dataType, ArrayType):
                n, pos = _read_varint(payload, pos)
                v, pos = _decode_int_array(payload, pos, n)
            else:
                v, pos = _decode_value(f.dataType, f.nullable, payload, pos)
            vals.append(v)
        decoded.append(tuple(vals))
    assert pos == len(payload), "trailing bytes"
    for got, want in zip(decoded, rows):
        assert got[0] == want[0]
        assert got[1] == want[1]
        assert got[2] == want[2]
        assert got[3] == _D(want[3]).quantize(_D("0.0001"))
        assert got[4] == want[4]
        assert got[5] == list(want[5])


def test_rowbinary_export_blocks_match_local_encoder(spark, sf_dir):
    """The distributed export's per-block byte counts equal a local
    re-encode of the same doc_id range — the applyInPandas path and
    the sequential encoder can never drift apart."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import (
        ROWBINARY_BLOCK,
        sink_rowbinary_export,
    )
    from etl_ch_destination_spark.sink.rowbinary import encode_row

    d = load_table(spark, sf_dir, "documents")
    schema = d.schema
    rows = sorted(d.collect(), key=lambda r: r.doc_id)
    want: dict = {}
    for r in rows:
        b = r.doc_id // ROWBINARY_BLOCK
        n, nb = want.get(b, (0, 0))
        want[b] = (n + 1, nb + len(encode_row(schema, tuple(r))))
    got = {
        r.block_idx: (r.n_rows, r.n_bytes)
        for r in sink_rowbinary_export(spark, sf_dir).collect()
    }
    assert got == want


def test_decoder_is_exact_inverse_and_rejects_framing_drift():
    """decode_rows(encode_rows(x)) == x for a type-diverse schema, and
    ANY byte appended/truncated raises instead of parsing silently."""
    import datetime as dtm
    import decimal as dec

    import pytest

    from etl_ch_destination_spark.sink.rowbinary import decode_rows, encode_row
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("s", StringType(), True),
            StructField("p", DecimalType(12, 2), True),
            StructField("t", TimestampType(), True),
            StructField("b", BooleanType(), False),
            StructField("xs", ArrayType(IntegerType(), True), False),
            StructField("m", MapType(StringType(), LongType(), True), False),
        ]
    )
    rows = [
        (
            -(2**62),
            "żółć☃",
            dec.Decimal("9999999999.99"),
            dtm.datetime(1999, 12, 31, 23, 59, 59, 999999),
            True,
            [0, None, -1],
            {"a": 1, "b": None},
        ),
        (7, None, None, None, False, [], {}),
    ]
    payload = b"".join(encode_row(schema, r) for r in rows)
    assert decode_rows(schema, payload) == rows
    with pytest.raises((ValueError, IndexError, UnicodeDecodeError, Exception)):
        decode_rows(schema, payload + b"\x00")
    with pytest.raises(Exception):
        decode_rows(schema, payload[:-1])


def test_import_key_round_trips_orders(spark, sf_dir):
    """scan_rowbinary_import's decoded frame must equal the source
    projection row-for-row (the Spark-side check independent of the
    DuckDB oracle)."""
    from decimal import Decimal

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import (
        scan_rowbinary_import,
    )

    got = {r.o_orderkey: r for r in scan_rowbinary_import(spark, sf_dir).collect()}
    src = load_table(spark, sf_dir, "orders").collect()
    assert len(got) == len(src)
    for r in src:
        g = got[r.o_orderkey]
        assert g.o_orderstatus == r.o_orderstatus
        assert g.price_cents == int(
            Decimal(str(r.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        epoch = __import__("datetime").datetime(1970, 1, 1)
        assert g.ts_us == (r.o_orderdate - epoch) // __import__(
            "datetime"
        ).timedelta(microseconds=1)

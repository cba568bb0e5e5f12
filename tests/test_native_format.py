"""Byte-level golden tests for the ClickHouse Native (columnar) block
encoder (sink/native.py) — hand-derived from the public format spec.
Native differs from RowBinary in exactly two ways these tests pin:
column-wise layout with a per-column name/type header, and Nullable
null masks up front with DEFAULT values written in the null slots.
"""

from __future__ import annotations

import datetime as dt
import struct
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from etl_ch_destination_spark.sink.native import (
    encode_native_block,
    encode_native_column,
    native_blocks,
)
from etl_ch_destination_spark.sink.rowbinary import rowbinary_blocks


class TestColumns:
    def test_fixed_width_column(self):
        got = encode_native_column(LongType(), False, [1, 2])
        assert got == struct.pack("<q", 1) + struct.pack("<q", 2)

    def test_string_column(self):
        assert encode_native_column(StringType(), False, ["ab", ""]) == b"\x02ab\x00"

    def test_nullable_mask_then_defaults(self):
        # mask first (1 = NULL), then ALL rows' values with defaults in
        # null slots — the defining difference vs RowBinary
        got = encode_native_column(LongType(), True, [5, None, 7])
        assert got == b"\x00\x01\x00" + struct.pack("<qqq", 5, 0, 7)

    def test_nullable_string_default_is_empty(self):
        got = encode_native_column(StringType(), True, [None, "x"])
        assert got == b"\x01\x00" + b"\x00" + b"\x01x"

    def test_null_in_non_nullable_raises(self):
        with pytest.raises(ValueError):
            encode_native_column(LongType(), False, [1, None])

    def test_nested_rejected_with_pointer(self):
        from pyspark.sql.types import MapType

        with pytest.raises(TypeError, match="rowbinary_blocks"):
            encode_native_column(MapType(StringType(), LongType()), False, [{"a": 1}])

    @pytest.mark.parametrize(
        "dt, value",
        [
            (MapType(StringType(), LongType(), False), {"k": 1}),
            (ArrayType(ArrayType(IntegerType(), False), False), [[1]]),
            (StructType([StructField("a", IntegerType(), False)]), (1,)),
        ],
        ids=["map", "nested_array", "struct"],
    )
    def test_decoder_rejects_nested_shapes(self, dt, value):
        """The decoder shares RowBinary's row-wise value decoder, which
        reads nested values; a Native block must still refuse them, as
        the encoder does, even under a matching type header."""
        from etl_ch_destination_spark.sink.clickhouse import ch_type
        from etl_ch_destination_spark.sink.native import decode_native_block
        from etl_ch_destination_spark.sink.rowbinary import encode_value
        from etl_ch_destination_spark.sink.wire import write_uvarint

        typ = ch_type(dt, False).encode()
        payload = (
            write_uvarint(1) + write_uvarint(1) + b"\x01c"
            + write_uvarint(len(typ)) + typ
            + encode_value(dt, value, False)
        )
        schema = StructType([StructField("c", dt, False)])
        with pytest.raises(TypeError, match="rowbinary_blocks"):
            decode_native_block(schema, payload)


BLOCK_SCHEMA = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("name", StringType(), nullable=True),
    ]
)


class TestBlock:
    def test_block_golden(self):
        rows = [(1, "a"), (2, None)]
        expect = (
            b"\x02"            # n_columns
            b"\x02"            # n_rows
            b"\x02id"          # col 1 name
            b"\x05Int64"       # col 1 type
            + struct.pack("<qq", 1, 2)
            + b"\x04name"      # col 2 name
            + b"\x10Nullable(String)"
            + b"\x00\x01"      # null mask
            + b"\x01a" + b"\x00"  # values, default empty at null slot
        )
        assert encode_native_block(BLOCK_SCHEMA, rows) == expect

    def test_empty_block(self):
        # header + per-column name/type, zero data bytes
        got = encode_native_block(BLOCK_SCHEMA, [])
        assert got == b"\x02\x00" + b"\x02id\x05Int64" + b"\x04name\x10Nullable(String)"

    def test_width_mismatch(self):
        with pytest.raises(ValueError):
            encode_native_block(BLOCK_SCHEMA, [(1,)])

    def test_decimal_and_date_share_rowbinary_encodings(self):
        schema = StructType(
            [
                StructField("p", DecimalType(12, 2), nullable=False),
                StructField("d", DateType(), nullable=False),
            ]
        )
        got = encode_native_block(schema, [(Decimal("3.50"), dt.date(1970, 1, 2))])
        # decimal column data = scaled Int64; block ends with the date
        # column (type header then Int32 days) — shared with rowbinary
        assert struct.pack("<q", 350) in got
        assert got.endswith(b"\x06Date32" + struct.pack("<i", 1))


class TestDistributed:
    def test_native_blocks_match_local_and_rowbinary_rowcount(self, spark, sf_dir):
        nation = (
            spark.read.parquet(f"{sf_dir}/nation.parquet")
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
            .coalesce(1)
        )
        nat_blocks = native_blocks(nation, rows_per_block=10).collect()
        assert [b.block_rows for b in nat_blocks] == [10, 10, 5]
        rows = [tuple(r) for r in nation.collect()]
        assert bytes(nat_blocks[0].payload) == encode_native_block(
            nation.schema, rows[:10]
        )
        # both wire formats agree on the row partitioning contract
        rb = rowbinary_blocks(nation, rows_per_block=10).collect()
        assert [b.block_rows for b in rb] == [b.block_rows for b in nat_blocks]

    def test_roundtrip_decode_fixed_column(self, spark):
        df = spark.createDataFrame([(1, 2.5), (2, 3.5)], "k BIGINT NOT NULL, v DOUBLE NOT NULL")
        (block,) = native_blocks(df.coalesce(1), rows_per_block=10).collect()
        payload = bytes(block.payload)
        # skip: n_cols(1) + n_rows(1) + "k"(2) + "Int64"(6)
        pos = 1 + 1 + 2 + 6
        ks = struct.unpack_from("<qq", payload, pos)
        pos += 16 + 2 + 8  # k data + "v"(2) + "Float64"(8)
        vs = struct.unpack_from("<dd", payload, pos)
        assert ks == (1, 2) and vs == (2.5, 3.5)


class TestArrays:
    def test_array_offsets_then_flattened(self):
        from pyspark.sql.types import FloatType

        at = ArrayType(IntegerType(), containsNull=False)
        got = encode_native_column(at, False, [[1, 2], [], [3]])
        expect = (
            (2).to_bytes(8, "little")
            + (2).to_bytes(8, "little")
            + (3).to_bytes(8, "little")
            + struct.pack("<iii", 1, 2, 3)
        )
        assert got == expect
        # Float32 elements (the embeddings egress shape)
        af = ArrayType(FloatType(), containsNull=False)
        got = encode_native_column(af, False, [[1.5], [2.5, -0.5]])
        assert got == (
            (1).to_bytes(8, "little")
            + (3).to_bytes(8, "little")
            + struct.pack("<fff", 1.5, 2.5, -0.5)
        )

    def test_null_array_rejected_null_element_masked(self):
        # the array value itself can never be NULL (CH forbids
        # Nullable(Array)); a null ELEMENT is only legal when the
        # schema declares containsNull — it then serializes as
        # Array(Nullable(T)): offsets, flattened element null mask,
        # then element data with the type default in the null slot
        at = ArrayType(IntegerType(), containsNull=True)
        with pytest.raises(ValueError):
            encode_native_column(at, False, [None])
        got = encode_native_column(at, False, [[1, None], [3]])
        expect = (
            (2).to_bytes(8, "little")
            + (3).to_bytes(8, "little")
            + b"\x00\x01\x00"  # element null mask
            + struct.pack("<iii", 1, 0, 3)  # default 0 in the null slot
        )
        assert got == expect
        # non-nullable element schema still rejects loudly
        strict = ArrayType(IntegerType(), containsNull=False)
        with pytest.raises(ValueError):
            encode_native_column(strict, False, [[1, None]])

    def test_nested_array_still_rejected(self):
        at = ArrayType(ArrayType(IntegerType()))
        with pytest.raises(TypeError, match="rowbinary_blocks"):
            encode_native_column(at, False, [[[1]]])

    def test_embeddings_block_roundtrip(self, spark, sf_dir):
        """The real embeddings table (vec_id bigint, embedding
        array<float>) encodes to a decodable Native block — the exact
        egress a vector corpus ships to ClickHouse."""
        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(5)
        )
        rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
        # parquet reads declare everything nullable; the destination
        # table is NOT NULL (MergeTree key + dense vectors), so the
        # egress schema pins that — same real data. containsNull=False
        # keeps the wire type Array(Float32) with no element masks
        # (DDL ARRAY<FLOAT> can't express element non-nullability).
        from pyspark.sql.types import FloatType, LongType, StructField

        schema = StructType(
            [
                StructField("vec_id", LongType(), nullable=False),
                StructField(
                    "embedding", ArrayType(FloatType(), containsNull=False),
                    nullable=False,
                ),
            ]
        )
        payload = encode_native_block(schema, rows)
        # header: 2 cols, 5 rows
        assert payload[:2] == b"\x02\x05"
        pos = 2
        # col 1: "vec_id" Int64
        assert payload[pos:pos + 7] == b"\x06vec_id"; pos += 7
        assert payload[pos:pos + 6] == b"\x05Int64"; pos += 6
        ids = struct.unpack_from("<qqqqq", payload, pos); pos += 40
        assert list(ids) == [r[0] for r in rows]
        # col 2: "embedding" Array(Float32)
        assert payload[pos:pos + 10] == b"\x09embedding"; pos += 10
        assert payload[pos:pos + 15] == b"\x0eArray(Float32)"; pos += 15
        offsets = [
            int.from_bytes(payload[pos + 8 * i:pos + 8 * i + 8], "little")
            for i in range(5)
        ]
        pos += 40
        lens = [len(r[1]) for r in rows]
        assert offsets == [sum(lens[: i + 1]) for i in range(5)]
        flat = struct.unpack_from(f"<{sum(lens)}f", payload, pos)
        pos += 4 * sum(lens)
        assert pos == len(payload)
        want = [x for r in rows for x in r[1]]
        assert all(abs(a - b) < 1e-6 for a, b in zip(flat, want))


def test_native_export_prelude_constant_is_exact(spark, sf_dir):
    """The oracle's NATIVE_PRELUDE constant equals the real encoder's
    header + column-prelude size for the documents schema, and the
    distributed export matches a local re-encode per block."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import (
        NATIVE_PRELUDE,
        ROWBINARY_BLOCK,
        sink_native_export,
    )
    from etl_ch_destination_spark.sink.native import encode_native_block

    d = load_table(spark, sf_dir, "documents")
    schema = d.schema
    rows = sorted(d.collect(), key=lambda r: r.doc_id)

    def var_bytes(s: str) -> int:
        return (1 if len(s) < 128 else 2) + len(s)

    # prelude check on one real block
    blk = [tuple(r) for r in rows if r.doc_id // ROWBINARY_BLOCK == 0]
    enc = encode_native_block(schema, blk)
    per_row = 21 * len(blk) + sum(
        var_bytes(r[1]) + var_bytes(r[2]) + var_bytes(r[3]) for r in blk
    )
    assert len(enc) - per_row == NATIVE_PRELUDE

    # distributed path == local re-encode, every block
    want: dict = {}
    for r in rows:
        want.setdefault(r.doc_id // ROWBINARY_BLOCK, []).append(tuple(r))
    got = {
        r.block_idx: (r.n_rows, r.n_bytes)
        for r in sink_native_export(spark, sf_dir).collect()
    }
    assert got == {
        b: (len(rs), len(encode_native_block(schema, rs))) for b, rs in want.items()
    }

"""ClickHouse RowBinary insert-block encoder (SURVEY §2.1
`sink_clickhouse_jdbc` wire-level companion; VERDICT r3 next-round #3).

No ClickHouse server exists in this environment, so the JDBC seam in
``sink/clickhouse.py`` stops at SQL text. This module pushes the
contract one layer further down: it encodes DataFrame rows into
ClickHouse's **RowBinary** format — the public wire format documented
at clickhouse.com/docs/en/interfaces/formats#rowbinary — so a future
server integration is `http POST insert_sql(...) + payload` and
nothing else. Byte-level golden tests in tests/test_rowbinary.py pin
the contract.

Encoding rules (all little-endian, no delimiters, values row-major):

- Int8/16/32/64          signed little-endian fixed width
- Float32/Float64        IEEE-754 little-endian
- Bool                   one byte 0x00/0x01
- String                 unsigned-LEB128 length prefix + raw bytes
- Date32                 Int32 days since 1970-01-01 (matches ch_type)
- DateTime64(6)          Int64 microseconds since epoch (matches ch_type)
- Decimal(P, S)          scaled integer, width by precision:
                         P<=9 Int32, P<=18 Int64, P<=38 Int128
- Nullable(T)            0x00 + value, or 0x01 alone for NULL
- Array(T)               LEB128 element count + elements; elements are
                         Nullable (marker byte each) iff the Spark
                         schema's containsNull is set — ch_type then
                         declares Array(Nullable(T)) so header/DDL and
                         payload always agree
- Map(K, V)              LEB128 pair count + k1 v1 k2 v2 ...; values
                         Nullable iff valueContainsNull (ditto)
- Tuple/struct           fields in order, no prefix; per-field
                         Nullable markers iff the field is nullable.
                         CH forbids Nullable(Array/Map/Tuple) at the
                         top level, so those columns never carry a
                         column-level marker themselves

Type *names* (for the RowBinaryWithNamesAndTypes header) come from
``clickhouse.ch_type`` so the bytes always agree with the DDL the sink
generates for the same schema.

Scale notes (100 TB): encoding is embarrassingly parallel — each task
encodes its own partition into blocks sized by ``plan_insert_blocks``
(`rowbinary_blocks`), and each block carries its own row count so the
caller can tokenize it independently (`dedup_token(table, batch,
block_seq)`). Python-side encode throughput is amortized by Arrow
batching via mapInPandas; the hot analytics path never goes through
here — this is the egress boundary, where per-row byte work is
inherent to the destination protocol.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import struct
from collections.abc import Iterable

from pyspark.sql import DataFrame
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

from etl_ch_destination_spark.sink.wire import encode_blocks, read_uvarint, write_uvarint

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)

# Worker processes may not be able to import this package (the driver
# contract runs from an arbitrary cwd — same reasoning as
# ops/multimodal.py): ship this module and the type-name source BY
# VALUE inside any pickled closure that references them, so encode_row
# works in mapInPandas/applyInPandas regardless of the worker's
# sys.path. (sink/native.py registers the same set; double
# registration is harmless.)
try:  # pragma: no cover - exercised by the export keys' worker path
    from pyspark import cloudpickle as _cp

    import etl_ch_destination_spark.sink.clickhouse as _ch_mod
    import etl_ch_destination_spark.sink.rowbinary as _rb_mod

    for _m in (_ch_mod, _rb_mod):
        _cp.register_pickle_by_value(_m)
except Exception:  # noqa: BLE001  (older pickler without the hook)
    pass


def _decimal_width(precision: int) -> int:
    if precision <= 9:
        return 4
    if precision <= 18:
        return 8
    if precision <= 38:
        return 16
    raise TypeError(f"Decimal precision {precision} exceeds Decimal128")


def _encode_nonnull(dt: DataType, v) -> bytes:  # noqa: C901 (flat type switch)
    if isinstance(dt, ByteType):
        return struct.pack("<b", int(v))
    if isinstance(dt, ShortType):
        return struct.pack("<h", int(v))
    if isinstance(dt, IntegerType):
        return struct.pack("<i", int(v))
    if isinstance(dt, LongType):
        return struct.pack("<q", int(v))
    if isinstance(dt, FloatType):
        return struct.pack("<f", float(v))
    if isinstance(dt, DoubleType):
        return struct.pack("<d", float(v))
    if isinstance(dt, BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(dt, (StringType, BinaryType)):
        raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        return write_uvarint(len(raw)) + raw
    if isinstance(dt, DateType):
        # ch_type maps DateType -> Date32: Int32 days since epoch
        if isinstance(v, _dt.datetime):
            v = v.date()
        return struct.pack("<i", (v - _EPOCH_DATE).days)
    if isinstance(dt, TimestampType):
        # ch_type maps TimestampType -> DateTime64(6): Int64 microseconds
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            delta = v - _EPOCH_TS
            micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        else:  # already an integer tick count
            micros = int(v)
        return struct.pack("<q", micros)
    if isinstance(dt, DecimalType):
        scaled = int(
            _decimal.Decimal(v).scaleb(dt.scale).to_integral_value(
                rounding=_decimal.ROUND_HALF_UP
            )
        )
        return scaled.to_bytes(_decimal_width(dt.precision), "little", signed=True)
    if isinstance(dt, ArrayType):
        elems = list(v)
        return write_uvarint(len(elems)) + b"".join(
            encode_value(dt.elementType, e, dt.containsNull) for e in elems
        )
    if isinstance(dt, MapType):
        items = list(v.items()) if isinstance(v, dict) else list(v)
        return write_uvarint(len(items)) + b"".join(
            _encode_nonnull(dt.keyType, k)
            + encode_value(dt.valueType, val, dt.valueContainsNull)
            for k, val in items
        )
    if isinstance(dt, StructType):
        vals = list(v) if not isinstance(v, dict) else [v[f.name] for f in dt.fields]
        return b"".join(
            encode_value(f.dataType, x, f.nullable) for f, x in zip(dt.fields, vals)
        )
    raise TypeError(f"no RowBinary encoding for Spark type {dt.simpleString()}")


def _is_null(v) -> bool:
    if v is None:
        return True
    # pandas NaN / NaT leak through mapInPandas object columns
    if isinstance(v, float) and v != v:
        return True
    return False


def encode_value(dt: DataType, v, nullable: bool) -> bytes:
    """One value; Nullable(T) gets the 0x00/0x01 marker byte."""
    if nullable and not isinstance(dt, (ArrayType, MapType, StructType)):
        # ch_type never wraps Array/Map/Tuple in Nullable (CH forbids
        # it), so compound columns never carry a column-level marker
        if _is_null(v):
            return b"\x01"
        return b"\x00" + _encode_nonnull(dt, v)
    if _is_null(v):
        raise ValueError(f"NULL in non-nullable {dt.simpleString()} column")
    return _encode_nonnull(dt, v)


def encode_row(schema: StructType, row) -> bytes:
    """One row (sequence or Row), columns in schema order."""
    vals = list(row)
    if len(vals) != len(schema.fields):
        raise ValueError(f"row width {len(vals)} != schema width {len(schema.fields)}")
    return b"".join(
        encode_value(f.dataType, v, f.nullable) for f, v in zip(schema.fields, vals)
    )


def names_types_header(schema: StructType) -> bytes:
    """RowBinaryWithNamesAndTypes prelude: LEB128 column count, then
    names, then ClickHouse type names — type text from ``ch_type`` so
    header and DDL can never disagree. (Lazy import: the header is a
    per-INSERT driver-side prelude — the distributed encoders ship
    headerless blocks, so this never runs on a worker.)"""
    from etl_ch_destination_spark.sink.clickhouse import ch_type

    out = write_uvarint(len(schema.fields))
    for f in schema.fields:
        raw = f.name.encode("utf-8")
        out += write_uvarint(len(raw)) + raw
    for f in schema.fields:
        raw = ch_type(f.dataType, f.nullable).encode("utf-8")
        out += write_uvarint(len(raw)) + raw
    return out


def encode_block(
    schema: StructType, rows: Iterable, with_names_types: bool = False
) -> bytes:
    """A full insert block: optional header + rows back-to-back."""
    head = names_types_header(schema) if with_names_types else b""
    return head + b"".join(encode_row(schema, r) for r in rows)


# ---------------------------------------------------------------------------
# distributed path

def rowbinary_blocks(df: DataFrame, rows_per_block: int = 100_000) -> DataFrame:
    """Encode ``df`` into RowBinary insert blocks, distributed.

    Each task slices its partition into blocks of at most
    ``rows_per_block`` rows (callers size this with
    ``plan_insert_blocks`` so a block stays under the server's
    max_insert_block_size) and emits one `(block_rows, payload)` row
    per block. Blocks are independent: a writer POSTs each with its own
    ``dedup_token`` and a failed block retries alone.
    """
    schema = df.schema
    return encode_blocks(df, rows_per_block, lambda chunk: encode_block(schema, chunk))


# ---------------------------------------------------------------------------
# Decoder — the exact inverse of encode_row, making the wire contract
# bidirectional: blocks produced by any RowBinary writer (this module,
# or a ClickHouse server's SELECT ... FORMAT RowBinary) parse back into
# rows under the same Spark schema. Used by the scan_rowbinary_import
# key to prove a corpus-wide encode→decode round trip.
# ---------------------------------------------------------------------------


def _decode_nonnull(dt: DataType, buf: bytes, pos: int):  # noqa: C901
    if isinstance(dt, ByteType):
        return struct.unpack_from("<b", buf, pos)[0], pos + 1
    if isinstance(dt, ShortType):
        return struct.unpack_from("<h", buf, pos)[0], pos + 2
    if isinstance(dt, IntegerType):
        return struct.unpack_from("<i", buf, pos)[0], pos + 4
    if isinstance(dt, LongType):
        return struct.unpack_from("<q", buf, pos)[0], pos + 8
    if isinstance(dt, FloatType):
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if isinstance(dt, DoubleType):
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if isinstance(dt, BooleanType):
        return buf[pos] == 1, pos + 1
    if isinstance(dt, StringType):
        n, pos = read_uvarint(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if isinstance(dt, BinaryType):
        n, pos = read_uvarint(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if isinstance(dt, DateType):
        days = struct.unpack_from("<i", buf, pos)[0]
        return _EPOCH_DATE + _dt.timedelta(days=days), pos + 4
    if isinstance(dt, TimestampType):
        micros = struct.unpack_from("<q", buf, pos)[0]
        return _EPOCH_TS + _dt.timedelta(microseconds=micros), pos + 8
    if isinstance(dt, DecimalType):
        w = _decimal_width(dt.precision)
        raw = int.from_bytes(buf[pos : pos + w], "little", signed=True)
        return _decimal.Decimal(raw).scaleb(-dt.scale), pos + w
    if isinstance(dt, ArrayType):
        n, pos = read_uvarint(buf, pos)
        out = []
        for _ in range(n):
            v, pos = decode_value(dt.elementType, dt.containsNull, buf, pos)
            out.append(v)
        return out, pos
    if isinstance(dt, MapType):
        n, pos = read_uvarint(buf, pos)
        items = {}
        for _ in range(n):
            k, pos = _decode_nonnull(dt.keyType, buf, pos)
            v, pos = decode_value(dt.valueType, dt.valueContainsNull, buf, pos)
            items[k] = v
        return items, pos
    if isinstance(dt, StructType):
        vals = []
        for f in dt.fields:
            v, pos = decode_value(f.dataType, f.nullable, buf, pos)
            vals.append(v)
        return tuple(vals), pos
    raise TypeError(f"no RowBinary decoding for Spark type {dt.simpleString()}")


def decode_value(dt: DataType, nullable: bool, buf: bytes, pos: int):
    """Inverse of encode_value; returns (value_or_None, next_pos)."""
    if nullable and not isinstance(dt, (ArrayType, MapType, StructType)):
        marker = buf[pos]
        pos += 1
        if marker == 1:
            return None, pos
    return _decode_nonnull(dt, buf, pos)


def decode_rows(schema: StructType, payload: bytes) -> list[tuple]:
    """Parse a RowBinary block back into row tuples; raises if the
    payload doesn't consume exactly (framing drift never passes
    silently)."""
    pos, rows = 0, []
    end = len(payload)
    while pos < end:
        vals = []
        for f in schema.fields:
            v, pos = decode_value(f.dataType, f.nullable, payload, pos)
            vals.append(v)
        rows.append(tuple(vals))
    if pos != end:
        raise ValueError(f"trailing {end - pos} bytes after last row")
    return rows

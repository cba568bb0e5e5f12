"""Protocol Buffers wire-format encoder/decoder — the gRPC-ecosystem
wire format as a SOURCE/SINK seam (VERDICT r13 "next round" #3).

No protobuf compiler or runtime is needed: the wire format is fully
public (protobuf.dev "Encoding" spec) and small enough to implement
exactly — the same stance as the Avro/RowBinary/Native modules next
door: hand-rolled bytes under golden tests, so a future
`spark.read.format("protobuf")` (spark-protobuf jar) swap-in changes
one call site and nothing else.

Wire format (spec §Encoding):

- A message is a sequence of ``tag``/value pairs; ``tag = (field
  number << 3) | wire_type``. Wire types used here: 0 = VARINT
  (int64, sint64 via zigzag, bool), 1 = I64 (double, little-endian
  IEEE-754), 2 = LEN (string/bytes: varint length + payload),
  5 = I32 (fixed32, little-endian unsigned). Wire types 3/4 are the
  deprecated group markers — the decoder rejects them.
- varint = base-128 little-endian, high bit = continuation; at most
  10 bytes for a 64-bit value. ``sint64`` zigzags first so negative
  values stay short.
- Field presence follows proto3: IMPLICIT-presence fields are omitted
  from the wire when they hold the default value (0, "", false) and
  decode back to the default when absent; EXPLICIT-presence
  (``optional``) fields are serialized whenever set — even to the
  default — and decode to NULL when absent. That split is the part
  naive codecs get wrong, so both paths are first-class here.
- Unknown fields (a tag the reader's schema doesn't know) are SKIPPED
  by wire type per the spec — forward compatibility — but a wire type
  that contradicts the schema for a KNOWN field is corruption and
  raises.

Stream framing: the standard length-delimited stream
(``writeDelimitedTo``): each message is prefixed by its varint byte
length. ``decode_stream`` validates exact consumption — a truncated
message, an overrunning length, or trailing bytes raise; never a
silently-truncated DataFrame.

Determinism: the encoder emits fields in ascending field-number order
with minimal varints, so byte output is a pure function of the row —
the property the golden tests and the hash oracle rely on. (The spec
does not require this of writers; it does require readers to accept
any order, which the decoder does.)

Scale notes (100 TB): encode/decode are embarrassingly parallel — one
length-delimited batch per task flush, messages independent within
it; Arrow batching via mapInPandas amortizes the Python boundary. The
hot analytics path never routes through here; this is the
ingress/egress boundary where per-row byte work is inherent to the
wire protocol. A JVM spark-protobuf jar is the drop-in production
fast path.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from etl_ch_destination_spark.sink.wire import (
    encode_blocks,
    read_uvarint,
    read_zigzag,
    write_uvarint,
    write_zigzag,
)

# wire types (spec §Message Structure)
WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_SGROUP = 3  # deprecated; rejected
WT_EGROUP = 4  # deprecated; rejected
WT_I32 = 5

# field kinds supported (flat proto3 messages)
_KINDS = {
    "int64": WT_VARINT,  # two's-complement varint (always 10 bytes if <0)
    "sint64": WT_VARINT,  # zigzag varint
    "bool": WT_VARINT,
    "string": WT_LEN,
    "bytes": WT_LEN,
    "double": WT_I64,
    "fixed32": WT_I32,
}

# Worker-cwd import trap (see sink/rowbinary.py): ship this module by
# value inside pickled closures so mapInPandas decode/encode work from
# any driver cwd.
try:  # pragma: no cover - exercised by the scan_protobuf_import worker path
    from pyspark import cloudpickle as _cp

    import etl_ch_destination_spark.sink.protobuf as _pb_mod

    _cp.register_pickle_by_value(_pb_mod)
except Exception:  # noqa: BLE001  (older pickler without the hook)
    pass


def pb_schema(fields: list[tuple[int, str, str, bool]]) -> list[tuple]:
    """Validate and normalize a message schema.

    ``fields`` = [(field_number, name, kind, explicit_presence)].
    Field numbers must be unique, in [1, 2^29-1], and outside the
    reserved range 19000-19999 (spec). Kinds from ``_KINDS``.
    """
    seen: set[int] = set()
    out = []
    for num, name, kind, explicit in fields:
        if kind not in _KINDS:
            raise ValueError(f"unsupported kind {kind!r} for field {name}")
        if not (1 <= num < (1 << 29)) or 19000 <= num <= 19999:
            raise ValueError(f"bad field number {num}")
        if num in seen:
            raise ValueError(f"duplicate field number {num}")
        seen.add(num)
        out.append((num, name, kind, bool(explicit)))
    return sorted(out, key=lambda f: f[0])


# --------------------------------------------------------------------
# int64 two's complement (varints themselves: sink/wire.py)
# --------------------------------------------------------------------


def _int64_as_uvarint(n: int) -> int:
    """proto int64: negative values ride as 64-bit two's complement."""
    if not (-(1 << 63) <= n < 1 << 63):
        raise ValueError(f"int64 out of range: {n}")
    return n & ((1 << 64) - 1)


def _uvarint_as_int64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


# --------------------------------------------------------------------
# message encode
# --------------------------------------------------------------------

_DEFAULTS = {
    "int64": 0,
    "sint64": 0,
    "bool": False,
    "string": "",
    "bytes": b"",
    "double": 0.0,
    "fixed32": 0,
}


def encode_message(schema: list[tuple], row: tuple) -> bytes:
    """Serialize one row (values aligned with the schema's field
    order). ``None`` is legal only for explicit-presence fields (the
    field is simply absent); implicit-presence fields omit the
    default value per proto3."""
    if len(row) != len(schema):
        raise ValueError(f"arity mismatch: {len(row)} values, {len(schema)} fields")
    out = bytearray()
    for (num, name, kind, explicit), v in zip(schema, row):
        if v is None:
            if not explicit:
                raise ValueError(f"None in implicit-presence field {name}")
            continue
        # normalize first (numpy scalars from Arrow batches → python),
        # so the proto3 default-omission test below is type-stable
        if kind in ("int64", "sint64", "fixed32"):
            v = int(v)
        elif kind == "bool":
            v = bool(v)
        elif kind == "double":
            v = float(v)
        elif kind == "string":
            v = str(v)
        elif kind == "bytes":
            v = bytes(v)
        if not explicit and v == _DEFAULTS[kind]:
            continue  # proto3: defaults are not serialized
        wt = _KINDS[kind]
        out += write_uvarint((num << 3) | wt)
        if kind == "int64":
            out += write_uvarint(_int64_as_uvarint(v))
        elif kind == "sint64":
            out += write_zigzag(v)
        elif kind == "bool":
            out += b"\x01" if v else b"\x00"
        elif kind == "string":
            b = v.encode("utf-8")
            out += write_uvarint(len(b)) + b
        elif kind == "bytes":
            out += write_uvarint(len(v)) + v
        elif kind == "double":
            out += struct.pack("<d", v)
        elif kind == "fixed32":
            if not (0 <= v < 1 << 32):
                raise ValueError(f"fixed32 out of range: {v}")
            out += struct.pack("<I", v)
    return bytes(out)


# --------------------------------------------------------------------
# message decode
# --------------------------------------------------------------------


def _skip_unknown(wt: int, buf: bytes, pos: int) -> int:
    """Skip an unknown field's value by wire type (spec: readers must
    tolerate unknown fields for forward compatibility)."""
    if wt == WT_VARINT:
        return read_uvarint(buf, pos)[1]
    if wt == WT_I64:
        if pos + 8 > len(buf):
            raise ValueError("truncated i64 value")
        return pos + 8
    if wt == WT_LEN:
        n, pos = read_uvarint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("length overruns buffer")
        return pos + n
    if wt == WT_I32:
        if pos + 4 > len(buf):
            raise ValueError("truncated i32 value")
        return pos + 4
    raise ValueError(f"bad wire type {wt}")


def decode_message(schema: list[tuple], buf: bytes) -> tuple:
    """Parse one message's bytes into a value tuple in schema order.

    Validates: known fields must arrive with the schema's wire type
    (a mismatch is corruption, not evolution); group wire types 3/4
    raise; lengths may not overrun; the buffer must be consumed
    exactly. Unknown field numbers are skipped by wire type. A field
    repeated on the wire keeps the LAST value (spec: last-one-wins
    for non-repeated scalars). Absent fields decode to NULL
    (explicit presence) or the proto3 default (implicit)."""
    return _decode_message(schema, {f[0]: f for f in schema}, buf)


def _decode_message(schema: list[tuple], by_num: dict[int, tuple], buf: bytes) -> tuple:
    """``decode_message`` with the field-number lookup built by the caller,
    so a stream builds it once, not once per message."""
    got: dict[int, object] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = read_uvarint(buf, pos)
        num, wt = tag >> 3, tag & 7
        if num < 1:
            raise ValueError("field number 0 is reserved")
        if wt in (WT_SGROUP, WT_EGROUP):
            raise ValueError("group wire types are not supported")
        f = by_num.get(num)
        if f is None:
            pos = _skip_unknown(wt, buf, pos)
            continue
        _, name, kind, _ = f
        if wt != _KINDS[kind]:
            raise ValueError(
                f"wire type {wt} contradicts schema kind {kind} for {name}"
            )
        if kind == "int64":
            u, pos = read_uvarint(buf, pos)
            got[num] = _uvarint_as_int64(u)
        elif kind == "sint64":
            got[num], pos = read_zigzag(buf, pos)
        elif kind == "bool":
            u, pos = read_uvarint(buf, pos)
            if u > 1:
                raise ValueError(f"bad boolean varint {u}")
            got[num] = bool(u)
        elif kind == "string":
            n, pos = read_uvarint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("string length overruns buffer")
            got[num] = buf[pos : pos + n].decode("utf-8")
            pos += n
        elif kind == "bytes":
            n, pos = read_uvarint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("bytes length overruns buffer")
            got[num] = buf[pos : pos + n]
            pos += n
        elif kind == "double":
            if pos + 8 > len(buf):
                raise ValueError("truncated double")
            got[num] = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif kind == "fixed32":
            if pos + 4 > len(buf):
                raise ValueError("truncated fixed32")
            got[num] = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
    vals = []
    for num, name, kind, explicit in schema:
        if num in got:
            vals.append(got[num])
        else:
            vals.append(None if explicit else _DEFAULTS[kind])
    return tuple(vals)


# --------------------------------------------------------------------
# length-delimited stream framing
# --------------------------------------------------------------------


def encode_stream(schema: list[tuple], rows: list[tuple]) -> bytes:
    """writeDelimitedTo framing: varint length prefix per message."""
    out = bytearray()
    for row in rows:
        msg = encode_message(schema, row)
        out += write_uvarint(len(msg)) + msg
    return bytes(out)


def decode_stream(
    schema: list[tuple], payload: bytes, expected_rows: int | None = None
) -> list[tuple]:
    """Parse a length-delimited stream back into rows, validating the
    framing end to end: every length must fit, every message must
    consume its slice exactly (decode_message), and the stream must
    end on a message boundary. ``expected_rows`` (when given) pins
    the count — a framing drift raises instead of silently yielding
    a different row count."""
    by_num = {f[0]: f for f in schema}
    rows: list[tuple] = []
    pos = 0
    while pos < len(payload):
        n, pos = read_uvarint(payload, pos)
        if pos + n > len(payload):
            raise ValueError("message length overruns stream")
        rows.append(_decode_message(schema, by_num, payload[pos : pos + n]))
        pos += n
    if expected_rows is not None and len(rows) != expected_rows:
        raise ValueError(f"stream row-count drift: {len(rows)} != {expected_rows}")
    return rows


# --------------------------------------------------------------------
# distributed encode (the avro_blocks shape)
# --------------------------------------------------------------------


def protobuf_blocks(
    df: DataFrame, schema: list[tuple], rows_per_file: int = 16384
) -> DataFrame:
    """Encode ``df`` into length-delimited protobuf stream files,
    distributed: each task slices its partition into files of at most
    ``rows_per_file`` messages and emits one ``(block_rows, payload)``
    row per file — the shape a gRPC / object-store producer ships.
    Column order of ``df`` must match the schema's field order."""
    if rows_per_file < 1:
        raise ValueError("rows_per_file must be >= 1")
    return encode_blocks(df, rows_per_file, lambda chunk: encode_stream(schema, chunk))

"""Base-128 varints (unsigned LEB128) and zigzag, shared by every wire
codec in ``sink/``: RowBinary and Native length prefixes, Avro
int/long, protobuf varint/sint64 and Kafka's record varints.

One validation policy for all of them, so malformed input fails the
same way whatever the format:

- a buffer that ends inside a varint raises ``truncated varint``;
- a varint may be at most 10 bytes, and its 10th byte may carry only
  bit 0 (bit 63 of the value): anything more is outside 64 bits;
- encoding a value outside uint64 (``write_uvarint``) or int64
  (``write_zigzag``) raises.

Most values on these wires fit one byte (lengths below 128, small
deltas and counts), so every reader and writer checks that case first.
"""

from __future__ import annotations

# Worker-cwd import trap (see sink/rowbinary.py): ship this module by
# value inside pickled closures, like the codecs that import it.
try:  # pragma: no cover - exercised by the codec keys' worker path
    from pyspark import cloudpickle as _cp

    import etl_ch_destination_spark.sink.wire as _wire_mod

    _cp.register_pickle_by_value(_wire_mod)
except Exception:  # noqa: BLE001  (older pickler without the hook)
    pass

_ONE_BYTE = [bytes((u,)) for u in range(0x80)]


def write_uvarint(u: int) -> bytes:
    """Minimal unsigned LEB128 of a uint64."""
    if 0 <= u < 0x80:
        return _ONE_BYTE[u]
    if not 0 <= u < 1 << 64:
        raise ValueError(f"uvarint out of range: {u}")
    out = bytearray()
    while u >= 0x80:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode the varint at ``pos``; returns (value, next_pos)."""
    try:
        b = buf[pos]
        if b < 0x80:
            return b, pos + 1
        u = b & 0x7F
        shift = 7
        while True:
            pos += 1
            b = buf[pos]
            if shift == 63 and b > 1:
                raise ValueError("varint exceeds 64 bits: out of long range")
            u |= (b & 0x7F) << shift
            if b < 0x80:
                return u, pos + 1
            shift += 7
    except IndexError:
        raise ValueError("truncated varint") from None


def write_zigzag(n: int) -> bytes:
    """Zigzag-encode an int64, then write it as a varint."""
    if -64 <= n < 64:
        return _ONE_BYTE[(n << 1) ^ (n >> 63)]
    if not -(1 << 63) <= n < 1 << 63:
        raise ValueError(f"zigzag value out of long range: {n}")
    return write_uvarint((n << 1) ^ (n >> 63))


def read_zigzag(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode the zigzag varint at ``pos``; returns (value, next_pos)."""
    if pos < len(buf) and buf[pos] < 0x80:
        b = buf[pos]
        return (b >> 1) ^ -(b & 1), pos + 1
    u, pos = read_uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos

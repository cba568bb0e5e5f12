"""The shared varint/zigzag core (sink/wire.py) that every wire codec in
``sink/`` imports: goldens and round trips for the primitives, one
validation policy for malformed varints across all five public
decoders, and the by-value pickling the codecs' worker closures need.
"""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from etl_ch_destination_spark.sink import wire
from etl_ch_destination_spark.sink.wire import (
    read_uvarint,
    read_zigzag,
    write_uvarint,
    write_zigzag,
)


class TestVarint:
    def test_golden(self):
        assert write_uvarint(0) == b"\x00"
        assert write_uvarint(1) == b"\x01"
        assert write_uvarint(127) == b"\x7f"
        assert write_uvarint(128) == b"\x80\x01"
        assert write_uvarint(300) == b"\xac\x02"
        assert write_uvarint(100_000) == b"\xa0\x8d\x06"

    def test_negative_rejected(self):
        with pytest.raises(ValueError):
            write_uvarint(-1)


def test_zigzag_fastpath_wire_identical_and_roundtrip():
    def zz_ref(n: int) -> bytes:  # the pre-r15 loop, verbatim
        u = (n << 1) ^ (n >> 63)
        out = bytearray()
        while True:
            b = u & 0x7F
            u >>= 7
            if u:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    vals = list(range(-70, 70)) + [
        -1, 63, -64, 64, -65, 127, 128, 8191, 8192, -8192,
        2**31 - 1, -(2**31), 2**62, -(2**62),
    ]
    for v in vals:
        enc = write_zigzag(v)
        assert enc == zz_ref(v), v
        dec, pos = read_zigzag(enc, 0)
        assert dec == v and pos == len(enc), v


def test_kafka_zigzag_varint_roundtrip():
    for n in (0, 1, -1, 63, -64, 64, 300, -300, 2**31, -(2**31), 2**62):
        buf = write_zigzag(n)
        got, pos = read_zigzag(buf, 0)
        assert (got, pos) == (n, len(buf))
    with pytest.raises(ValueError, match="truncated"):
        read_zigzag(b"\x80\x80", 0)


def test_avro_long_range():
    # varint: 10th byte with any bit above bit 0 is out of long range
    evil = bytes([0xFF] * 9 + [0x7F])
    with pytest.raises(ValueError, match="out of long range"):
        read_zigzag(evil, 0)
    # the full long range itself still round-trips
    for v in (-(2**63), 2**63 - 1, 0, -1):
        assert read_zigzag(write_zigzag(v), 0)[0] == v


def test_full_range_roundtrip_and_encoding_bounds():
    """Random values over all of uint64 / int64 round-trip at the
    minimal length, from any offset; one past either end raises."""
    rng = random.Random(7)
    for _ in range(2000):
        u = rng.getrandbits(rng.randint(1, 64))
        enc = write_uvarint(u)
        assert len(enc) == max(1, -(-u.bit_length() // 7))
        assert read_uvarint(b"\x05" + enc + b"\x05", 1) == (u, 1 + len(enc))
        n = u - (1 << 63) if rng.random() < 0.5 else u >> 1
        enc = write_zigzag(n)
        assert read_zigzag(b"\x05" + enc, 1) == (n, 1 + len(enc))
    assert read_uvarint(write_uvarint(2**64 - 1), 0) == (2**64 - 1, 10)
    with pytest.raises(ValueError, match="out of range"):
        write_uvarint(2**64)
    for n in (2**63, -(2**63) - 1):
        with pytest.raises(ValueError, match="out of long range"):
            write_zigzag(n)


# Malformed varints, each read where a codec expects its first varint:
# truncated after a continuation byte; 11 bytes; 10 bytes whose last
# one carries bits past bit 63.
MALFORMED = {
    "truncated": (b"\x80", "truncated varint"),
    "eleven_bytes": (b"\xff" * 10 + b"\x01", "exceeds 64 bits"),
    "past_int64": (b"\xff" * 9 + b"\x7f", "exceeds 64 bits"),
}


def _rowbinary(bad: bytes):
    from etl_ch_destination_spark.sink.rowbinary import decode_rows

    # a String column starts with its varint length
    decode_rows(StructType([StructField("s", StringType(), False)]), bad)


def _native(bad: bytes):
    from etl_ch_destination_spark.sink.native import decode_native_block

    # a block starts with its varint column count
    decode_native_block(StructType([StructField("s", StringType(), False)]), bad)


def _kafka(bad: bytes):
    from etl_ch_destination_spark.sink.kafka import crc32c, parse_batch

    # one record whose length varint is ``bad``, under a valid CRC
    after_crc = struct.pack(">hiqqqhii", 0, 0, 0, 0, -1, -1, -1, 1) + bad
    body = struct.pack(">iBI", 0, 2, crc32c(after_crc)) + after_crc
    parse_batch(struct.pack(">qi", 0, len(body)) + body, 0)


def _avro(bad: bytes):
    from etl_ch_destination_spark.sink.avro import AVRO_MAGIC, decode_container

    # the metadata map starts with its zigzag block count
    decode_container(AVRO_MAGIC + bad, None)


def _protobuf(bad: bytes):
    from etl_ch_destination_spark.sink.protobuf import decode_message, pb_schema

    # a message starts with a varint tag
    decode_message(pb_schema([(1, "k", "int64", False)]), bad)


@pytest.mark.parametrize("case", sorted(MALFORMED))
@pytest.mark.parametrize(
    "decode", [_rowbinary, _native, _kafka, _avro, _protobuf],
    ids=["rowbinary", "native", "kafka", "avro", "protobuf"],
)
def test_malformed_varint_rejected_by_every_codec(decode, case):
    bad, message = MALFORMED[case]
    with pytest.raises(ValueError, match=message):
        decode(bad)


def test_wire_and_its_importers_pickle_by_value():
    """Worker-cwd import trap (see sink/rowbinary.py): a worker started
    outside the repo cannot import this package, so the shared core and
    every codec that imports it must ship by value."""
    from pyspark.cloudpickle.cloudpickle import _is_registered_pickle_by_value

    from etl_ch_destination_spark.sink import avro, kafka, native, protobuf, rowbinary

    for mod in (wire, rowbinary, native, avro, protobuf, kafka):
        assert _is_registered_pickle_by_value(mod), mod.__name__

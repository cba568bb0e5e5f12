"""The shared varint/zigzag core (sink/wire.py) that every wire codec in
``sink/`` imports: goldens and round trips for the primitives, one
validation policy for malformed varints across all five public
decoders, and the by-value pickling the codecs' worker closures need.
"""

from __future__ import annotations

import importlib
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


# ---------------------------------------------------------------------------
# the staged block frame: (block_rows, payload) rows, one per chunk

# Plain rows for the four row-order stagers: id, a nullable name.
_PLAIN = [(i, None if i % 4 == 0 else f"name-{i}") for i in range(25)]


def _plain_df(spark):
    return spark.createDataFrame(_PLAIN, "id long, name string").coalesce(1)


_PB_FIELDS = [(1, "id", "int64", False), (2, "name", "string", True)]


def _rowbinary_case(spark):
    from etl_ch_destination_spark.sink.rowbinary import encode_block, rowbinary_blocks

    df = _plain_df(spark)
    return rowbinary_blocks(df, rows_per_block=10), 10, _PLAIN, (
        lambda chunk: encode_block(df.schema, chunk)
    )


def _native_case(spark):
    from etl_ch_destination_spark.sink.native import encode_native_block, native_blocks

    df = _plain_df(spark)
    return native_blocks(df, rows_per_block=10), 10, _PLAIN, (
        lambda chunk: encode_native_block(df.schema, chunk)
    )


def _avro_case(spark):
    from etl_ch_destination_spark.sink.avro import avro_blocks, avro_schema, encode_container

    df = _plain_df(spark)
    blocks = avro_blocks(df, rows_per_file=10, objects_per_block=3, codec="deflate")
    return blocks, 10, _PLAIN, (
        lambda chunk: encode_container(
            avro_schema(df.schema), chunk, codec="deflate", objects_per_block=3
        )
    )


def _protobuf_case(spark):
    from etl_ch_destination_spark.sink.protobuf import encode_stream, pb_schema, protobuf_blocks

    schema = pb_schema(_PB_FIELDS)
    return protobuf_blocks(_plain_df(spark), schema, rows_per_file=10), 10, _PLAIN, (
        lambda chunk: encode_stream(schema, chunk)
    )


# Kafka rows as (ts_ms, key, value, hdr_src); the staged frame puts the
# columns in another order, because the stager reads them by name.
_KAFKA = [
    (1_000 + 7 * (i % 5), None if i % 6 == 0 else f"k{i}".encode(),
     None if i % 9 == 0 else f"v{i}".encode(), f"src-{i % 3}")
    for i in range(29)
]


def _kafka_case(spark):
    from etl_ch_destination_spark.sink.kafka import encode_batch, kafka_segments

    df = spark.createDataFrame(
        [(src, value, ts, key) for ts, key, value, src in _KAFKA],
        "hdr_src string, value binary, ts_ms long, key binary",
    ).coalesce(1)

    def segment(chunk):
        # batches of 4 records, offsets restarting at 0 in every segment
        records = [(ts, key, value, [(b"src", src.encode())])
                   for ts, key, value, src in chunk]
        return b"".join(
            encode_batch(lo, min(r[0] for r in records[lo:lo + 4]), records[lo:lo + 4])
            for lo in range(0, len(records), 4)
        )

    # 4 records x 3 batches per segment: 12, 12 and a 5-record tail
    # segment whose second batch holds a single record
    return kafka_segments(df, records_per_batch=4, batches_per_segment=3), 12, _KAFKA, segment


_DOCS = [(i, f"text {i}", "en" if i % 2 else "de", f"s{i % 3}") for i in range(1, 26)]


def _warc_case(spark):
    from etl_ch_destination_spark.sink.warc import (
        encode_record,
        gzip_member,
        http_response_payload,
        warc_files,
    )

    df = spark.createDataFrame(
        [(source, len(text), lang, text, doc_id) for doc_id, text, lang, source in _DOCS],
        "source string, n_chars long, lang string, text string, doc_id long",
    ).coalesce(1)

    def warc_file(chunk):
        members = [gzip_member(encode_record(
            "warcinfo",
            [("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
             ("WARC-Date", "2024-01-01T00:00:00Z"),
             ("Content-Type", "application/warc-fields")],
            b"software: etl-ch-destination-spark\r\n",
        ))]
        for doc_id, text, lang, source in chunk:
            uri = f"https://example.org/{source}/{doc_id}"
            rid = f"<urn:uuid:{doc_id:032x}>"
            date = "2024-01-01T00:00:00Z"
            if doc_id % 5 == 0:
                members.append(gzip_member(encode_record(
                    "request",
                    [("WARC-Record-ID", rid), ("WARC-Date", date), ("WARC-Target-URI", uri)],
                    b"GET / HTTP/1.1\r\nHost: example.org\r\n\r\n",
                )))
            http = http_response_payload(
                200,
                [("Content-Type", "text/plain; charset=utf-8"), ("X-Doc-Lang", lang)],
                text.encode("utf-8"),
            )
            members.append(gzip_member(encode_record(
                "response",
                [("WARC-Record-ID", rid), ("WARC-Date", date), ("WARC-Target-URI", uri),
                 ("Content-Type", "application/http;msgtype=response")],
                http,
            )))
        return b"".join(members)

    return warc_files(df, docs_per_file=10, request_every=5), 10, _DOCS, warc_file


_STAGERS = {
    "rowbinary": _rowbinary_case,
    "native": _native_case,
    "avro": _avro_case,
    "protobuf": _protobuf_case,
    "kafka": _kafka_case,
    "warc": _warc_case,
}


@pytest.mark.parametrize("case", list(_STAGERS))
def test_stager_chunks_and_payloads(spark, case):
    """Every stager cuts a one-partition input into chunks of exactly
    its chunk size plus a remainder, and each payload is the format's
    local encoder run on that chunk."""
    blocks, k, rows, encode = _STAGERS[case](spark)
    got = blocks.collect()
    assert [b.block_rows for b in got] == [k, k, len(rows) - 2 * k]
    chunks = [rows[:k], rows[k:2 * k], rows[2 * k:]]
    assert [bytes(b.payload) for b in got] == [encode(c) for c in chunks]


@pytest.mark.parametrize(
    "module, stager, kwargs",
    [
        ("rowbinary", "rowbinary_blocks", {"rows_per_block": 0}),
        ("native", "native_blocks", {"rows_per_block": 0}),
        ("avro", "avro_blocks", {"rows_per_file": 0}),
        ("protobuf", "protobuf_blocks", {"schema": [], "rows_per_file": 0}),
        ("kafka", "kafka_segments", {"records_per_batch": 0}),
        ("kafka", "kafka_segments", {"batches_per_segment": 0}),
        ("warc", "warc_files", {"docs_per_file": 0}),
    ],
    ids=["rowbinary", "native", "avro", "protobuf", "kafka_batch", "kafka_segment", "warc"],
)
def test_stagers_reject_non_positive_chunk_sizes(spark, module, stager, kwargs):
    df = spark.createDataFrame(
        [(1, b"k", b"v", "s", "t", "en")],
        "ts_ms long, key binary, value binary, hdr_src string, text string, lang string",
    ).selectExpr("*", "ts_ms AS doc_id", "hdr_src AS source")
    stage = getattr(importlib.import_module(f"etl_ch_destination_spark.sink.{module}"), stager)
    with pytest.raises(ValueError, match=">= 1"):
        stage(df, **kwargs)


class _OneBatch:
    """Stands in for a staged-blocks DataFrame: ``mapInPandas`` runs the
    partition function on one local pandas batch, as a task would."""

    def __init__(self, pdf):
        self.pdf = pdf

    def mapInPandas(self, fn, schema):
        return list(fn(iter([self.pdf])))


def test_decode_blocks_frames_rows_and_checks_row_count(spark):
    import pandas as pd

    def decode(payload):
        return [(b, chr(b)) for b in payload]

    blocks = spark.createDataFrame([(2, b"ab"), (1, b"c")], wire.BLOCK_SCHEMA).coalesce(1)
    got = wire.decode_blocks(blocks, decode, "code long, ch string").collect()
    assert [tuple(r) for r in got] == [(97, "a"), (98, "b"), (99, "c")]
    assert got[0].__fields__ == ["code", "ch"]

    # block_rows is 2: one decoder yields a row too few, the other one too many
    frame = _OneBatch(pd.DataFrame({"block_rows": [2], "payload": [b"ab"]}))
    for drift in (lambda p: decode(p)[:1], lambda p: decode(p + b"c")):
        with pytest.raises(ValueError, match="row-count drift"):
            wire.decode_blocks(frame, drift, "code long, ch string")


def test_read_blocks_declares_the_frame_and_rejects_foreign_files(spark, tmp_path):
    def decode(payload):
        return [(b,) for b in payload]

    good = str(tmp_path / "good")
    spark.createDataFrame([(2, b"ab")], wire.BLOCK_SCHEMA).coalesce(1).write.parquet(good)
    got = wire.decode_blocks(wire.read_blocks(spark, good), decode, "code long").collect()
    assert [tuple(r) for r in got] == [(97,), (98,)]

    no_rows = str(tmp_path / "no_block_rows")
    spark.createDataFrame([(b"ab",)], "payload binary").write.parquet(no_rows)
    text = str(tmp_path / "text_payload")
    spark.createDataFrame([(2, "ab")], "block_rows long, payload string").write.parquet(text)
    for path, match in ((no_rows, "block_rows is missing"), (text, "payload is string")):
        with pytest.raises(ValueError, match=match):
            wire.decode_blocks(wire.read_blocks(spark, path), decode, "code long").collect()

    # The declared read on its own returns a missing block_rows as null,
    # and decode_blocks still rejects the block.
    bare = spark.read.schema(wire.BLOCK_SCHEMA).parquet(no_rows)
    with pytest.raises(Exception, match="row-count drift"):
        wire.decode_blocks(bare, decode, "code long").collect()

"""The wire layer shared by every codec in ``sink/``: base-128 varints
and zigzag at the bottom, the staged block frame on top.

Varints (unsigned LEB128) and zigzag serve RowBinary and Native length
prefixes, Avro int/long, protobuf varint/sint64 and Kafka's record
varints. One validation policy for all of them, so malformed input
fails the same way whatever the format:

- a buffer that ends inside a varint raises ``truncated varint``;
- a varint may be at most 10 bytes, and its 10th byte may carry only
  bit 0 (bit 63 of the value): anything more is outside 64 bits;
- encoding a value outside uint64 (``write_uvarint``) or int64
  (``write_zigzag``) raises.

Most values on these wires fit one byte (lengths below 128, small
deltas and counts), so every reader and writer checks that case first.

The staged block frame is a ``BLOCK_SCHEMA`` row per self-contained
payload: a RowBinary or Native insert block, an Avro container file, a
protobuf stream, a Kafka log segment or a WARC file. ``encode_blocks``
is the one stager loop: it cuts each partition into chunks and hands
each chunk to the format's encoder. ``read_blocks`` reads a staged
directory back under the known frame, and ``decode_blocks`` is the one
reader loop: it decodes each payload and raises when a block yields a
row count other than its ``block_rows``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


BLOCK_SCHEMA = "block_rows long, payload binary"


def encode_blocks(
    df: DataFrame, rows_per_block: int, encode: Callable[[list[tuple]], bytes]
) -> DataFrame:
    """Stage ``df`` as ``BLOCK_SCHEMA`` rows, distributed.

    Each task cuts its partition into chunks of at most
    ``rows_per_block`` row tuples, in schema order, and emits one
    ``(len(chunk), encode(chunk))`` row per chunk. A chunk never spans
    partitions, so every payload decodes on its own and a failed block
    retries alone."""
    if rows_per_block < 1:
        raise ValueError("rows_per_block must be >= 1")

    def encode_partition(batches: Iterator) -> Iterator:
        import pandas as pd

        def frame(chunk: list[tuple]) -> pd.DataFrame:
            return pd.DataFrame({"block_rows": [len(chunk)], "payload": [encode(chunk)]})

        chunk: list[tuple] = []
        for pdf in batches:
            # itertuples keeps schema column order; object dtype keeps
            # None/Decimal/date values intact through Arrow
            for row in pdf.itertuples(index=False, name=None):
                chunk.append(row)
                if len(chunk) == rows_per_block:
                    yield frame(chunk)
                    chunk = []
        if chunk:
            yield frame(chunk)

    return df.mapInPandas(encode_partition, schema=BLOCK_SCHEMA)


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Read a local staged block directory back as ``BLOCK_SCHEMA`` rows.

    The frame is known, so the read declares it: a plain
    ``spark.read.parquet`` would first run a Spark job to infer the
    schema from a footer. The scan keeps the files' own splits, so a
    decode over it starts no shuffle.

    Spark's parquet reader returns a string column as binary when the
    read asks for binary, and a missing column as nulls, so the
    declared read alone would decode a directory that another writer
    staged with a text ``payload``. Before the read, each part file's
    footer (metadata only, no Spark job) must hold ``block_rows`` as
    int64 and ``payload`` as binary, else this raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    want = {"block_rows": pa.int64(), "payload": pa.binary()}
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        got = pq.read_schema(os.path.join(path, name))
        for field, kind in want.items():
            i = got.get_field_index(field)
            if i < 0 or got.field(i).type != kind:
                have = "missing" if i < 0 else got.field(i).type
                raise ValueError(f"staged file {name}: {field} is {have}, want {kind}")
    return spark.read.schema(BLOCK_SCHEMA).parquet(path)


def decode_blocks(
    blocks: DataFrame, decode: Callable[[bytes], list[tuple]], schema: str
) -> DataFrame:
    """Decode staged ``BLOCK_SCHEMA`` rows, distributed.

    ``decode(payload)`` returns one block's output tuples in the order
    of the DDL ``schema``. A block that yields a row count other than
    its ``block_rows`` raises, so framing drift never passes silently."""
    out_schema = StructType.fromDDL(schema)
    names = out_schema.names

    def decode_partition(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for payload, n in zip(pdf["payload"], pdf["block_rows"]):
                got = decode(bytes(payload))
                if len(got) != n:
                    raise ValueError(f"block row-count drift: {len(got)} != {n}")
                rows += got
            yield pd.DataFrame(rows, columns=names)

    return blocks.mapInPandas(decode_partition, schema=out_schema)

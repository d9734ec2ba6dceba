"""WARC source: Common Crawl's native archive format -> the pages table.

Pure-Python WARC/1.x parsing (public ISO 28500 format): records are a
header block (CRLF-terminated lines, blank-line terminated) plus a
Content-Length-delimited payload; ``response`` records carry an HTTP
response whose body is the page HTML.  Crawl archives are per-record gzip
members concatenated into one .warc.gz — stdlib zlib handles concatenated
members transparently.

Distribution model: one Spark task per WARC file via the built-in
``binaryFile`` source (Common Crawl ships ~1 GB files — one file is a
sensible task), records exploded inside one ``map_batches`` pass.  At
100 TB the listing parallelizes over the file manifest and the extraction
shuffle downstream re-partitions by url hash as usual; nothing here is
driver-side.
"""

from __future__ import annotations

import io
import json
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pages import PAGES_SCHEMA
from .session import map_batches

_GZIP_MAGIC = b"\x1f\x8b"


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the Common-Crawl layout)."""
    out = bytearray()
    while data:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out += d.decompress(data)
        out += d.flush()
        data = d.unused_data
        if not d.eof:  # truncated trailing member
            break
    return bytes(out)


def parse_warc(data: bytes):
    """Yield (headers: dict, payload: bytes) per WARC record."""
    if data[:2] == _GZIP_MAGIC:
        data = _gunzip_members(data)
    buf = io.BytesIO(data)
    while True:
        # skip inter-record blank lines
        line = buf.readline()
        while line in (b"\r\n", b"\n"):
            line = buf.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            return  # malformed remainder; stop rather than guess
        headers = {}
        while True:
            line = buf.readline()
            if line in (b"\r\n", b"\n", b""):
                break
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                    "latin-1"
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            # Missing/malformed Content-Length: don't desynchronize the
            # stream (a wrong read offset silently drops every remaining
            # record) and don't raise (one bad record must not kill the
            # whole archive's Spark task).  Scan forward to the next
            # "\r\n\r\nWARC/" boundary and treat the span as the payload.
            rest = buf.read()
            nxt = rest.find(b"\r\n\r\nWARC/")
            if nxt == -1:
                nxt = rest.find(b"\n\nWARC/")
                sep = 2
            else:
                sep = 4
            if nxt == -1:
                yield headers, rest
                return
            yield headers, rest[:nxt]
            buf = io.BytesIO(rest[nxt + sep:])
            continue
        payload = buf.read(length)
        yield headers, payload


def _http_body(payload: bytes) -> bytes:
    """Body of an HTTP response payload (after the header block)."""
    for sep in (b"\r\n\r\n", b"\n\n"):
        idx = payload.find(sep)
        if idx != -1:
            return payload[idx + len(sep):]
    return payload


def _warc_date(value):
    """A ``WARC-Date`` as a naive UTC datetime (no offset means UTC); None
    when it is missing or not ISO 8601."""
    try:
        ts = datetime.fromisoformat(value)
    except (TypeError, ValueError):
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


def _records(data: bytes, warc_type: str):
    """Yield (url, warc_ts, payload, headers) for every ``warc_type``
    record that names a target url.  An unparseable ``WARC-Date`` gives a
    null ``warc_ts``: one bad record must not fail its archive's task."""
    for headers, payload in parse_warc(data):
        if headers.get("warc-type") != warc_type:
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        yield url, _warc_date(headers.get("warc-date")), payload, headers


def _read_archives(spark, path, to_rows, schema) -> DataFrame:
    """Archive file(s) -> one DataFrame row per tuple ``to_rows`` returns.

    ``path`` accepts the globs the binaryFile source accepts; each file is
    one input row -> one parse task, its records exploded in one
    ``map_batches`` pass."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def columns_of(batch):
        rows = [row for blob in batch.column("content").to_pylist() for row in to_rows(blob)]
        return list(zip(*rows)) or [()] * len(schema)

    return map_batches(files, schema, columns_of)


def warc_to_page_rows(data: bytes):
    """(url, warc_ts, html, text, lang) tuples for every response record."""
    return [
        (url, ts, _http_body(payload), None, None)
        for url, ts, payload, _ in _records(data, "response")
    ]


def read_warc_pages(spark, path) -> DataFrame:
    """WARC file(s) -> pages DataFrame (url, warc_ts, html, text, lang),
    one row per response record."""
    return _read_archives(spark, path, warc_to_page_rows, PAGES_SCHEMA)


WET_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def wet_to_document_rows(data: bytes):
    """(url, warc_ts, text, lang) tuples for every ``conversion`` record.

    WET archives are WARC containers whose ``conversion`` records hold the
    crawl's pre-extracted plain text (Content-Type text/plain, no HTTP
    envelope); ``WARC-Identified-Content-Language`` carries a
    comma-separated language list — the primary one is kept."""
    rows = []
    for url, ts, payload, headers in _records(data, "conversion"):
        langs = headers.get("warc-identified-content-language")
        rows.append(
            (
                url,
                ts,
                payload.decode("utf-8", errors="replace"),
                langs.split(",")[0].strip() if langs else None,
            )
        )
    return rows


def read_wet_documents(spark, path) -> DataFrame:
    """WET file(s) -> (url, warc_ts, text, lang) DataFrame: the text-tier
    ingest, which reads the crawl's own extracted text and skips the HTML
    parse entirely."""
    return _read_archives(spark, path, wet_to_document_rows, WET_SCHEMA)


WAT_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("title", StringType(), True),
        StructField("n_links", IntegerType(), True),
        StructField("links", ArrayType(StringType()), True),
    ]
)


def wat_to_metadata_rows(data: bytes):
    """(url, warc_ts, title, n_links, links) for every WAT ``metadata``
    record.  WAT archives are WARC containers whose metadata records carry
    a JSON envelope (public Common-Crawl WAT spec): the page's parsed head
    title and outlink list live under Envelope → Payload-Metadata →
    HTTP-Response-Metadata → HTML-Metadata.  Malformed JSON skips the one
    record, never the archive."""
    rows = []
    for url, ts, payload, _ in _records(data, "metadata"):
        try:
            env = json.loads(payload.decode("utf-8", errors="replace"))
        except Exception:
            continue
        html_md = (
            env.get("Envelope", {})
            .get("Payload-Metadata", {})
            .get("HTTP-Response-Metadata", {})
            .get("HTML-Metadata", {})
        )
        title = (html_md.get("Head") or {}).get("Title")
        links = [
            l["url"]
            for l in (html_md.get("Links") or [])
            if isinstance(l, dict) and l.get("url")
        ]
        rows.append((url, ts, title, len(links), links))
    return rows


def read_wat_metadata(spark, path) -> DataFrame:
    """WAT file(s) -> (url, warc_ts, title, n_links, links) DataFrame: the
    metadata-tier ingest, which reads the crawl-parsed titles and outlinks
    without touching the raw HTML."""
    return _read_archives(spark, path, wat_to_metadata_rows, WAT_SCHEMA)


# ------------------------------------------------------------- test support


def build_wat(entries, compress=False) -> bytes:
    """Build a WAT file for tests: entries = [(url, date, title, links)].
    Payloads follow the public Common-Crawl WAT JSON envelope shape."""
    records = []
    for url, date, title, links in entries:
        env = {
            "Envelope": {
                "WARC-Header-Metadata": {"WARC-Target-URI": url},
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Head": {"Title": title},
                            "Links": [{"path": "A@/href", "url": l} for l in links],
                        }
                    }
                },
            }
        }
        records.append(
            ("metadata", url, date, json.dumps(env).encode("utf-8"))
        )
    return build_warc(records, compress=compress)


def build_warc(records, compress=False) -> bytes:
    """Build a WARC file for tests: records = [(type, url, date, payload)]
    or [(type, url, date, payload, extra_headers_dict)].  ``response``
    records wrap the payload in a minimal HTTP response; other types
    (e.g. WET ``conversion``) carry it verbatim."""
    out = bytearray()
    for rec in records:
        rec_type, url, date, html = rec[:4]
        extra = rec[4] if len(rec) > 4 else {}
        if rec_type == "response":
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
            )
        else:
            payload = html
        head = [
            b"WARC/1.0",
            b"WARC-Type: " + rec_type.encode(),
            b"WARC-Date: " + date.encode(),
            b"WARC-Record-ID: <urn:uuid:%d>" % len(out),
        ]
        if url:
            head.append(b"WARC-Target-URI: " + url.encode())
        for name, value in extra.items():
            head.append(f"{name}: {value}".encode())
        head.append(b"Content-Length: %d" % len(payload))
        member = b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        if compress:
            gz = zlib.compressobj(wbits=zlib.MAX_WBITS | 16)
            member = gz.compress(member) + gz.flush()
        out += member
    return bytes(out)

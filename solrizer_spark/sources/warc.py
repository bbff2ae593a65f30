"""WARC ingestion source: Common-Crawl-style archives → pages rows.

The engine's canonical input is a table of ``(url, warc_ts, html,
text, lang)`` rows (BASELINE.json input_hint); this source is the
ingestion step that CREATES that table from raw WARC archives (the
format Common Crawl publishes). Pure stdlib parsing (no warcio —
not in this image) driven through ``mapInPandas`` so each archive
streams through one Arrow batch pipeline.

Format notes (ISO 28500): a WARC file is a sequence of records —

    WARC/1.0\r\n
    <warc-headers: Name: value>\r\n
    \r\n
    <Content-Length octets of block>\r\n\r\n

``response`` records carry an HTTP response message as the block
(status line, headers, body). Common Crawl ships one gzip member per
record (``.warc.gz``); plain ``.warc`` is a raw concatenation. Both
are handled: multi-member gzip via repeated ``zlib`` decompress with
leftover re-feed.

Scale design: parallelism is per archive file (``binaryFile``
source) — Common Crawl's 10^5 ~1 GB segments per crawl give ample
task fan-out for a 1000-executor cluster, and each task streams ONE
archive (bounded memory: records are parsed incrementally, emitted in
Arrow batches). Set ``spark.sql.files.maxPartitionBytes`` ≥ the
archive size so files are not split mid-record (binaryFile never
splits; the note matters only if this reader is pointed at a
splittable source). For random access (re-fetch by offset) use the
crawl index's (file, offset, length) triples and range reads —
documented, out of scope here. Malformed records are quarantined as
rows with ``parse_error`` set, never task failures (same contract as
the HTML kernel).
"""

from __future__ import annotations

import io
import re
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["WARC_PAGES_SCHEMA", "iter_warc_records", "parse_warc", "read_warc", "write_warc"]

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("http_charset", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("warc_record_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("parse_error", T.StringType()),
    ]
)

_CRLF = b"\r\n"

#: W3C-DTF / RFC 3339 WARC-Date with any fractional-second precision
#: (WARC 1.1); the fraction is truncated to µs in parse_warc.
_WARC_DATE_RE = re.compile(
    r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})(?:\.(\d+))?Z$"
)


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield each gzip member's decompressed bytes; Common Crawl
    writes one member per WARC record, so this streams record-by-
    record instead of materializing the whole (~4-5× larger)
    decompressed archive at once. A corrupt member ends the scan
    (callers surface it as a per-archive parse_error row — one bad
    deflate stream must never fail the Spark task)."""
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(rest) + d.flush()
        except zlib.error:
            return
        yield member
        rest = d.unused_data


def _parse_headers(blob: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in blob.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return headers


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield ``(warc_headers, block_bytes)`` per record from raw WARC
    bytes (gzip auto-detected; multi-member gzip streamed member by
    member). Tolerant: a malformed record ends the scan rather than
    raising (the tail is unreachable without a valid Content-Length
    anyway)."""
    if data[:2] == b"\x1f\x8b":
        # one member per record (the Common Crawl layout): stream;
        # a single member holding many records also works (each chunk
        # is scanned for every record it contains)
        for member in _iter_gzip_members(data):
            yield from _iter_records_plain(member)
        return
    yield from _iter_records_plain(data)


def _iter_records_plain(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    buf = io.BytesIO(data)
    n = len(data)
    while buf.tell() < n:
        # skip inter-record blank lines
        line = buf.readline()
        while line in (b"\r\n", b"\n") and buf.tell() < n:
            line = buf.readline()
        if not line.startswith(b"WARC/"):
            return
        header_lines = []
        while True:
            h = buf.readline()
            if h in (b"\r\n", b"\n", b""):
                break
            header_lines.append(h.rstrip(b"\r\n"))
        headers = _parse_headers(_CRLF.join(header_lines))
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            # a negative length would make buf.read() swallow the whole
            # tail as one garbage block — stop cleanly instead
            return
        block = buf.read(length)
        if len(block) < length:
            return
        yield headers, block


def _parse_http_response(
    block: bytes,
) -> tuple[int | None, str | None, str | None, bytes]:
    """(status, content_type, charset, body) from an HTTP response
    message. ``charset`` is the Content-Type parameter label verbatim
    (lower-cased, unquoted) — the transport-layer declaration that
    WHATWG ranks above the in-document meta prescan; the extraction
    decode ladder consumes it via the ``http_charset`` column."""
    head, sep, body = block.partition(b"\r\n\r\n")
    if not sep:
        return None, None, None, block
    lines = head.split(_CRLF)
    status = None
    parts = lines[0].split()
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    http_headers = _parse_headers(_CRLF.join(lines[1:]))
    ctype = http_headers.get("content-type")
    charset = None
    if ctype:
        for param in ctype.split(";")[1:]:
            k, _, v = param.partition("=")
            if k.strip().lower() == "charset" and v.strip():
                charset = v.strip().strip("\"'").lower()
                break
    return status, ctype.split(";")[0].strip() if ctype else None, charset, body


def parse_warc(data: bytes, source_file: str = "") -> Iterator[dict]:
    """Response records of one archive → page-row dicts
    (WARC_PAGES_SCHEMA shape). Non-response records (warcinfo,
    request, metadata) are skipped; responses that fail HTTP parsing
    are emitted with ``parse_error`` set so lineage counts them."""
    from datetime import datetime, timezone

    for headers, block in iter_warc_records(data):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        rec_id = headers.get("warc-record-id")
        ts = None
        raw_ts = headers.get("warc-date")
        if raw_ts:
            # WARC 1.0 mandates whole seconds; WARC 1.1 allows ANY
            # W3C-DTF fractional precision (crawlers emit 9-digit
            # RFC3339Nano too, which %f rejects) — parse the fraction
            # ourselves, truncating to µs, so no valid date silently
            # yields warc_ts=null (that null would feed min/max ingest
            # metrics and dedup canonical ordering).
            dm = _WARC_DATE_RE.match(raw_ts)
            if dm:
                try:
                    ts = datetime.strptime(
                        dm.group(1), "%Y-%m-%dT%H:%M:%S"
                    ).replace(
                        microsecond=int((dm.group(2) or "")[:6].ljust(6, "0")),
                        tzinfo=timezone.utc,
                    )
                except ValueError:
                    pass  # genuine garbage (month 13 etc.): tolerant null
        status, ctype, charset, body = _parse_http_response(block)
        yield {
            "url": url,
            "warc_ts": ts,
            "html": body if status is not None else None,
            "content_type": ctype,
            "http_charset": charset,
            "http_status": status,
            "warc_record_id": rec_id,
            "source_file": source_file,
            "parse_error": None if status is not None else "bad_http_response",
        }


def _archive_error_row(path_: str, err: Exception) -> dict:
    cols = [f.name for f in WARC_PAGES_SCHEMA.fields]
    return {
        **{c: None for c in cols},
        "source_file": path_,
        "parse_error": f"archive_error:{type(err).__name__}",
    }


def parse_archives_batched(batches, batch_rows: int = 2000):
    """The ``mapInPandas`` body of WARC reads: one streaming parser
    per archive, rows emitted in ≤ ``batch_rows`` pandas frames so
    peak task memory is one raw archive (inherent to the binaryFile
    source) + one batch of parsed rows — never the whole decompressed
    archive plus every row at once. Any per-archive parser crash (corrupt gzip, pathological
    bytes) is quarantined as a single ``parse_error='archive_error:*'``
    row for that file (already-emitted batches are kept), never a
    task failure."""
    import pandas as pd

    cols = [f.name for f in WARC_PAGES_SCHEMA.fields]
    for pdf in batches:
        for path_, content in zip(pdf["path"], pdf["content"]):
            rows: list[dict] = []
            try:
                for row in parse_warc(bytes(content), source_file=path_):
                    rows.append(row)
                    if len(rows) >= batch_rows:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
            except Exception as e:  # one bad archive ≠ a dead job
                rows.append(_archive_error_row(path_, e))
            if rows:
                yield pd.DataFrame(rows, columns=cols)


def warc_pages_projection(records: DataFrame) -> DataFrame:
    """Ingest-boundary hygiene + pages-schema projection of
    ``read_pages(fmt='warc')``: only successful (2xx) page-like
    responses become pages rows — real archives carry 404/500 bodies,
    JSON/JS/images, robots fetches; letting those through would
    pollute extraction/dedup/stats downstream. A missing content-type
    (common in old crawls) passes. PDFs pass too: the extraction
    dispatch sniffs ``%PDF-`` and routes them to the stdlib PDF
    kernel (extract.py), quarantining unparseable ones — dropping
    them here would silently lose PDF corpora with no lineage row.
    ``application/octet-stream`` (the generic fallback servers use
    for anything, PDFs included) passes ONLY when the body sniffs as
    ``%PDF-`` — a JSON/JS/binary octet-stream body would otherwise
    decode fine on the HTML route and enter dedup/stats as page text
    with no parse_failed row (review catch). The sniff is a JVM-side
    binary-prefix compare, no Python. text/lang are unknown at ingest
    (the chain derives them)."""
    from pyspark.sql import functions as F

    html_like = (
        F.col("content_type").isNull()
        | F.col("content_type").isin(
            "text/html", "application/xhtml+xml", "text/plain",
            "application/pdf",
        )
        | (
            (F.col("content_type") == "application/octet-stream")
            & (F.col("html").substr(1, 5) == F.lit(b"%PDF-"))
        )
    )
    ok = (
        F.col("url").isNotNull()
        & F.col("parse_error").isNull()
        & (F.col("http_status") >= 200)
        & (F.col("http_status") < 300)
        & html_like
    )
    return records.where(ok).select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        # transport charset rides along for the extraction decode
        # ladder (extract_stage consumes it when present)
        "http_charset",
    )


def read_warc(spark: SparkSession, path: str, batch_rows: int = 2000) -> DataFrame:
    """Read WARC archive(s) into the record shape via ``binaryFile`` +
    ``mapInPandas`` (see :func:`parse_archives_batched` for the memory
    and quarantine contract)."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        lambda batches: parse_archives_batched(batches, batch_rows),
        WARC_PAGES_SCHEMA,
    )


def write_warc(records: list[dict], path: str, gzip_members: bool = False) -> None:
    """Deterministic WARC writer (test/corpus fixture; also the shape
    documentation in executable form). ``records``: dicts with url,
    ts (datetime), body (bytes), and optional status/content_type."""
    import gzip as _gzip

    out = io.BytesIO()
    for r in records:
        body = r["body"]
        http = (
            b"HTTP/1.1 %d OK\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
            % (
                r.get("status", 200),
                r.get("content_type", "text/html").encode(),
                len(body),
            )
        ) + body
        headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: " + r["url"].encode() + b"\r\n"
            + b"WARC-Date: " + r["ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            + b"WARC-Record-ID: <urn:uuid:" + r.get("rec_id", r["url"]).encode() + b">\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        )
        record = headers + http + b"\r\n\r\n"
        out.write(_gzip.compress(record) if gzip_members else record)
    with open(path, "wb") as fh:
        fh.write(out.getvalue())

"""WARC source: Common-Crawl-style archives → the pages table.

The BASELINE input is an Iceberg/parquet table of Common-Crawl-style
pages; the upstream format those tables are built FROM is WARC
(ISO 28500 — what Common Crawl actually ships). This connector reads
WARC files (plain or gzip, including the member-per-record gzip layout
Common Crawl uses) into the engine's pages schema, so a user can point
the crawler at raw crawl archives without a separate ETL system.

Scale shape: files are read with Spark's ``binaryFile`` source — one
task per file (Common Crawl WARCs are ~1 GB, thousands per crawl, so
file-level parallelism saturates any cluster); record splitting and
HTTP parsing run in the task, Arrow-batched back. No shuffle anywhere.
The parser is a dependency-free subset: WARC/1.0-1.1 named fields,
Content-Length-framed payloads, ``response`` records with an HTTP/1.x
header block. Malformed records are skipped, never fatal (crawl
archives contain garbage by construction).

``text`` and ``lang`` are left empty: in Common Crawl those live in the
WET/metadata sidecars — join them afterwards, or derive text with the
engine's own extractor.
"""

from __future__ import annotations

import datetime as dt
import gzip

from pyspark.sql import DataFrame, SparkSession

_CRLF2 = b"\r\n\r\n"

# Bounded feed size for the streaming decompressor. Feeding the whole
# remainder per member makes zlib copy it into d.unused_data each time —
# O(bytes × members) memcpy on a member-per-record Common-Crawl archive
# with tens of thousands of members. Every copy a member boundary can
# trigger (unused_data, the carry re-slice) is bounded by this, so the
# total cost is O(archive + members · _GZ_CHUNK); 8 KiB ≈ a typical
# compressed Common-Crawl record, keeping that second term ~ the first.
_GZ_CHUNK = 8192


def _gunzip_stream(blob: bytes):
    """Yield decompressed chunks of a (possibly multi-member) gzip blob.

    Common Crawl ships one gzip member per record; members are walked
    one by one so a corrupt or truncated TAIL member loses only itself
    (gzip.GzipFile throws away the whole file). Non-gzip input is
    yielded in bounded slices (one whole-archive chunk would make the
    record parser's buffer-trim quadratic). The decompressor is fed
    bounded slices, and a member boundary mid-slice hands zlib's
    ``unused_data`` to the next member as its first input — peak
    memory and per-boundary memcpy are O(_GZ_CHUNK + member),
    independent of member count and archive size. A member's output is
    withheld until the member decompresses CLEANLY: a mid-archive
    corrupt member contributes nothing (its partial prefix would
    otherwise frame as a valid record with a silently truncated body);
    a member cut short by plain input truncation keeps its partial
    output — the download just stopped there.
    """
    if blob[:2] != b"\x1f\x8b":
        view = memoryview(blob)
        for i in range(0, len(blob), _GZ_CHUNK):
            yield view[i:i + _GZ_CHUNK]
        return
    import zlib

    view = memoryview(blob)
    pos, n = 0, len(blob)
    carry = b""  # unconsumed tail of the last fed slice (next member)

    def head2() -> bytes:
        if len(carry) >= 2:
            return carry[:2]
        return bytes(carry) + bytes(view[pos:pos + 2 - len(carry)])

    while (carry or pos < n) and head2() == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        member: list = []  # this member's output, held until clean eof
        try:
            while not d.eof:
                if carry:
                    piece, carry = carry[:_GZ_CHUNK], carry[_GZ_CHUNK:]
                elif pos < n:
                    piece = view[pos:pos + _GZ_CHUNK]
                    pos += len(piece)
                else:
                    # truncated final member: the archive ends mid-
                    # member — keep the partial output (no corruption,
                    # the input just stops)
                    yield from member
                    return
                out = d.decompress(piece)
                if out:
                    member.append(out)
        except zlib.error:
            return  # corrupt member: drop its partial output entirely
        yield from member
        carry = d.unused_data


def _iter_records(chunks):
    """Incremental WARC record parser over an iterator of byte chunks.

    Holds only the bytes of the record currently being framed (plus one
    read-ahead chunk) — never the whole decompressed archive.
    """
    buf = bytearray()
    chunks = iter(chunks)
    eof = False

    def pull() -> bool:
        nonlocal eof
        if eof:
            return False
        try:
            buf.extend(next(chunks))
            return True
        except StopIteration:
            eof = True
            return False

    def ensure(k: int) -> bool:
        while len(buf) < k:
            if not pull():
                return False
        return True

    def find(sub: bytes) -> int:
        start = 0
        while True:
            i = buf.find(sub, start)
            if i >= 0:
                return i
            # overlap window: the delimiter may straddle a chunk edge
            start = max(0, len(buf) - len(sub) + 1)
            if not pull():
                return -1

    while True:
        # skip inter-record padding
        while ensure(1) and buf[0:1] in (b"\r", b"\n"):
            del buf[0:1]
        if not ensure(5) or not buf.startswith(b"WARC/"):
            return  # no further records
        hdr_end = find(_CRLF2)
        if hdr_end < 0:
            return
        headers: dict = {}
        lines = bytes(buf[:hdr_end]).split(b"\r\n")
        for line in lines[1:]:  # lines[0] is the WARC/x.y version
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return  # unframed record: cannot resync safely
        body_start = hdr_end + len(_CRLF2)
        truncated = not ensure(body_start + length)
        payload = bytes(buf[body_start:body_start + length])
        del buf[:body_start + length]
        rec = {
            "warc_type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri", ""),
            "date": _parse_date(headers.get("warc-date", "")),
            "http_status": None,
            "content_type": headers.get("content-type", ""),
            "body": payload,
        }
        if rec["warc_type"] == "response" and payload[:5] in (
            b"HTTP/",
        ):
            split = payload.find(_CRLF2)
            if split >= 0:
                status_line = payload[:payload.find(b"\r\n")]
                parts = status_line.split(b" ")
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["http_status"] = int(parts[1])
                rec["body"] = payload[split + len(_CRLF2):]
        yield rec
        if truncated:
            return  # short final record emitted (archive parity), stop


def parse_warc(blob: bytes):
    """Yield dicts for each well-formed record: warc_type, url, date
    (datetime or None), http_status (int or None), content_type, body
    (payload bytes; for response records the HTTP body only).

    Streaming end-to-end: gzip members decompress in bounded chunks and
    only the in-flight record is buffered, so peak memory is O(record),
    not O(decompressed archive)."""
    return _iter_records(_gunzip_stream(blob))


def _parse_date(s: str):
    # WARC/1.0 whole seconds; WARC/1.1 allows fractional seconds
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    return None


# Batch-flush thresholds for the mapInPandas readers: an output batch
# is emitted whenever it reaches this many rows OR this many payload
# bytes, whichever first — so per-task peak memory is bounded by the
# batch size, not by the (multi-GB decompressed) archive size.
_FLUSH_ROWS = 2048
_FLUSH_BYTES = 64 << 20


def _page_batches(
    blobs,
    status_ok_only: bool = True,
    flush_rows: int = _FLUSH_ROWS,
    flush_bytes: int = _FLUSH_BYTES,
):
    """Per-partition generator: WARC blobs → bounded pandas batches in
    the pages schema. Module-level so tests can assert the chunked-yield
    behavior (many batches out of one archive) without a SparkSession."""
    import pandas as pd

    rows, nbytes = [], 0
    for blob in blobs:
        try:
            for r in parse_warc(bytes(blob)):
                if r["warc_type"] != "response" or not r["url"]:
                    continue
                if status_ok_only and not (
                    r["http_status"] is not None
                    and 200 <= r["http_status"] < 300
                ):
                    continue
                rows.append((
                    r["url"],
                    r["date"] or dt.datetime(1970, 1, 1),
                    r["body"],
                    "",
                    "",
                ))
                nbytes += len(r["body"])
                if len(rows) >= flush_rows or nbytes >= flush_bytes:
                    yield pd.DataFrame(
                        rows,
                        columns=["url", "warc_ts", "html", "text", "lang"],
                    )
                    rows, nbytes = [], 0
        except Exception:
            continue  # corrupt archive member: skip the file tail
    if rows:  # an empty tail batch is all-object; yielding none is valid
        yield pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )


def read_warc_pages(
    spark: SparkSession,
    path: str,
    status_ok_only: bool = True,
    dedup_urls: bool = True,
) -> DataFrame:
    """WARC file(s)/glob → the engine pages schema (url, warc_ts,
    html binary, text '', lang ''). ``response`` records only;
    ``status_ok_only`` keeps HTTP 2xx (the rows a crawl would have
    fetched). Real archives carry the same URL repeatedly (revisits,
    cross-segment duplicates) while the crawl fetch join assumes a
    unique-url pages table — ``dedup_urls`` keeps the NEWEST capture
    per url (one shuffle on url; pass False for raw record access)."""
    from img_spark.sources.synthweb import PAGES_DDL

    files = spark.read.format("binaryFile").load(path)

    def run(batches):
        for pdf in batches:
            yield from _page_batches(pdf["content"], status_ok_only)

    out = files.select("content").mapInPandas(run, schema=PAGES_DDL)
    # WARC-Date is UTC by spec; the parser yields naive UTC datetimes,
    # which Spark would otherwise interpret as session-local. Convert
    # so the column means the same instant in any session timezone
    # (inverse of the archive sink's to_utc_timestamp).
    from pyspark.sql import functions as F

    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    out = out.withColumn(
        "warc_ts", F.from_utc_timestamp(F.col("warc_ts"), tz)
    )
    if dedup_urls:
        from pyspark.sql import Window, functions as F

        w = Window.partitionBy("url").orderBy(
            F.desc("warc_ts"), F.desc(F.length("html"))
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
    return out


def stream_warc_pages(
    spark: SparkSession,
    path: str,
    status_ok_only: bool = True,
    glob: str = "*.warc*",
) -> DataFrame:
    """Structured Streaming twin of ``read_warc_pages``: watch a
    landing directory for new WARC archives and emit pages rows
    incrementally — the continuous-ingest path for a crawl drop zone
    (new Common-Crawl segments appear → rows flow without re-reading
    old files). The streaming file source's checkpointed log gives
    exactly-once per FILE; pair with ``writeStream.foreachBatch`` into
    the engine's dedup/seen operators (this source is stateless, so
    revisit dedup belongs downstream — the batch reader's newest-
    capture window needs global state a stream cannot hold).

        q = (stream_warc_pages(spark, landing)
             .writeStream.trigger(availableNow=True)
             .foreachBatch(lambda df, _id: sink(df))
             .option("checkpointLocation", ckpt).start())

    Same parser and bounded batches as the batch reader: per-task peak
    memory is O(batch) regardless of archive size."""
    files = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is
        # fixed by the format
        .schema(
            "path string, modificationTime timestamp,"
            " length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .load(path)
    )
    from pyspark.sql import functions as F

    from img_spark.sources.synthweb import PAGES_DDL

    def run(batches):
        for pdf in batches:
            yield from _page_batches(pdf["content"], status_ok_only)

    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    return files.select("content").mapInPandas(
        run, schema=PAGES_DDL
    ).withColumn("warc_ts", F.from_utc_timestamp(F.col("warc_ts"), tz))


# ---------------------------------------------------------------- writer
def build_warc(records, content_type: str = "text/html") -> bytes:
    """Synthesize a WARC byte stream (one gzip member per record, the
    Common Crawl layout) from (url, date, html_bytes, status) tuples —
    the test/fixture twin of the reader and the kernel of the archive
    sink. ``date`` must be UTC (WARC-Date is written with the spec's
    ``Z`` suffix)."""
    out = []
    for url, date, html, status in records:
        http = (
            f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode() + html
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        out.append(gzip.compress(hdr + http + b"\r\n\r\n"))
    return b"".join(out)


def read_wet_text(spark: SparkSession, path: str) -> DataFrame:
    """WET sidecar (Common Crawl's extracted-text archives: WARC
    ``conversion`` records whose payload is plain UTF-8 text) →
    (url, text). Join onto ``read_warc_pages`` output to fill the
    pages table's ``text`` column:

        pages = read_warc_pages(spark, warc_glob)
        text  = read_wet_text(spark, wet_glob)
        full  = pages.drop("text").join(text, "url", "left") \\
                     .na.fill({"text": ""})

    Same execution shape as the WARC reader: binaryFile + mapInPandas,
    file-level parallelism, bounded-batch output, no shuffle (the join
    above broadcasts or co-partitions on url at Spark's discretion)."""
    files = spark.read.format("binaryFile").load(path)

    def run(batches):
        for pdf in batches:
            yield from _text_batches(pdf["content"])

    return files.select("content").mapInPandas(
        run, schema="url string, text string"
    )


def _text_batches(
    blobs,
    flush_rows: int = _FLUSH_ROWS,
    flush_bytes: int = _FLUSH_BYTES,
):
    """Per-partition generator: WET blobs → bounded (url, text) pandas
    batches; the WARC-reader twin of ``_page_batches``."""
    import pandas as pd

    urls, texts, nbytes = [], [], 0
    for blob in blobs:
        try:
            for r in parse_warc(bytes(blob)):
                if r["warc_type"] != "conversion" or not r["url"]:
                    continue
                urls.append(r["url"])
                texts.append(r["body"].decode("utf-8", "replace"))
                nbytes += len(r["body"])
                if len(urls) >= flush_rows or nbytes >= flush_bytes:
                    yield pd.DataFrame({"url": urls, "text": texts})
                    urls, texts, nbytes = [], [], 0
        except Exception:
            continue
    if urls:
        yield pd.DataFrame({"url": urls, "text": texts})


def build_wet(records) -> bytes:
    """Synthesize a WET byte stream from (url, date, text) tuples —
    the test twin of ``read_wet_text``."""
    out = []
    for url, date, text in records:
        body = text.encode()
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            "Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        out.append(gzip.compress(hdr + body + b"\r\n\r\n"))
    return b"".join(out)

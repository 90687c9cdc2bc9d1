"""WARC source: read Common-Crawl-style ``.warc.gz`` archives into the
canonical pages shape ``(url, warc_ts, warc_day, html, text, lang)``.

The reference is an HTTP service fed one document per request
(``ocr/main.py``); a batch engine is fed the crawl's native delivery
format instead — WARC/1.0 archives, one gzip member per record (the
Common Crawl convention). This module is the source-format bridge:
``read_warc(spark, path)`` returns a DataFrame that composes directly
with ``operators.extract.extract``.

Scale shape (one reader, batch and streaming):

- ``binaryFile`` LISTS the archives and the scan selects ``path`` only,
  so it never reads the ``content`` column: no archive crosses the
  JVM -> Python boundary, and neither Spark's 2 GiB binary-row cap nor
  ``spark.sql.sources.binaryFile.maxLength`` applies. One
  ``mapInPandas`` then streams each archive from its path through
  pyarrow's FileSystem layer (:func:`arrow_fs`; an hdfs:// archive
  needs libhdfs on the executors).
- WARC.gz is NOT splittable (gzip members carry no sync markers a
  generic splitter can find), so the archive is the unit of work —
  crawls ship ~1 GB archives by the tens of thousands, and file count,
  not intra-file splitting, is the parallelism axis. Spark packs small
  archives into one task by size; an archive of at least
  ``spark.sql.files.maxPartitionBytes`` gets a task of its own.
- neither the compressed nor the inflated archive is ever held:
  :func:`_iter_inflated_stream` inflates bounded slices out of
  bounded compressed chunks, and the WARC parser consumes them through
  a rolling buffer whose peak size is one record + one inflate slice —
  a 1 GiB archive that inflates to ~4-5 GiB costs each task O(MB)
  (pinned by ``test_warc_source.test_bounded_memory_parse``).
- records stream OUT in bounded Arrow batches (``_BATCH_ROWS``), so a
  million-record archive never materializes as one python list of
  payloads.

Parsing rules (WARC/1.0, ISO 28500):

- only ``WARC-Type: response`` records yield rows; warcinfo / request /
  metadata records are skipped (counted, not errored).
- the record payload is an HTTP response; headers are split at the
  first CRLFCRLF and the remaining bytes are the page body (``html``
  column — the kernel sniffs, it never trusts labels). Chunked
  transfer-encoding is NOT decoded (Common Crawl stores payloads
  de-chunked; a raw-proxy archive would need a decode pass first —
  documented limitation).
- a malformed tail (truncated final record) or a header that breaks
  the framing (no ``WARC/`` line, a missing or negative
  Content-Length) stops the parse of that archive at the last whole
  record: partial crawl data is normal, poison isolation is the
  kernel's job for bodies, the source's job for framing.
"""

from __future__ import annotations

import gzip
import re
from datetime import datetime, timezone
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..worker import forget_zip_finders

_BATCH_ROWS = 512
_CRLF2 = b"\r\n\r\n"

#: output schema — the canonical pages shape + per-archive lineage +
#: the HTTP response's declared Content-Type (NULL when absent), which
#: feeds the kernel's ExtractConfig.allowed_content_types gate
#: (reference ocr/main.py:354-363).
WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, warc_day string, html binary, "
    "text string, lang string, warc_path string, content_type string"
)


#: header-block search cap: a WARC header is a few hundred bytes; if no
#: CRLFCRLF terminator appears within this many buffered bytes the
#: framing is lost (e.g. garbage after a salvaged corrupt gzip member)
#: and the parse stops instead of buffering the rest of the archive.
_MAX_HEADER_SCAN = 1 << 20


def _parse_warc_stream(
    chunks: Iterable[bytes], stats: dict | None = None
) -> Iterator[dict]:
    """Yield response-record dicts from a decompressed WARC stream fed
    as byte chunks. Tolerant of the standard record separator (two
    CRLFs) and of a truncated tail (stops at the last whole record).

    Memory: a rolling buffer that never holds more than one whole
    record + one input chunk (compacted lazily — the ``start`` cursor
    avoids an O(buffer) memmove per record). ``stats['peak_buf']``
    records the high-water mark when a dict is passed (the
    bounded-memory test pins it)."""
    it = iter(chunks)
    buf = bytearray()
    start = 0  # parse cursor; bytes before it are consumed
    eof = False
    peak = 0

    def _fill(need_more: int = 1) -> bool:
        """Append chunks until len(buf)-start grows by >= need_more
        bytes past the current available length, or EOF."""
        nonlocal eof, peak
        target = len(buf) - start + need_more
        while not eof and len(buf) - start < target:
            try:
                buf.extend(next(it))
            except StopIteration:
                eof = True
        peak = max(peak, len(buf) - start)
        return len(buf) - start >= target

    def _avail() -> int:
        return len(buf) - start

    try:
        while True:
            # compact: reclaim consumed prefix once it dominates
            if start > (1 << 20) and start > _avail():
                del buf[:start]
                start = 0
            # skip inter-record CRLFs
            while True:
                if _avail() < 2 and not _fill(2 - _avail()):
                    return
                if buf[start : start + 2] == b"\r\n":
                    start += 2
                else:
                    break
            # header block up to CRLFCRLF (search resumes where the
            # last miss left off — never rescans settled bytes)
            searched = start
            while True:
                head_end = buf.find(_CRLF2, max(start, searched - 3))
                if head_end >= 0:
                    break
                searched = len(buf)
                if searched - start > _MAX_HEADER_SCAN:
                    return  # lost framing
                if not _fill():
                    return  # truncated header block
            head = bytes(buf[start:head_end]).decode("utf-8", "replace")
            lines = head.split("\r\n")
            if not lines or not lines[0].startswith("WARC/"):
                return  # lost framing — stop, don't resync heuristically
            hdrs = {}
            for ln in lines[1:]:
                k, _, v = ln.partition(":")
                hdrs[k.strip().lower()] = v.strip()
            try:
                length = int(hdrs.get("content-length", ""))
            except ValueError:
                return
            if length < 0:
                return  # lost framing: a negative length rewinds the cursor
            body_start = head_end + len(_CRLF2)
            body_end = body_start + length
            if _avail() < body_end - start and not _fill(
                body_end - len(buf)
            ):
                return  # truncated payload
            if hdrs.get("warc-type") == "response":
                yield {
                    "uri": hdrs.get("warc-target-uri", ""),
                    "date": hdrs.get("warc-date", ""),
                    "payload": bytes(buf[body_start:body_end]),
                }
            start = body_end
    finally:
        if stats is not None:
            stats["peak_buf"] = max(stats.get("peak_buf", 0), peak)


#: Content-Type header line within the HTTP head (case-insensitive,
#: anchored to a line start so a body echo can't match).
_CT_RE = re.compile(rb"^content-type:[ \t]*([^\r\n]*)", re.I | re.M)


def _http_split(payload: bytes) -> tuple[str | None, bytes]:
    """-> (declared content-type or None, page body). ONE scan of the
    HTTP head: bytes after the first CRLFCRLF are the body, the
    Content-Type header (when present) is captured from the head only.
    A payload without an HTTP status line is a bare body (WET-style) —
    no head, no declared type."""
    if payload.startswith(b"HTTP/"):
        i = payload.find(_CRLF2)
        if i < 0:
            return None, b""
        ct = None
        m = _CT_RE.search(payload, 0, i)
        if m:
            # empty header value -> None, same as an absent header
            ct = m.group(1).strip().decode("latin-1") or None
        return ct, payload[i + len(_CRLF2):]
    return None, payload


#: timestamp for records whose WARC-Date does not parse. warc_ts is
#: CONTRACTUALLY non-null (schema.PAGES_SCHEMA/EXTRACTED_SCHEMA — the
#: partitioning column derives from it), and a NULL warc_day would
#: fall out of the checkpointed run's `isin(pending)` day filter
#: (NULL IN (...) is NULL) and be silently lost — so undated records
#: land on the epoch sentinel and commit/resume under the real
#: partition warc_day='1970-01-01' like any other day.
UNDATED_TS = datetime(1970, 1, 1)
UNDATED_DAY = "1970-01-01"


#: fractional seconds beyond microseconds (nanosecond WARC-Dates exist
#: in the wild); fromisoformat support for >6 digits varies by Python
#: minor version, and an unnecessary ValueError here would collapse a
#: VALIDLY-dated record onto the epoch sentinel partition.
_OVERLONG_FRAC = re.compile(r"\.(\d{6})\d+")


def _warc_ts(date: str):
    """WARC-Date (ISO-8601 Zulu) -> naive UTC datetime (session TZ is
    pinned UTC); unparseable dates -> the epoch sentinel (the row
    survives under warc_day=UNDATED_DAY, pruning just can't use it).
    Fractional seconds are truncated to microsecond precision first."""
    try:
        iso = _OVERLONG_FRAC.sub(r".\1", date.replace("Z", "+00:00"))
        dt = datetime.fromisoformat(iso)
        if dt.tzinfo is None:
            # offset-less WARC-Date (tolerated by fromisoformat): treat
            # as UTC — astimezone on a NAIVE datetime would convert
            # from the executor's OS timezone, shifting warc_day (and
            # the partition the record lands in) per machine.
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc).replace(tzinfo=None)
    except ValueError:
        return UNDATED_TS


def _iter_inflated_stream(
    chunks: Iterator[bytes], max_out: int = 1 << 20
) -> Iterator[bytes]:
    """Stream-inflate concatenated gzip members fed as compressed
    chunks, one decompressobj per member (a boundary may fall anywhere
    inside a chunk — ``unused_data`` seeds the next member), yielding
    slices of at most ``max_out`` bytes (a 64 KiB chunk of zeros can
    inflate 1000x, so output is capped via ``unconsumed_tail``).

    Salvage semantics (CLAUDE.md rule): a member truncated or corrupt
    MIDWAY still yields its cleanly-inflated prefix, where
    gzip.GzipFile.read() raises EOFError and surrenders the WHOLE read.
    Bytes decoded between a corruption point and zlib's error detection
    can be garbage (inherent to deflate), but WARC Content-Length
    framing confines them to single records and the parser stops at the
    first unframeable header. A corrupt member or non-gzip tail ends the
    stream; a non-gzip file yields nothing."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    for chunk in chunks:
        buf = bytes(chunk)
        while buf:
            try:
                out = d.decompress(buf, max_out)
                if out:
                    yield out
                while d.unconsumed_tail and not d.eof:
                    out = d.decompress(d.unconsumed_tail, max_out)
                    if out:
                        yield out
            except zlib.error:
                return  # corrupt member / non-gzip junk: prefix kept
            if d.eof:
                buf = d.unused_data
                d = zlib.decompressobj(wbits=31)
            else:
                buf = b""
    # EOF mid-member: its clean prefix was already yielded (salvage) —
    # nothing to flush.


def _pafs_uri(uri: str) -> str:
    """Rewrite Hadoop's object-store scheme spellings (s3a://, s3n:// —
    what Spark's own listing emits in the path column for S3) to the
    s3:// scheme pyarrow's FileSystem.from_uri understands; every other
    URI passes through untouched."""
    from urllib.parse import urlparse

    scheme = urlparse(uri).scheme.lower()
    if scheme in ("s3a", "s3n"):
        return "s3" + uri[len(scheme):]
    return uri


def arrow_fs(uri: str):
    """(pyarrow FileSystem, path inside it) for a Spark path or URI:
    file://, hdfs://, s3:// (and s3a/s3n) ... resolve through
    ``FileSystem.from_uri``; a bare path or a ``file:`` URI goes to the
    local filesystem with the path as Spark lists it: single-slash
    (file:/tmp/x, which from_uri rejects) and unescaped, as Hadoop reads
    it (file:/tmp/a%41b is the directory 'a%41b'; '#', '?' are literal).
    An unrecognized scheme raises ``pyarrow.lib.ArrowInvalid``."""
    from urllib.parse import urlparse

    from pyarrow import fs as pafs

    u = urlparse(uri)
    if u.scheme.lower() in ("", "file"):
        path = uri[len(u.scheme) + 1 :] if u.scheme else uri
        return pafs.LocalFileSystem(), path.removeprefix("//" + u.netloc)
    return pafs.FileSystem.from_uri(_pafs_uri(uri))


def spark_uri(spark, path: str) -> str:
    """``path`` as Spark's data sources resolve it: qualified by Hadoop
    under the session's configuration, so a path without a scheme takes
    ``fs.defaultFS`` and that filesystem's working directory, as a
    Spark read or write of it does. Through :func:`arrow_fs`, pyarrow
    on the driver then opens the files Spark wrote (py4j calls, no
    job)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return p.getFileSystem(conf).makeQualified(p).toString()


def _iter_file_chunks(uri: str, chunk: int = 1 << 20) -> Iterator[bytes]:
    """Stream a file's bytes in bounded chunks via pyarrow's
    FileSystem layer (:func:`arrow_fs`)."""
    from urllib.parse import urlparse

    import pyarrow as pa

    try:
        fsys, p = arrow_fs(uri)
    except pa.lib.ArrowInvalid as e:
        # unrecognized-scheme only — network/credential errors on
        # a RECOGNIZED store must surface as themselves.
        raise ValueError(
            f"cannot stream {uri!r}: pyarrow FileSystem.from_uri does not "
            f"recognize scheme {urlparse(uri).scheme.lower()!r} (hdfs/s3/gs "
            "coverage depends on the installed pyarrow build; abfss/wasbs "
            "need a pyarrow with Azure support)"
        ) from e
    # compression=None: open_input_stream defaults to 'detect' and
    # would transparently gunzip by the .gz extension — the raw
    # compressed bytes must reach the salvage-aware inflater instead
    # (pyarrow's decoder hard-fails on truncated members).
    with fsys.open_input_stream(p, compression=None) as f:
        while True:
            b = f.read(chunk)
            if not b:
                return
            yield bytes(b)


def _parse_paths(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas over archive paths: each archive streamed from its
    path -> inflate -> rolling-buffer WARC parse -> bounded Arrow-batch
    DataFrames of canonical page rows."""
    forget_zip_finders()
    for pdf in it:
        for path in pdf["path"]:
            yield from _archive_rows(path)


def _archive_rows(path: str) -> Iterator[pd.DataFrame]:
    rows: list[dict] = []
    chunks = _iter_inflated_stream(_iter_file_chunks(path))
    for rec in _parse_warc_stream(chunks):
        ts = _warc_ts(rec["date"])
        ctype, body = _http_split(rec["payload"])
        rows.append(
            {
                "url": rec["uri"],
                "warc_ts": ts,
                "warc_day": ts.date().isoformat(),
                "html": body,
                "text": None,
                "lang": None,
                "warc_path": path,
                "content_type": ctype,
            }
        )
        if len(rows) >= _BATCH_ROWS:
            yield pd.DataFrame(rows)
            rows = []
    if rows:
        yield pd.DataFrame(rows)


def archive_pages(reader, path: str) -> DataFrame:
    """The pages of the ``*.warc.gz`` archives under ``path``, listed by
    ``reader`` (``spark.read`` or a configured ``spark.readStream``):
    the binaryFile scan selects ``path`` only, and each archive streams
    from its path in the parse task."""
    files = (
        reader.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(path)
        .select("path")
    )
    return files.mapInPandas(_parse_paths, WARC_PAGES_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``*.warc.gz`` archives under ``path`` into the canonical
    pages shape (see module docstring); the result composes directly
    with ``extract.extract``."""
    return archive_pages(spark.read, path)


# ----------------------------------------------------------- writer
# test-fixture side: build spec-valid archives so the reader is tested
# against real WARC framing, not a private mirror of the parser.

def _warc_record(
    url: str, ts: datetime, body: bytes, ctype: str = "text/html"
) -> bytes:
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype.encode() + b"\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"WARC-Record-ID: <urn:uuid:{abs(hash(url)) % 10**12}>\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return head + http + b"\r\n\r\n"


def write_warc(
    path: str,
    records: list[tuple[str, datetime, bytes]],
    per_record_gzip: bool = True,
) -> None:
    """Write a ``.warc.gz`` archive: (url, ts, body[, content_type])
    records, each its own gzip member by default (the CC layout);
    single-member otherwise (both MUST read back identically — pinned
    by test)."""
    leading = _warc_record_info()
    if per_record_gzip:
        out = gzip.compress(leading)
        for url, ts, body, *ct in records:
            out += gzip.compress(_warc_record(url, ts, body, *ct))
        with open(path, "wb") as f:
            f.write(out)
    else:
        with gzip.open(path, "wb") as f:
            f.write(leading)
            for url, ts, body, *ct in records:
                f.write(_warc_record(url, ts, body, *ct))


def _warc_record_info() -> bytes:
    body = b"software: tesseract_ocr_service_spark test writer\r\n"
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"

"""WARC.gz source: read Common-Crawl-style web archives into the pages table.

The north-star input is "an Iceberg table of Common-Crawl-style web pages"
(BASELINE.json input_hint), and Common Crawl itself ships WARC/1.0 files
gzipped per record member (each record is an independent gzip stream;
members are concatenated, which is what makes .warc.gz seekable by offset).
This source turns a directory of such files into the engine's canonical
(url, warc_ts, html, lang) pages DataFrame with zero dependencies: stdlib
zlib for the member inflate and byte-level WARC/HTTP header parsing.

Scale notes (100 TB of .warc.gz):
- gzip members are not block-splittable without an external (CDX-style)
  offset index, which this reader does not use, so the unit of
  parallelism is the FILE - exactly how production Common Crawl jobs
  run (a crawl ships ~72k x ~1 GB files; 1000 executors stay busy).
  `spark.read.format("binaryFile")` gives one task per file and the record
  parsing runs inside mapInPandas, so nothing but the emitted rows is ever
  shuffled.
- memory per task = one compressed file + the current record's inflate
  (~1 GB + max record size with Common Crawl's defaults); bound it by
  writing smaller files upstream or raising executor memory - NOT by
  splitting members, which gzip forbids.
- records stream member-by-member through a zlib decompressobj: the whole
  file is never inflated at once, and each member's tail feeds the next
  member (unused_data), so per-record memory stays bounded by the largest
  single record.

The writer side (make_warc_gz/write_warc_gz) exists for fixtures and
round-trip tests: deterministic WARC/1.0 response records, one gzip member
each, exactly the layout the reader consumes.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, lang string"

_CRLF = b"\r\n"


def make_warc_record(url: str, ts: datetime, html: bytes,
                     lang: str | None = None,
                     status: int = 200) -> bytes:
    """One WARC/1.0 response record (uncompressed): WARC headers + an
    HTTP/1.1 response block carrying the html payload. Content-Length
    counts the HTTP block, per the WARC spec; the record ends with two
    CRLFs."""
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(html)}\r\n\r\n").encode() + html
    # naive timestamps are UTC by contract (the engine's Spark session is
    # pinned to UTC, so collected warc_ts values are naive UTC wall times);
    # astimezone() on a naive datetime would instead assume MACHINE-LOCAL
    # time and shift every date by the host's UTC offset. WARC/1.0 dates
    # are second-resolution - sub-second precision truncates here (the
    # reader accepts fractional seconds if a producer wrote them).
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    wdate = ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Target-URI: " + url.encode(),
        b"WARC-Date: " + wdate.encode(),
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode(),
    ]
    if lang:
        headers.append(b"WARC-Identified-Content-Language: " + lang.encode())
    return _CRLF.join(headers) + _CRLF * 2 + http + _CRLF * 2


def make_warc_gz(records: list[tuple]) -> bytes:
    """A .warc.gz byte string: each record its own gzip member (the Common
    Crawl layout), members concatenated. Records are (url, ts, html, lang)
    tuples with an optional 5th element, the HTTP status (default 200).
    mtime is pinned so the output is deterministic."""
    out = io.BytesIO()
    for url, ts, html, lang, *rest in records:
        raw = make_warc_record(url, ts, html, lang,
                               status=rest[0] if rest else 200)
        out.write(gzip.compress(raw, mtime=0))
    return out.getvalue()


def write_warc_gz(df: DataFrame, path: str,
                  records_per_file: int = 1000) -> int:
    """Spill a (url, warc_ts, html, lang) DataFrame to .warc.gz files under
    `path`, one file per partition chunk - the fixture/export inverse of
    read_warc_gz. Returns the number of files written. Runs on the driver
    via toLocalIterator (fixture-scale tool, not the 100 TB write path -
    that is write_bucketed_pages on parquet)."""
    import os

    os.makedirs(path, exist_ok=True)
    n_files = 0
    batch: list = []
    for row in df.select("url", "warc_ts", "html", "lang").toLocalIterator():
        batch.append((row["url"], row["warc_ts"],
                      bytes(row["html"] or b""), row["lang"]))
        if len(batch) >= records_per_file:
            _flush_warc(path, n_files, batch)
            n_files += 1
            batch = []
    if batch:
        _flush_warc(path, n_files, batch)
        n_files += 1
    return n_files


def _flush_warc(path: str, idx: int, batch: list) -> None:
    with open(f"{path}/part-{idx:05d}.warc.gz", "wb") as fh:
        fh.write(make_warc_gz(batch))


def _split_headers(block: bytes) -> dict[bytes, bytes]:
    out: dict[bytes, bytes] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.strip().lower()] = v.strip()
    return out


# 64 KB: zlib materializes `unused_data` (a tail copy, proportional to the
# chunk) every time a feed crosses a gzip member boundary - at Common
# Crawl's one-member-per-record layout that's one copy per record, so the
# chunk size IS the per-record copy cost. Measured on a 20k-record
# archive: 0.38 s at 64 KB vs 1.33 s at 1 MB vs 4.11 s at 8 MB. Records
# larger than a chunk still parse (the reader accumulates chunks to the
# stalled record's Content-Length before re-joining).
_INFLATE_CHUNK = 1 << 16


def _iter_inflated(data: bytes) -> Iterator[bytes]:
    """Inflate concatenated gzip members, feeding the compressed stream in
    bounded slices (memoryview). A naive per-member loop that re-feeds the
    whole remaining file and takes `unused_data` back copies the ~1 GB
    tail once per member - O(members x file) at Common Crawl's
    one-member-per-record layout. Here a member boundary mid-chunk just
    REWINDS the read position by len(unused_data) and re-slices the
    memoryview, so THIS loop never re-feeds or carries compressed bytes
    (the earlier bytes(unused_data) carry copied the chunk tail a second
    time per member). One copy per member remains and is zlib's own:
    decompressobj materializes `unused_data` itself, bounded by the
    chunk - which is exactly why _INFLATE_CHUNK above is small; do not
    raise it without re-measuring."""
    view = memoryview(data)
    pos = 0
    d = zlib.decompressobj(47)
    while pos < len(view):
        chunk = view[pos:pos + _INFLATE_CHUNK]
        pos += len(chunk)
        out = d.decompress(chunk)
        if out:
            yield out
        if d.eof:                       # gzip member boundary
            tail = d.flush()
            if tail:
                yield tail
            pos -= len(d.unused_data)   # rewind; next slice re-reads it
            d = zlib.decompressobj(47)


def _decode_http_body(head: dict[bytes, bytes], body: bytes) -> bytes:
    """Undo HTTP framing/compression a real Common Crawl capture preserves:
    Transfer-Encoding: chunked de-framing and Content-Encoding gzip/deflate
    decompression (best effort - a malformed body falls back to raw bytes,
    matching how lenient archive readers behave)."""
    if b"chunked" in head.get(b"transfer-encoding", b"").lower():
        out = bytearray()
        pos = 0
        while True:
            nl = body.find(_CRLF, pos)
            if nl < 0:
                break
            try:
                size = int(body[pos:nl].split(b";")[0].strip() or b"0", 16)
            except ValueError:
                return bytes(body)      # malformed framing: raw fallback
            if size == 0:
                break
            out += body[nl + 2:nl + 2 + size]
            pos = nl + 2 + size + 2     # skip the chunk's trailing CRLF
        body = bytes(out)
    enc = head.get(b"content-encoding", b"").lower()
    if enc in (b"gzip", b"x-gzip", b"deflate"):
        try:
            body = zlib.decompressobj(47 if b"gzip" in enc else 15
                                      ).decompress(body)
        except zlib.error:
            try:                        # some servers send raw deflate
                body = zlib.decompressobj(-15).decompress(body)
            except zlib.error:
                pass                    # undecodable: keep raw bytes
    return body


def _http_status(line: bytes) -> int:
    """Status code from an HTTP status line; 200 when absent/unparseable
    (lenient-archive-reader convention)."""
    parts = line.split(b" ", 2)
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            return int(parts[1])
        except ValueError:
            pass
    return 200


def _record_fields(head: dict[bytes, bytes],
                   body: bytes) -> tuple[str, str, bytes, str, int]:
    """(url, warc_date, html, lang, http_status) from a response record's
    parsed WARC headers + raw body - the ONE place that strips the HTTP
    header block, decodes chunked/gzip framing and extracts the status."""
    url = head.get(b"warc-target-uri", b"").decode()
    wdate = head.get(b"warc-date", b"").decode()
    lang = head.get(b"warc-identified-content-language", b"").decode()
    hhe = body.find(_CRLF * 2)
    if hhe >= 0:
        hblock = body[:hhe]
        status = _http_status(hblock.split(_CRLF, 1)[0])
        html = _decode_http_body(_split_headers(hblock), body[hhe + 4:])
    else:
        html, status = body, 200
    return url, wdate, html, lang, status


def iter_warc_records(data: bytes) -> Iterator[
        tuple[str, str, bytes, str, int]]:
    """Stream (url, warc_date, html, lang, http_status) from .warc.gz
    bytes.

    Members inflate through _iter_inflated (zero compressed-byte copies).
    Parsing advances an OFFSET into the inflated buffer - the buffer is
    compacted once per refill, not re-sliced per record, so a chunk full
    of tiny records (robots.txt captures) costs one copy per chunk, not
    one per record. Record bodies are sliced by Content-Length (never by
    scanning for separators - html legally contains anything), the HTTP
    header block is stripped by its own CRLFCRLF boundary, chunked/gzip
    HTTP bodies are decoded (real Common Crawl captures preserve raw
    framing), and the HTTP status rides along so callers can filter
    redirect/error captures. Non-response records (warcinfo, request,
    metadata) are skipped, as a Common Crawl reader must."""
    chunks = _iter_inflated(data)
    buf = b""
    off = 0
    done = False
    while True:
        # parse complete records by moving `off`; records may span members
        # in non-Common-Crawl layouts, so parsing never assumes alignment
        need = None    # bytes buf[off:] must reach for the stalled record
        while True:
            while off < len(buf) and buf[off] in (13, 10):
                off += 1                # inter-record CRLFs, possibly
            he = buf.find(_CRLF * 2, off)   # split across member bounds
            if he < 0:
                break
            if not buf.startswith(b"WARC/", off):
                raise ValueError("not a WARC record header")
            head = _split_headers(buf[off:he])
            clen = int(head.get(b"content-length", b"0"))
            body_start = he + 4
            if len(buf) < body_start + clen:
                need = body_start + clen - off
                break  # need more inflated data
            body = buf[body_start:body_start + clen]
            off = body_start + clen
            if head.get(b"warc-type") != b"response":
                continue
            yield _record_fields(head, body)
        if done:
            break  # any leftover buf is a truncated tail
        # compact once, then accumulate chunks up to the stalled record's
        # known length before re-joining (one join per refill, not one
        # per chunk or per record)
        parts = [buf[off:]] if off < len(buf) else []
        total = len(buf) - off
        off = 0
        while True:
            nxt = next(chunks, None)
            if nxt is None:
                done = True
                break
            parts.append(nxt)
            total += len(nxt)
            if need is None or total >= need:
                break
        buf = b"".join(parts)


def read_warc_gz(spark: SparkSession, path: str,
                 pattern: str = "*.warc.gz",
                 with_status: bool = False) -> DataFrame:
    """Directory of .warc.gz files -> the engine's canonical pages
    DataFrame (url, warc_ts, html, lang). One task per file (binaryFile
    source; gzip members are not splittable), record parsing in
    mapInPandas over Arrow batches - no per-row Python UDF, nothing but
    the emitted rows is shuffled. Feeds run_crawl/write_bucketed_pages
    directly. with_status=True appends the capture's HTTP status column
    (int) for consumers that must distinguish redirect/error captures
    (robots_df_from_warc does)."""
    import pandas as pd

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", pattern).load(path)
             .select("path", "content"))

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": [], "lang": []}
            if with_status:
                rows["http_status"] = []
            for content in pdf["content"]:
                for url, wdate, html, lang, status in iter_warc_records(
                        bytes(content)):
                    if wdate:
                        ts = pd.Timestamp(wdate)
                        if ts.tzinfo is not None:
                            ts = ts.tz_convert("UTC").tz_localize(None)
                    else:
                        ts = pd.NaT
                    rows["url"].append(url)
                    rows["warc_ts"].append(ts)
                    rows["html"].append(html)
                    rows["lang"].append(lang or None)
                    if with_status:
                        rows["http_status"].append(status)
            yield pd.DataFrame(rows)

    schema = PAGES_SCHEMA + (", http_status int" if with_status else "")
    return files.mapInPandas(parse, schema=schema)


def robots_df_from_warc(spark: SparkSession, path: str,
                        pattern: str = "*.warc.gz") -> DataFrame:
    """Common Crawl also ships per-host robots.txt captures as WARC
    (crawl-data/CC-MAIN-*/segments/*/robotstxt/): filter the response
    records whose target path is /robots.txt and emit the
    (host, robots_txt) table that operators.robots.robots_rules_from_df
    parses distributed - the whole robots pipeline then runs off the same
    archive layout as the pages themselves.

    Capture semantics (round-5 review):
    - only the LATEST capture per host (by WARC-Date) contributes rules -
      archives carry the full capture history, and a stale Disallow from
      an old capture must not override the current policy (disallow wins
      ties in apply_robots, so merging histories over-blocks). Fetch
      chains (http->https redirect + final fetch) can share a host AND a
      second-resolution WARC-Date, so ties break deterministically:
      prefer the 2xx capture, then the lexicographically larger url -
      never whichever row a partition happened to read first;
    - HTTP status decides the body's meaning per the robots convention:
      200 -> parse the body; 5xx -> conservative disallow-all (the fetch
      failed, policy unknown); 3xx/4xx -> no rules (allow-all - a missing
      robots.txt permits crawling).

    Selection is one max_by aggregation (partial/map-side combine ships
    at most one capture per host per partition), NOT a window rank -
    row_number over partitionBy(host) would shuffle every historical
    capture's full body before discarding all but one."""
    from pyspark.sql import functions as F

    from ..functions.urlsql import host_col

    pages = read_warc_gz(spark, path, pattern, with_status=True)
    caps = (pages
            .where(F.lower(F.split(F.col("url"), r"[?#]")[0])
                   .endswith("/robots.txt"))
            .select(host_col(F.col("url")).alias("host"),
                    "url", "warc_ts", "html", "http_status"))
    order_key = F.struct(
        F.col("warc_ts"),
        F.col("http_status").between(200, 299).cast("int").alias("ok2xx"),
        F.col("url"))
    best = caps.groupBy("host").agg(
        F.max_by(F.struct("http_status", "html"), order_key).alias("cap"))
    status = F.col("cap.http_status")
    body = (F.when(status >= 500, F.lit("User-agent: *\nDisallow: /"))
            .when(status >= 300, F.lit(""))
            .otherwise(F.decode(F.col("cap.html"), "utf-8")))
    return best.select("host", body.alias("robots_txt"))

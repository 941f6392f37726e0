"""WARC source (ISO 28500 / Common-Crawl layout): record index +
parallel Arrow-batched decode, on the byte-range skeleton of the PBF
and shapefile sources (``sources/ranges.py``):

1. ``warc_index`` — ONE cheap metadata pass yields
   (offset, size, compressed) per record, built on the driver from one
   source: the ``.cdx`` side file production crawls publish (no
   inflation at all); without a trusted one, a walk.  For a plain
   ``.warc`` the walk reads only each record's header block and seeks
   past the body by ``Content-Length``.  For a ``.warc.gz`` (one gzip
   MEMBER per record, concatenated) it walks member boundaries with a
   streaming inflater — on the driver, or distributed over byte ranges
   with member-magic resync at or above WALK_DISTRIBUTED_MIN bytes
   (``warc_index_gz_distributed``).  The decode contract
   (offset, size) is identical either way.
2. ``decode_records`` — mapInPandas over the index: every task
   span-reads ITS records, gunzips members, and parses WARC headers +
   the embedded HTTP response into typed columns.

Output schema mirrors BASELINE.json's input hint: (url, warc_ts,
html binary, record_type, http_status) — ``text``/``lang`` are derived
downstream (``operators.textops.extract_text_col``, and ``langid_col``,
a pandas UDF that shares the Arrow pass of the other text features).
"""

from __future__ import annotations

import os
import re
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.sources import ranges as R

CRLF2 = b"\r\n\r\n"

# warc_ts is NTZ: WARC-Date is an explicit UTC instant; storing the
# UTC wall time tz-free keeps every downstream epoch computation
# session-timezone-independent (same convention as the events table)
WARC_SCHEMA = ("url string, warc_ts timestamp_ntz, html binary, "
               "record_type string, http_status int")
# read_warc_pages_text's projection: html reduced to its text in the
# decode mapper
TEXT_SCHEMA = ("url string, warc_ts timestamp_ntz, text string, "
               "record_type string, http_status int")

# WARC-Date is a W3C-DTF date (WARC 1.1 §5.4), fractions to the
# nanosecond warc_ts holds.  pd.Timestamp alone also takes "now" and
# "today" (the wall clock: every decode of the same bytes would differ)
# and turns year 0000 into 1972, so the form is checked first.
_W3C_DTF = re.compile(r"(?!0000)\d{4}(-\d\d(-\d\d(T\d\d:\d\d"
                      r"(:\d\d(\.\d{1,9})?)?(Z|[+-]\d\d:\d\d))?)?)?",
                      re.ASCII)


def _parse_headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:        # first line: WARC/1.0
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.strip().decode("ascii").lower()] = v.strip().decode(
                "utf-8", "replace")
    return out


def _content_length(hdrs: dict[str, str]) -> int:
    """The record's ``Content-Length``: ``ValueError`` naming the header
    when it is missing, not an integer or negative (untrusted bytes)."""
    v = hdrs.get("content-length")
    if v is None:
        raise ValueError("WARC record has no Content-Length header")
    if not (v.isascii() and v.isdigit()):
        raise ValueError("WARC Content-Length header is not a non-negative "
                         f"integer: {v!r}")
    return int(v)


def _cdx_rows(path: str) -> list[tuple[int, int, bool]] | None:
    """(offset, size, compressed) per line of ``path``'s ``.cdx`` side
    file (what Common Crawl publishes; tokens after the first two are
    ignored), or None when there is no side file or it is distrusted.

    ANY malformed non-blank line (fewer than two tokens, or a token
    that is not a non-negative int64) distrusts the whole file: a single
    bit-corrupted line next to parseable ones would otherwise silently
    drop that record from every decode.  An empty side file next to a
    non-empty warc (a partial landing-dir write) is distrusted too.
    The walk that replaces it costs one pass but never loses records."""
    cdx = path + ".cdx"
    if not R.exists(cdx):
        return None
    compressed = path.endswith(".gz")
    rows = []
    with R.open_input(cdx) as f:
        for line in f.read().decode("utf-8", "replace").splitlines():
            parts = line.split()
            if not parts:
                continue
            try:
                off, size = int(parts[0]), int(parts[1])
            except (IndexError, ValueError):
                return None
            if not (0 <= off < 1 << 63 and 0 <= size < 1 << 63):
                return None
            rows.append((off, size, compressed))
    return rows if rows or R.file_size(path) == 0 else None


def _walk(path: str) -> Iterator[tuple[int, int, bool]]:
    """Driver-serial metadata walk of ``path``: gzip member boundaries
    for a ``.warc.gz`` (one member per record, the Common-Crawl
    layout); for a plain ``.warc``, each record's header block and a
    seek past its body by ``Content-Length``."""
    fsize = R.file_size(path)
    if path.endswith(".gz"):
        for off, n in _walk_range(path, 0, fsize, fsize):
            yield off, n, True
        return
    with R.open_input(path) as f:
        off = 0
        while True:
            f.seek(off)
            head = f.read(4096)
            if not head.strip():
                return
            hend = head.find(CRLF2)
            while hend < 0:
                more = f.read(4096)
                if not more:
                    return
                head += more
                hend = head.find(CRLF2)
            hdrs = _parse_headers(head[:hend])
            clen = _content_length(hdrs)
            if off + hend + 4 + clen > fsize:
                raise ValueError(f"WARC record at offset {off} of {path}: "
                                 f"Content-Length {clen} runs past the end "
                                 "of the file")
            size = hend + 4 + clen + 4          # headers + body + \r\n\r\n
            yield off, size, False
            off += size


# cdx-less .warc.gz at or above this size index DISTRIBUTED (chunked
# member resync) instead of the O(file) driver-serial walk
WALK_DISTRIBUTED_MIN = 256 << 20
_WALK_CHUNK = 64 << 20          # byte range per distributed-walk task
_WALK_READ = 1 << 18            # sequential read size of the member walk
GZ_MAGIC = b"\x1f\x8b\x08"


def _members(f, pos: int, end: int) -> Iterator[tuple[int, int]]:
    """(offset, size) of the consecutive gzip members of seekable ``f``
    that start in [pos, end), ``pos`` being a member start.  One
    streaming inflate per member (output discarded), fed by sequential
    reads; the bytes read past a member's end are carried into the
    next member, so every byte is read once.  ``ValueError`` with the
    member's offset on corrupt or truncated bytes."""
    f.seek(pos)
    carry = b""
    while pos < end:
        d = zlib.decompressobj(wbits=31)
        fed, size = carry, 0
        while not d.eof:
            if not fed:
                fed = f.read(_WALK_READ)
                if not fed:
                    raise ValueError(f"truncated gzip member at offset {pos}")
            try:
                d.decompress(fed)
            except zlib.error as e:
                raise ValueError(
                    f"corrupt gzip member at offset {pos}: {e}") from e
            size += len(fed)
            fed = b""
        carry = d.unused_data
        size -= len(carry)
        yield pos, size
        pos += size


def _first_member_at(f, start: int, limit: int, fsize: int) -> int | None:
    """Smallest verified gzip-member start offset in [start, limit).
    Candidates are GZ_MAGIC hits; verification inflates the whole
    member and requires the successor position to be EOF or another
    member header (a false-positive magic inside compressed data fails
    one of the two)."""
    WIN = 1 << 20
    tail = b""
    wpos = start                   # file offset of window[0]
    read_at = start
    while read_at < min(limit + len(GZ_MAGIC), fsize):
        f.seek(read_at)
        data = f.read(min(WIN, fsize - read_at))
        if not data:
            return None
        window = tail + data
        i = 0
        while (c := window.find(GZ_MAGIC, i)) >= 0:
            cand = wpos + c
            if cand >= limit:
                return None
            try:
                _, n = next(_members(f, cand, fsize))
            except ValueError:
                pass                    # not a member start
            else:
                f.seek(cand + n)
                if cand + n == fsize or f.read(2) == GZ_MAGIC[:2]:
                    return cand
            i = c + 1
        read_at += len(data)
        tail = window[-(len(GZ_MAGIC) - 1):]
        wpos = read_at - len(tail)
    return None


def _walk_range(path: str, start: int, end: int,
                fsize: int) -> Iterator[tuple[int, int]]:
    """(offset, size) of every gzip member whose START lies in
    [start, end) — each range is independent, so ranges partition the
    member set exactly; the last member may extend past ``end``.
    ``ValueError`` on a corrupt or truncated member."""
    with R.open_input(path) as f:
        pos = 0 if start == 0 else _first_member_at(f, start, end, fsize)
        if pos is not None:
            yield from _members(f, pos, end)


def warc_index_gz_distributed(spark: SparkSession,
                              path: str) -> list[tuple[int, int, bool]]:
    """(offset, size, True) per gzip member of a cdx-less ``.warc.gz``,
    sorted by offset, walked DISTRIBUTED: one task per ``_WALK_CHUNK``
    byte range resyncs to the first verified member in its range and
    walks members until past the range end — O(file/chunk) parallel
    tasks instead of an O(file) driver pass.  The collected members
    must tile [0, fsize) exactly, so a resync false positive raises
    ``ValueError`` instead of mis-slicing records."""
    fsize = R.file_size(path)
    ranges = [(a, min(a + _WALK_CHUNK, fsize))
              for a in range(0, max(fsize, 1), _WALK_CHUNK)]
    rows = sorted(spark.sparkContext.parallelize(ranges, len(ranges))
                  .flatMap(lambda r: _walk_range(path, r[0], r[1], fsize))
                  .collect())
    a = np.array(rows, dtype=np.int64).reshape(-1, 2)
    if not np.array_equal(np.r_[a[:, 0], fsize], np.r_[0, a.sum(axis=1)]):
        raise ValueError(f"distributed gz walk of {path} does not tile its "
                         f"{fsize} bytes (member resync failed)")
    return [(off, n, True) for off, n in rows]


def warc_index(spark: SparkSession, path: str) -> DataFrame:
    """Record index (offset long, size long, compressed boolean), one
    row per record, as contiguous offset slices.

    The rows come from exactly one source, built on the driver: the
    trusted cdx side file (``_cdx_rows``); else the gzip walk —
    driver-serial, or distributed at or above WALK_DISTRIBUTED_MIN
    bytes — or the plain walk.  ``ranges.offset_index`` hands them to
    Spark sorted by offset, as one local relation split in order into
    min(records, ``defaultParallelism``) contiguous partitions.

    Driver memory: the index of ONE file, one row per record, is held
    on the driver: ~230 bytes per record at peak on the Python side
    (measured on a 150k-record cdx with offsets above 2**32: 212 B
    while the cdx is parsed — its lines and row tuples — then the int64
    and Arrow copies of the row), so ~10 MB for a 45k-record
    Common-Crawl file; the JVM keeps the local relation's rows
    (32 bytes of fields each)."""
    rows = _cdx_rows(path)
    if rows is None:
        big_gz = (path.endswith(".gz")
                  and R.file_size(path) >= WALK_DISTRIBUTED_MIN)
        rows = (warc_index_gz_distributed(spark, path) if big_gz
                else list(_walk(path)))
    return R.offset_index(spark, rows,
                          "offset long, size long, compressed boolean")


def decode_record(raw: bytes) -> tuple:
    """One WARC record -> (url, warc_ts_iso, html, record_type, status).
    The HTTP response head is stripped; ``html`` is the response body
    bytes exactly as stored."""
    hend = raw.find(CRLF2)
    if hend < 0:
        raise ValueError("WARC record has no header terminator (CRLF CRLF)")
    hdrs = _parse_headers(raw[:hend])
    body = raw[hend + 4:hend + 4 + _content_length(hdrs)]
    rtype = hdrs.get("warc-type", "")
    url = hdrs.get("warc-target-uri")
    ts = hdrs.get("warc-date")
    status = None
    html = None
    if rtype == "response" and body.startswith(b"HTTP/"):
        bhend = body.find(CRLF2)
        status_line = body[:body.find(b"\r\n")]
        try:
            status = int(status_line.split()[1])
        except (IndexError, ValueError):
            status = None
        if status is not None and not -2**31 <= status < 2**31:
            status = None  # the http_status column is a 32-bit int
        html = body[bhend + 4:]
    return url, ts, html, rtype, status


def decode_records(spark: SparkSession, path: str,
                   text: bool = False) -> DataFrame:
    """Parallel decode: mapInPandas over ``warc_index``; each task
    span-reads and parses the records of its contiguous byte region.
    Columns are WARC_SCHEMA (the byte-identity contract), or with
    ``text`` TEXT_SCHEMA: html reduced to its text in the mapper by
    textops.extract_text_py, the byte-identical twin of the JVM
    extractor, roughly halving the mapper's Arrow transfer."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_pdf(path, pdf, text)

    return warc_index(spark, path).mapInPandas(
        fn, TEXT_SCHEMA if text else WARC_SCHEMA)


def _decode_pdf(path: str, pdf: pd.DataFrame,
                text: bool = False) -> pd.DataFrame:
    """Decode one index batch (offset, size, compressed) of ``path``
    into WARC_SCHEMA columns, or TEXT_SCHEMA ones with ``text``."""
    from osm_spark.operators import textops as TX

    pdf = pdf.sort_values("offset")
    offs = pdf["offset"].to_numpy()
    comp = pdf["compressed"].to_numpy()
    urls, tss, bodies, types, stats = [], [], [], [], []
    for off, c, raw in zip(offs, comp, R.read_spans(
            path, offs, pdf["size"].to_numpy())):
        if c:
            try:
                raw = zlib.decompress(raw, wbits=31)
            except zlib.error as e:
                raise ValueError(f"corrupt gzip member at offset {off} "
                                 f"of {path}: {e}") from e
        url, ts, html, rtype, status = decode_record(raw)
        if ts and not _W3C_DTF.fullmatch(ts):
            raise ValueError(f"WARC-Date {ts!r} of the record at offset "
                             f"{off} of {path} is not a W3C-DTF date")
        urls.append(url)
        tss.append(pd.Timestamp(ts) if ts else pd.NaT)
        bodies.append(TX.extract_text_py(html)
                      if text and html is not None else html)
        types.append(rtype)
        stats.append(status)
    ts = pd.Series(tss, dtype="datetime64[ns, UTC]") \
        .dt.tz_convert("UTC").dt.tz_localize(None)
    return pd.DataFrame({
        "url": urls,
        "warc_ts": ts,
        "text" if text else "html": bodies,
        "record_type": types,
        "http_status": pd.array(stats, dtype="Int32"),
    })


def stream_warc_pages(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Structured-Streaming WARC ingestion: ``.warc(.gz)`` files land
    in ``landing_dir`` together with ``.cdx`` side files; the stream
    tails the cdx files with Spark's file source (exactly-once file
    tracking for free) and decodes each batch's members with the same
    span-read kernel as the batch reader.  Returns the streaming pages
    DataFrame (url, warc_ts, html) — compose with watermarks /
    extract_text_col / writeStream downstream.

    Landing contract: write the warc FIRST, then the cdx, and create
    the cdx atomically (write to a temp name + rename).  Spark's file
    source snapshots a file once at first sight — a cdx that appears
    empty and is filled in place would pin that file's index at zero
    rows forever (the batch reader, by contrast, re-walks on an empty
    side file; see _cdx_rows)."""
    from urllib.parse import unquote, urlparse

    idx = (spark.readStream
           .schema("offset long, size long")
           .option("sep", " ")
           .csv(os.path.join(landing_dir, "*.cdx"))
           .withColumn("src", F.input_file_name()))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            for src, grp in pdf.groupby("src"):
                path = unquote(urlparse(str(src)).path)
                if path.endswith(".cdx"):
                    path = path[:-len(".cdx")]
                grp = grp.assign(compressed=path.endswith(".gz"))
                yield _decode_pdf(
                    path, grp[["offset", "size", "compressed"]])

    recs = idx.mapInPandas(fn, WARC_SCHEMA)
    return recs.filter("record_type = 'response' AND http_status = 200") \
        .select("url", "warc_ts", "html")


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC file -> Common-Crawl-style pages: 200-OK response records
    only, (url, warc_ts, html)."""
    recs = decode_records(spark, path)
    return recs.filter("record_type = 'response' AND http_status = 200") \
        .select("url", "warc_ts", "html")


def read_warc_pages_text(spark: SparkSession, path: str) -> DataFrame:
    """Text-only pages: (url, warc_ts, text, lang), the text extracted
    INSIDE the decode mapper (``decode_records(text=True)``), so html
    bytes never cross the Arrow boundary.  lang is a projection over
    the text column (``langid_col``): a ``select`` without it prunes it,
    and with ``with_quality``/``fingerprint_udf`` it rides their Arrow
    pass.  The DEFAULT reader for composed pipelines (e2e_warc_geo):
    1→4 chain efficiency 0.89 vs 0.62 when html rides through Arrow
    (BENCH/ANALYSIS.md); read html only where a stage needs its bytes
    (media extraction, link graphs, the s2_warc_pages contract)."""
    from osm_spark.operators import textops as TX

    recs = decode_records(spark, path, text=True)
    return (recs.filter("record_type = 'response' AND http_status = 200")
            .select("url", "warc_ts", "text",
                    TX.langid_col(F.col("text")).alias("lang")))


def read_warc_pages_full(spark: SparkSession, path: str) -> DataFrame:
    """Pages in exactly the engine's canonical input shape
    (BASELINE.json input_hint): (url, warc_ts, html, text, lang) —
    text via the JVM extractor (byte-identity invariant), lang via the
    marker-word language id (``langid_col``, one pandas UDF over the
    extracted text)."""
    from osm_spark.operators import textops as TX

    p = read_warc_pages(spark, path)
    text = TX.extract_text_col(F.col("html"))
    return p.select("url", "warc_ts", "html", text.alias("text"),
                    TX.langid_col(text).alias("lang"))

"""WARC source (ISO 28500 / Common-Crawl layout): record index +
parallel Arrow-batched decode.

The same two-pass shape as the PBF source (sources/pbf.py — the
reference's streaming-parser re-expression, parser.ml:67-84):

1. ``warc_index`` — ONE cheap metadata pass yields
   (offset, size, compressed) per record.  For a plain ``.warc`` the
   pass reads only each record's header block and seeks past the body
   by ``Content-Length``.  For a ``.warc.gz`` in the Common-Crawl
   layout (one gzip MEMBER per record, concatenated) the pass walks
   member boundaries with a streaming inflater — DISTRIBUTED above
   WALK_DISTRIBUTED_MIN via chunked byte ranges with member-magic
   resync (``warc_index_gz_distributed``); production deployments
   read the offsets from the accompanying cdx/index files instead —
   the decode contract (offset, size) is identical either way.

All reads route through pyarrow.fs (``_open_input``), so the same
code does ranged GETs on ``s3://``-style object stores and plain
seeks on local files.
2. ``decode_records`` — mapInPandas over the index: every executor
   range-reads ITS records (a ranged GET on object stores), gunzips
   members where needed, and parses WARC headers + the embedded HTTP
   response into typed columns.  Parallelism == record count.

Output schema mirrors BASELINE.json's input hint: (url, warc_ts,
html binary, record_type, http_status) — ``text``/``lang`` are derived
downstream (``operators.textops.extract_text_col``, and ``langid_col``,
a pandas UDF that shares the Arrow pass of the other text features).
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Iterator

import numpy as np  # noqa: F401  (kept with the sources' numpy convention)
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CRLF2 = b"\r\n\r\n"


def _pa_fs(path: str):
    """(pyarrow FileSystem, path-within-fs) for local paths and object
    stores — the executor-side analog of metrics._FS (executors have no
    py4j bridge to the JVM Hadoop FileSystem, so reads route through
    pyarrow.fs: LocalFileSystem for bare paths, S3/GCS/Hadoop for URIs;
    ``s3a://`` is normalized to pyarrow's ``s3://``)."""
    from pyarrow import fs as pafs

    uri = path
    if uri.startswith("s3a://") or uri.startswith("s3n://"):
        uri = "s3://" + uri.split("://", 1)[1]
    if "://" in uri:
        return pafs.FileSystem.from_uri(uri)
    return pafs.LocalFileSystem(), uri


def _open_input(path: str):
    """Seekable binary reader for ``path`` on any pyarrow filesystem
    (ranged reads on object stores)."""
    fsys, rel = _pa_fs(path)
    return fsys.open_input_file(rel)


def _finfo(path: str):
    """pyarrow FileInfo for ``path`` (.size; .is_file; type NotFound
    when absent)."""
    fsys, rel = _pa_fs(path)
    return fsys.get_file_info(rel)


def _exists(path: str) -> bool:
    from pyarrow import fs as pafs

    return _finfo(path).type != pafs.FileType.NotFound


def _fsize(path: str) -> int:
    info = _finfo(path)
    return int(info.size or 0)

# warc_ts is NTZ: WARC-Date is an explicit UTC instant; storing the
# UTC wall time tz-free keeps every downstream epoch computation
# session-timezone-independent (same convention as the events table)
WARC_SCHEMA = ("url string, warc_ts timestamp_ntz, html binary, "
               "record_type string, http_status int")


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


def iter_warc_index(path: str):
    """Yield (offset, size, compressed) per WARC record — metadata-only
    pass (header block + Content-Length seek for plain files; streaming
    member-boundary walk for .warc.gz)."""
    cdx = path + ".cdx"
    if _exists(cdx):
        # production path: offsets from the accompanying cdx side file
        # (what Common Crawl publishes) — no inflation at all
        compressed = path.endswith(".gz")
        entries = []
        malformed = False
        with _open_input(cdx) as f:
            for line in f.read().decode("utf-8", "replace").splitlines():
                parts = line.split()
                if len(parts) >= 2:
                    try:
                        entries.append(
                            (int(parts[0]), int(parts[1]), compressed))
                    except ValueError:
                        malformed = True
                elif line.strip():
                    malformed = True
        if (entries and not malformed) or (not malformed
                                           and _fsize(path) == 0):
            yield from entries
            return
        # ANY malformed non-blank line — not just an all-malformed or
        # empty side file — distrusts the whole cdx: a single
        # bit-corrupted line next to parseable ones would otherwise
        # silently drop that record from every downstream decode.  The
        # walk costs one inflate pass but never loses records.
    if path.endswith(".gz"):
        # no side file: one streaming inflate over the file to find
        # member boundaries — chunk-fed from INCREMENTAL file reads
        # (O(chunk) memory and O(N) work; never the whole file, never
        # the whole tail); output bytes are discarded
        with _open_input(path) as f:
            pos = 0              # file offset of the current member
            carry = b""          # tail of the last read beyond member end
            chunk_sz = 1 << 18
            while True:
                d = zlib.decompressobj(wbits=31)
                consumed = 0     # bytes attributed to this member
                fed = carry
                carry = b""
                while True:
                    if not fed:
                        fed = f.read(chunk_sz)
                        if not fed:
                            if consumed == 0:
                                return       # clean EOF at a boundary
                            raise ValueError("truncated gzip member")
                    d.decompress(fed)
                    consumed += len(fed)
                    fed = b""
                    if d.eof:
                        carry = d.unused_data
                        consumed -= len(carry)
                        break
                yield pos, consumed, True
                pos += consumed
    with _open_input(path) as f:
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
            size = hend + 4 + clen + 4          # headers + body + \r\n\r\n
            yield off, size, False
            off += size


_CDX_HEAD_BYTES = 4096


def _cdx_head_parses(cdx: str) -> bool:
    """O(1) driver guard for the distributed cdx scan: every COMPLETE
    non-empty line in the first 4 KB must parse as two integers (the
    final line is only skipped when the read was truncated mid-line).
    The csv path silently drops null rows, so any malformed line here
    — corruption OR an unexpected header format — routes to the
    walking index, which never loses records (same policy as
    iter_warc_index's whole-file check)."""
    try:
        with _open_input(cdx) as f:
            head = f.read(_CDX_HEAD_BYTES).decode("utf-8", "replace")
    except OSError:
        return False
    lines = head.splitlines()
    if len(head) >= _CDX_HEAD_BYTES and lines:
        lines = lines[:-1]              # last line may be cut mid-number
    saw_data = False
    for line in lines:
        if line.strip():
            parts = line.split()
            if len(parts) < 2:
                return False
            try:
                int(parts[0]), int(parts[1])
                saw_data = True
            except ValueError:
                return False
    return saw_data


# cdx-less .warc.gz above this size index DISTRIBUTED (chunked member
# resync) instead of the O(file) driver-serial walk
WALK_DISTRIBUTED_MIN = 256 << 20
GZ_MAGIC = b"\x1f\x8b\x08"


def _gz_member_len(f, off: int, chunk_sz: int = 1 << 18) -> int | None:
    """Byte length of the gzip member starting at ``off`` in seekable
    ``f`` (streaming inflate, output discarded); None if ``off`` does
    not start a valid member."""
    f.seek(off)
    d = zlib.decompressobj(wbits=31)
    consumed = 0
    try:
        while True:
            fed = f.read(chunk_sz)
            if not fed:
                return None                    # truncated
            d.decompress(fed)
            consumed += len(fed)
            if d.eof:
                return consumed - len(d.unused_data)
    except zlib.error:
        return None


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
        while True:
            c = window.find(GZ_MAGIC, i)
            if c < 0:
                break
            cand = wpos + c
            if cand >= limit:
                return None
            n = _gz_member_len(f, cand)
            if n is not None:
                nxt = cand + n
                if nxt == fsize:
                    return cand
                f.seek(nxt)
                if f.read(2) == GZ_MAGIC[:2]:
                    return cand
            i = c + 1
        read_at += len(data)
        tail = window[-(len(GZ_MAGIC) - 1):]
        wpos = read_at - len(tail)
    return None


def _walk_range(path: str, start: int, end: int, fsize: int):
    """(offset, size) of every gzip member whose START lies in
    [start, end) — each range is independent, so ranges partition the
    member set exactly; the last member may extend past ``end``."""
    with _open_input(path) as f:
        pos = 0 if start == 0 else _first_member_at(f, start, end, fsize)
        if pos is None:
            return
        while pos < end:
            n = _gz_member_len(f, pos)
            if n is None:
                raise ValueError(
                    f"corrupt gzip member at offset {pos} of {path}")
            yield pos, n
            pos += n


def warc_index_gz_distributed(spark: SparkSession, path: str,
                              chunk_bytes: int = 64 << 20,
                              validate: bool = True) -> DataFrame:
    """Distributed index of a cdx-less ``.warc.gz``: fixed byte ranges,
    each worker resyncs to the first verified gzip member in its range
    and walks members until past the range end — O(file/chunk) parallel
    tasks instead of an O(file) driver pass.  ``validate=True`` runs a
    one-action contiguity check (members tile [0, fsize) exactly) so a
    resync false-positive fails loudly instead of mis-slicing records."""
    fsize = _fsize(path)
    ranges = [(a, min(a + chunk_bytes, fsize))
              for a in range(0, max(fsize, 1), chunk_bytes)]
    rdf = spark.createDataFrame(ranges, "start long, end long")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start, end in zip(pdf["start"], pdf["end"]):
                rows = list(_walk_range(path, int(start), int(end), fsize))
                yield pd.DataFrame(
                    {"offset": [r[0] for r in rows],
                     "size": [r[1] for r in rows]},
                    dtype="int64")

    idx = (rdf.repartition(len(ranges))
           .mapInPandas(fn, "offset long, size long")
           .withColumn("compressed", F.lit(True)))
    if validate and fsize:
        idx = idx.persist()
        try:
            chk = idx.agg(
                F.min("offset").alias("lo"),
                F.max(F.col("offset") + F.col("size")).alias("hi"),
                F.sum("size").alias("total")).first()
            if (chk.lo, chk.hi, chk.total) != (0, fsize, fsize):
                raise ValueError(
                    f"distributed gz walk of {path} is not contiguous: "
                    f"min={chk.lo} max_end={chk.hi} sum={chk.total} "
                    f"fsize={fsize} (member resync failed)")
            # the index is one 17-byte row per gzip MEMBER (members are
            # KBs-to-MBs), so it is orders of magnitude smaller than the
            # file just walked — round-trip it through the driver so the
            # expensive walk is never recomputed AND nothing stays
            # pinned in executor storage for the application lifetime
            # (a loop over a crawl segment would otherwise accumulate
            # one dead persisted DF per archive).
            pdf = idx.toPandas()
        finally:
            idx.unpersist()
        return spark.createDataFrame(
            pdf, "offset long, size long, compressed boolean")
    return idx


def warc_index(spark: SparkSession, path: str) -> DataFrame:
    """Record index as a DataFrame.  With a cdx side file the index is
    read DISTRIBUTED (Spark csv scan — the driver never materializes
    it).  A cdx-less ``.warc.gz`` above WALK_DISTRIBUTED_MIN builds the
    index distributed via chunked member resync; only small files pay
    the driver-serial walk (shipped as one Arrow batch)."""
    cdx = path + ".cdx"
    if _exists(cdx) and (_fsize(path) == 0
                         or (_fsize(cdx) > 0 and _cdx_head_parses(cdx))):
        raw = spark.read.csv(cdx, sep=" ",
                             schema="offset long, size long")
        # a short or non-numeric line nulls a field; DON'T silently
        # drop it — corruption past the 4 KB head guard would lose
        # records.  One cheap distributed pass over the (tiny) cdx
        # checks full parseability; any bad line distrusts the whole
        # side file and falls through to the lossless walk, the same
        # policy iter_warc_index applies.  (Tokens beyond the first
        # two are dropped by the csv reader — that matches the >= 2
        # rule and is not corruption.)
        bad = raw.where(F.col("offset").isNull()
                        | F.col("size").isNull())
        if bad.isEmpty():
            return raw.withColumn("compressed",
                                  F.lit(path.endswith(".gz")))
    if path.endswith(".gz") and _fsize(path) >= int(os.environ.get(
            "OSM_SPARK_WARC_WALK_DISTRIBUTED_MIN", WALK_DISTRIBUTED_MIN)):
        return warc_index_gz_distributed(spark, path)
    rows = pd.DataFrame(iter_warc_index(path),
                        columns=["offset", "size", "compressed"])
    return spark.createDataFrame(
        rows, "offset long, size long, compressed boolean")


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
        html = body[bhend + 4:]
    return url, ts, html, rtype, status


_SPAN_BYTES = 8 << 20        # coalesced read span (one ranged GET)


_TEXT_SCHEMA_COLS = {
    "url": "url string", "warc_ts": "warc_ts timestamp_ntz",
    "html": "html binary", "text": "text string",
    "record_type": "record_type string", "http_status": "http_status int",
}


def decode_records(spark: SparkSession, path: str,
                   index: DataFrame | None = None,
                   columns: tuple[str, ...] | None = None) -> DataFrame:
    """Parallel decode: mapInPandas over the record index; each worker
    range-reads and parses its own records.

    Partitioning is RANGE on offset, so every task owns a contiguous
    byte region, and each pandas batch's records are read as a few
    coalesced ~8 MB span reads instead of one seek+read per record —
    on an object store that is the difference between 10k GETs and a
    handful of ranged GETs per task.

    ``columns`` projects INSIDE the decode mapper: a text-only pipeline
    passes ``("url", "warc_ts", "text")`` and the html bytes are
    reduced to extracted text (textops.extract_text_py — the
    byte-identical twin of the JVM extractor) before the Arrow
    boundary, roughly halving the mapper's Arrow transfer.  Default
    (None) keeps the full WARC_SCHEMA byte-identity contract."""
    if index is None:
        index = warc_index(spark, path)
    idx = index.repartitionByRange(
        max(spark.sparkContext.defaultParallelism, 2), "offset")
    if columns is not None:
        bad = [c for c in columns if c not in _TEXT_SCHEMA_COLS]
        if bad:
            raise ValueError(f"unknown decode columns: {bad}")
        schema = ", ".join(_TEXT_SCHEMA_COLS[c] for c in columns)
    else:
        schema = WARC_SCHEMA

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_pdf(path, pdf, columns)

    return idx.mapInPandas(fn, schema)


def _decode_pdf(path: str, pdf: pd.DataFrame,
                columns: tuple[str, ...] | None = None) -> pd.DataFrame:
    """Decode one index batch (offset, size, compressed) of ``path``
    into typed WARC_SCHEMA columns via span-coalesced range reads."""
    from osm_spark.operators import textops as TX

    want = tuple(columns) if columns is not None else None
    want_text = want is not None and "text" in want
    keep_html = want is None or "html" in want
    pdf = pdf.sort_values("offset")
    offs = pdf["offset"].to_numpy()
    ends = offs + pdf["size"].to_numpy()
    urls, tss, htmls, types, stats, texts = [], [], [], [], [], []
    comp = pdf["compressed"].to_numpy()
    with _open_input(path) as f:
        # greedy span grouping: cut where the next record would push
        # the span past _SPAN_BYTES (records are adjacent, so spans
        # are dense).  Each span is parsed as soon as it is read, so
        # raw-byte residency stays at ONE span, not the whole batch.
        s = 0
        for i in range(1, len(offs) + 1):
            if i == len(offs) or ends[i - 1] - offs[s] > _SPAN_BYTES:
                f.seek(int(offs[s]))
                buf = memoryview(f.read(int(ends[i - 1] - offs[s])))
                base = int(offs[s])
                for j in range(s, i):
                    raw = bytes(buf[int(offs[j]) - base:
                                    int(ends[j]) - base])
                    if comp[j]:
                        raw = zlib.decompress(raw, wbits=31)
                    url, ts, html, rtype, status = decode_record(raw)
                    urls.append(url)
                    tss.append(pd.Timestamp(ts) if ts else pd.NaT)
                    if want_text:
                        texts.append(TX.extract_text_py(html)
                                     if html is not None else None)
                    if keep_html:
                        htmls.append(html)
                    types.append(rtype)
                    stats.append(status)
                s = i
    ts = pd.Series(tss, dtype="datetime64[ns, UTC]") \
        .dt.tz_convert("UTC").dt.tz_localize(None)
    full = {
        "url": urls,
        "warc_ts": ts,
        "record_type": types,
        "http_status": pd.array(stats, dtype="Int32"),
    }
    if keep_html:
        full["html"] = htmls
    if want_text:
        full["text"] = texts
    if want is None:
        return pd.DataFrame({k: full[k] for k in
                             ("url", "warc_ts", "html", "record_type",
                              "http_status")})
    return pd.DataFrame({k: full[k] for k in want})


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
    side file; see iter_warc_index)."""
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
    """Text-only pages: (url, warc_ts, text, lang) with extraction run
    INSIDE the decode mapper (extract_text_py, the byte-identical twin
    of the JVM extractor) so html bytes never cross the Arrow boundary
    — about half the mapper transfer of ``read_warc_pages_full`` for
    pipelines that only need text.  lang is a projection over the text
    column (``langid_col``), not part of the mapper: a ``select`` without
    it prunes it, and with ``with_quality``/``fingerprint_udf`` it rides
    the same Arrow pass.

    This is the DEFAULT reader for composed pipelines (e2e_warc_geo
    uses it): 1→4 chain efficiency measured 0.89 here vs 0.62 when
    html rides through Arrow (BENCH/ANALYSIS.md).  Use
    ``read_warc_pages``/``read_warc_pages_full`` only when downstream
    stages genuinely need raw html bytes — media extraction
    (multimodal.py), link-graph parsing, or the byte-identity contract
    itself (s2_warc_pages)."""
    from osm_spark.operators import textops as TX

    recs = decode_records(
        spark, path,
        columns=("url", "warc_ts", "text", "record_type", "http_status"))
    return (recs.filter("record_type = 'response' AND http_status = 200")
            .select("url", "warc_ts", "text",
                    TX.langid_col(F.col("text")).alias("lang")))


def read_warc_pages_full(spark: SparkSession, path: str) -> DataFrame:
    """Pages in exactly the engine's canonical input shape
    (BASELINE.json input_hint): (url, warc_ts, html, text, lang) —
    text via the JVM extractor (byte-identity invariant), lang via the
    marker-word language id (``langid_col``, one pandas UDF over the
    extracted text)."""
    from pyspark.sql import functions as F

    from osm_spark.operators import textops as TX

    p = read_warc_pages(spark, path)
    text = TX.extract_text_col(F.col("html"))
    return p.select("url", "warc_ts", "html", text.alias("text"),
                    TX.langid_col(text).alias("lang"))

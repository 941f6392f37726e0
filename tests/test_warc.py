"""WARC source (Common-Crawl layout): encode -> decode round trip
against the independent fixture writer's ground truth, plain and
gzip-member-per-record variants, plus the byte-identical text
extraction invariant; and the byte-range skeleton all three sources
(WARC, PBF, shapefile) decode over: offset index slices and plans."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from osm_spark.operators.textops import extract_text_col
from osm_spark.sources import pbf, pbf_fixture, ranges, warc
from osm_spark.sources import shapefile as SHP, shp_fixture as SF
from osm_spark.sources import warc_fixture as WF

from kernel_oracles import executed_plan, iter_warc_index


def _write_scaled(path: str, n_pages: int, text_repeat: int) -> str:
    """``n_pages`` response records (html padded by ``text_repeat``
    filler phrases), one gzip member per record, plus the ``.cdx`` side
    file — the Common-Crawl layout at more than fixture size."""
    filler = " lorem ipsum web text corpus segment" * text_repeat
    with open(path, "wb") as f, open(path + ".cdx", "w") as cdx:
        off = 0
        for i in range(n_pages):
            html = WF.page_html(f"page {i}{filler}", i)
            http = (f"HTTP/1.1 200 OK\r\n"
                    f"Content-Type: text/html; charset=utf-8\r\n"
                    f"Content-Length: {len(html)}\r\n\r\n").encode() + html
            rec = WF._record(
                "response",
                {"WARC-Target-URI": f"https://w{i % 997}.example/geo/"
                                    f"{400000000 + i % 40000000}/"
                                    f"{i % 40000000}/page{i}",
                 "WARC-Date":
                 f"2025-01-01T{i // 3600 % 24:02d}:"
                 f"{i // 60 % 60:02d}:{i % 60:02d}Z",
                 "WARC-Record-ID":
                 f"<urn:uuid:00000000-0000-0000-0001-{i:012d}>",
                 "Content-Type": "application/http; msgtype=response"},
                http)
            member = gzip.compress(rec, 1, mtime=0)
            f.write(member)
            cdx.write(f"{off} {len(member)}\n")
            off += len(member)
    return path


@pytest.fixture(scope="module", params=["plain", "gz"])
def warc_path(request, tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    name = "sample.warc" if request.param == "plain" else "sample.warc.gz"
    return WF.write_sample(str(d / name))


def test_index_counts_all_records(spark, warc_path):
    n = warc.warc_index(spark, warc_path).count()
    assert n == 1 + 2 * WF.N_PAGES          # warcinfo + (request, response)/page


def test_pages_round_trip_and_text_identity(spark, warc_path):
    pages = warc.read_warc_pages(spark, warc_path).withColumn(
        "text", extract_text_col(F.col("html")))
    got = {r.url: (r.warc_ts, bytes(r.html), r.text)
           for r in pages.collect()}
    want = WF.expected_pages()
    assert len(got) == len(want)            # 404s filtered out
    for i, (url, us, text, n_html) in enumerate(want):
        ts, html, xtext = got[url]
        assert len(html) == n_html
        assert xtext == text                # byte-identical extraction
    # NTZ wall-time check without tz ambiguity
    ts_us = {r.url: r.us for r in pages.select(
        "url",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 "
               "00:00:00', warc_ts)").alias("us")).collect()}
    for url, us, _t, _n in want:
        assert ts_us[url] == us


def test_record_types_and_statuses(spark, warc_path):
    recs = warc.decode_records(spark, warc_path)
    by_type = {r["record_type"]: r["n"] for r in
               recs.groupBy("record_type").agg(
                   F.count("*").alias("n")).collect()}
    assert by_type == {"warcinfo": 1, "request": WF.N_PAGES,
                       "response": WF.N_PAGES}
    n404 = recs.filter("http_status = 404").count()
    assert n404 == sum(1 for p in WF.sample_pages() if p["status"] == 404)


def test_cdx_side_file_index_equivalent(spark, tmp_path):
    """A <path>.cdx side file (the production Common-Crawl layout)
    replaces the streaming member walk; decode output is identical."""
    p = WF.write_sample(str(tmp_path / "s.warc.gz"))
    walked = list(iter_warc_index(p))
    with open(p + ".cdx", "w") as f:
        for off, size, _c in walked:
            f.write(f"{off} {size}\n")
    via_cdx = list(iter_warc_index(p))
    assert via_cdx == walked
    texts = warc.read_warc_pages(spark, p).select("url").collect()
    assert len(texts) == len(WF.expected_pages())


def test_cdx_extra_and_short_tokens(spark, tmp_path):
    """cdx lines with trailing fields (digests etc.) parse like the
    driver walker; short/garbage lines are dropped, not NULL rows that
    crash the decoder."""
    p = WF.write_sample(str(tmp_path / "s.warc.gz"))
    walked = list(iter_warc_index(p))
    with open(p + ".cdx", "w") as f:
        for off, size, _c in walked:
            f.write(f"{off} {size} sha1:ABCDEF example.org/x\n")
        f.write("garbage\n")
    idx = warc.warc_index(spark, p)
    got = sorted((r.offset, r.size) for r in idx.collect())
    assert got == sorted((o, s) for o, s, _ in walked)
    # end to end: decode still works through the 4-token cdx
    assert warc.read_warc_pages(spark, p).count() == len(WF.expected_pages())


def test_pages_full_matches_input_hint_shape(spark, warc_path):
    """read_warc_pages_full yields exactly the canonical pages schema
    (url, warc_ts, html, text, lang) from BASELINE.json's input_hint."""
    full = warc.read_warc_pages_full(spark, warc_path)
    assert [(f.name, f.dataType.simpleString()) for f in full.schema] == [
        ("url", "string"), ("warc_ts", "timestamp_ntz"),
        ("html", "binary"), ("text", "string"), ("lang", "string")]
    rows = full.collect()
    assert len(rows) == len(WF.expected_pages())
    assert all(r.lang is not None for r in rows)
    texts = {r.url: r.text for r in rows}
    for url, _us, text, _n in WF.expected_pages():
        assert texts[url] == text


def test_stream_warc_pages_landing_dir(spark, tmp_path):
    """Streaming ingestion over a landing dir of .warc.gz + .cdx
    pairs: the file source tracks cdx files; decoded pages match the
    batch reader byte-for-byte across both files."""
    land = tmp_path / "landing"
    land.mkdir()
    for k in range(2):
        p = str(land / f"crawl{k}.warc.gz")
        WF.write_sample(p)
        walked = list(iter_warc_index(p))   # before the cdx exists
        with open(p + ".cdx", "w") as f:
            for off, size, _c in walked:
                f.write(f"{off} {size}\n")
    stream = warc.stream_warc_pages(spark, str(land))
    assert stream.isStreaming
    q = (stream.withColumn("text", extract_text_col(F.col("html")))
         .writeStream.format("memory").queryName("warc_stream")
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT url, text FROM warc_stream").collect()
    want = WF.expected_pages()
    assert len(rows) == 2 * len(want)
    texts = {}
    for r in rows:
        texts.setdefault(r.url, []).append(r.text)
    for url, _us, text, _n in want:
        assert texts[url] == [text, text]   # once per landed file


def test_warc_chain_staged_resume(spark, tmp_path):
    """The composed north-star chain as a resumable checkpointed
    pipeline: decode → text+geocode → PIP join.  A second run resumes
    every complete stage from its checkpoint (lineage records it) and
    reproduces the identical result."""
    from osm_spark import fixtures as FX
    from osm_spark.metrics import Pipeline
    from osm_spark.operators.geocode import geocode_pages
    from osm_spark.operators.spatial_join import spatial_join

    fx = WF.write_sample(str(tmp_path / "s.warc.gz"))
    polys = spark.createDataFrame(
        [(p["feature_id"], p["category"], p["layer"],
          [(r["role"], r["lat"], r["lon"]) for r in p["rings"]])
         for p in FX.city_polygons()], FX.POLYGON_SCHEMA)

    def run():
        pl = Pipeline(spark, str(tmp_path / "pl"), "warc_chain")
        pages = pl.stage("decode", lambda: warc.read_warc_pages(spark, fx))
        geo = pl.stage(
            "geocode",
            lambda: geocode_pages(pages.select(
                "url", extract_text_col(F.col("html")).alias("text"))),
            inputs=["decode"])
        out = pl.stage(
            "pip", lambda: spatial_join(geo, polys, how="left"),
            inputs=["geocode"])
        return pl, sorted((r.page_id, r.feature_id) for r in out.collect())

    pl1, first = run()
    assert not any(r.get("resumed") for r in pl1.lineage())
    pl2, second = run()
    resumed = [r["stage"] for r in pl2.lineage() if r.get("resumed")]
    assert set(resumed) >= {"decode", "geocode", "pip"}
    assert first == second
    # lineage DAG edges + per-stage metrics recorded (first, full run)
    by_stage = {r["stage"]: r for r in pl1.lineage()
                if not r.get("resumed")}
    assert by_stage["pip"]["inputs"] == ["geocode"]
    assert by_stage["decode"]["rows"] == len(WF.expected_pages())


def test_stream_spatial_join_tile_counts_match_batch(spark, tmp_path):
    """The continuous north-star pipeline: streaming WARC ingestion →
    text → geocode → broadcast PIP join → per-feature counts, plus
    page_tiles → per-tile counts — every stage a pure expression or
    the same broadcast ``mapInPandas`` the batch path uses, so the
    whole chain runs unchanged under Structured Streaming.  Both
    streaming aggregates must equal their batch twins."""
    from osm_spark import fixtures as FX
    from osm_spark.operators.geocode import geocode_pages
    from osm_spark.operators.spatial_join import spatial_join
    from osm_spark.operators.tiles import page_tiles

    land = tmp_path / "landing"
    land.mkdir()
    paths = []
    for k in range(2):
        p = str(land / f"crawl{k}.warc.gz")
        WF.write_sample(p)
        walked = list(iter_warc_index(p))  # before the cdx exists
        with open(p + ".cdx", "w") as f:
            for off, size, _c in walked:
                f.write(f"{off} {size}\n")
        paths.append(p)
    polys = spark.createDataFrame(
        [(p["feature_id"], p["category"], p["layer"],
          [(r["role"], r["lat"], r["lon"]) for r in p["rings"]])
         for p in FX.city_polygons()], FX.POLYGON_SCHEMA)

    def chain(pages):
        geo = geocode_pages(pages.select("url"))
        feat = (spatial_join(geo, polys, how="inner")
                .groupBy("feature_id").count())
        tile = (page_tiles(geo, zooms=(12,))
                .groupBy("z", "x", "y").count())
        return feat, tile

    feat_s, tile_s = chain(warc.stream_warc_pages(spark, str(land)))
    assert feat_s.isStreaming and tile_s.isStreaming
    qs = []
    for name, df in (("feat_stream", feat_s), ("tile_stream", tile_s)):
        qs.append(df.writeStream.format("memory").queryName(name)
                  .outputMode("complete").trigger(availableNow=True)
                  .option("checkpointLocation", str(tmp_path / ("ck_" + name)))
                  .start())
    for q in qs:
        q.awaitTermination(180)

    batch_pages = warc.read_warc_pages(spark, paths[0]).unionByName(
        warc.read_warc_pages(spark, paths[1]))
    feat_b, tile_b = chain(batch_pages)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(spark.sql("SELECT * FROM feat_stream")) == rows(feat_b)
    got_tiles = rows(spark.sql("SELECT * FROM tile_stream"))
    assert got_tiles == rows(tile_b)
    assert len(got_tiles) > 0 and sum(r[-1] for r in got_tiles) == \
        2 * len(WF.expected_pages())


def test_empty_cdx_side_file_distrusted(spark, tmp_path):
    """An empty .cdx next to a non-empty warc is a partial landing-dir
    write: both index paths must fall back to walking instead of
    silently yielding zero records."""
    p = str(tmp_path / "part.warc.gz")
    WF.write_sample(p)
    open(p + ".cdx", "w").close()   # truncated side file
    walked = list(iter_warc_index(p))
    assert len(walked) == 1 + 2 * WF.N_PAGES  # warcinfo + req/resp per page
    assert warc.warc_index(spark, p).count() == len(walked)
    assert warc.read_warc_pages(spark, p).count() > 0


def test_malformed_cdx_side_file_distrusted(spark, tmp_path):
    """A cdx whose every line is malformed must behave like the empty
    side file (fall back to walking), not scan to zero records."""
    p = str(tmp_path / "bad.warc.gz")
    WF.write_sample(p)
    with open(p + ".cdx", "w") as f:
        f.write("garbage lines\nnot numbers here\n")
    walked = list(iter_warc_index(p))
    assert len(walked) == 1 + 2 * WF.N_PAGES
    assert warc.warc_index(spark, p).count() == len(walked)


def test_partially_malformed_cdx_distrusted(spark, tmp_path):
    """ONE corrupt line among parseable ones must distrust the whole
    side file (walk; zero records lost) — trusting the surviving lines
    would silently drop the corrupted record from every decode.  Covers
    both ``iter_warc_index`` and the DataFrame index ``warc_index``;
    the corrupt line sits mid-file, past any head-of-file check."""
    p = str(tmp_path / "partial.warc.gz")
    WF.write_sample(p)
    good = list(iter_warc_index(p))
    assert len(good) == 1 + 2 * WF.N_PAGES
    lines = [f"{o} {s}" for o, s, _ in good]
    lines[len(lines) // 2] = "99x9 480"           # one bit-corrupted line
    with open(p + ".cdx", "w") as f:
        f.write("\n".join(lines) + "\n")
    assert list(iter_warc_index(p)) == good
    assert warc.warc_index(spark, p).count() == len(good)


@pytest.mark.parametrize("bad", ["-5 480", "99999999999999999999 480"])
def test_cdx_out_of_range_line_distrusted(spark, tmp_path, bad):
    """A negative or int64-overflowing cdx number distrusts the side
    file like any other malformed line (walk; zero records lost)."""
    p = WF.write_sample(str(tmp_path / "oor.warc.gz"))
    good = list(iter_warc_index(p))
    lines = [f"{o} {s}" for o, s, _ in good]
    lines[1] = bad
    with open(p + ".cdx", "w") as f:
        f.write("\n".join(lines) + "\n")
    assert list(iter_warc_index(p)) == good
    assert warc.warc_index(spark, p).count() == len(good)


def test_text_only_projection_matches_full(spark, warc_path):
    """columns=('url','warc_ts','text',...) extracts text INSIDE the
    decode mapper (python twin) — output must equal the full path's
    JVM extraction byte-for-byte, with no html column in the plan."""
    full = warc.read_warc_pages(spark, warc_path).withColumn(
        "text", extract_text_col(F.col("html")))
    want = {r.url: (r.warc_ts, r.text) for r in full.collect()}
    txt = warc.read_warc_pages_text(spark, warc_path)
    assert "html" not in txt.columns
    rows = txt.collect()
    assert {r.url: (r.warc_ts, r.text) for r in rows} == want
    lang = {r.url: r.lang for r in
            warc.read_warc_pages_full(spark, warc_path).collect()}
    assert {r.url: r.lang for r in rows} == lang


def test_extract_text_py_twin_parity(spark):
    """The python extractor twin must be byte-identical to the JVM
    column on adversarial html, not just the fixture corpus."""
    from osm_spark.operators import textops as TX

    cases = [
        b"<html><head><title>x</title></head><body>a &amp; b</body></html>",
        b"<p>&lt;tag&gt; &amp;amp; deep</p>",
        "<div>unicode é中文</div>".encode(),
        b"no tags at all",
        b"<head>only head</head>",
        b"<a href='x>y'>weird</a> trailing <unclosed",
        b"",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "html binary")
    jvm = [r.t for r in df.select(
        extract_text_col(F.col("html")).alias("t")).collect()]
    py = [TX.extract_text_py(c) for c in cases]
    assert py == jvm


def test_distributed_gz_walk_matches_serial(spark, tmp_path, monkeypatch):
    """Chunked member-resync walk (ranges + magic verify) must produce
    exactly the serial walker's (offset, size) set."""
    p = str(tmp_path / "dist.warc.gz")
    _write_scaled(p, n_pages=300, text_repeat=3)
    import os as _os
    _os.remove(p + ".cdx") if _os.path.exists(p + ".cdx") else None
    serial = {(o, s) for o, s, _ in iter_warc_index(p)}
    # chunk far smaller than the file so many ranges must resync
    fsize = _os.path.getsize(p)
    monkeypatch.setattr(warc, "_WALK_CHUNK", max(fsize // 7, 1024))
    dist = {(o, s) for o, s, _ in warc.warc_index_gz_distributed(spark, p)}
    assert dist == serial and len(serial) > 100


def test_large_gz_auto_uses_distributed_walk(spark, tmp_path, monkeypatch):
    """warc_index switches to the distributed walk above the size
    threshold; decode output is unchanged."""
    p = str(tmp_path / "auto.warc.gz")
    WF.write_sample(p)
    import os as _os
    if _os.path.exists(p + ".cdx"):
        _os.remove(p + ".cdx")
    monkeypatch.setattr(warc, "WALK_DISTRIBUTED_MIN", 1)
    idx = warc.warc_index(spark, p)
    assert idx.count() == 1 + 2 * WF.N_PAGES
    assert warc.read_warc_pages(spark, p, ).count() > 0


_BAD_RECORDS = {
    "no_header_terminator": b"garbage",
    "no_content_length": b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody",
    "non_numeric_content_length":
        b"WARC/1.0\r\nContent-Length: 12abc\r\n\r\nbody",
    "negative_content_length": b"WARC/1.0\r\nContent-Length: -9\r\n\r\nbody",
}


@pytest.mark.parametrize("raw", _BAD_RECORDS.values(), ids=_BAD_RECORDS)
def test_decode_record_untrusted_bytes_raise_value_error(raw):
    with pytest.raises(ValueError):
        warc.decode_record(raw)


@pytest.mark.parametrize("name", ["no_content_length",
                                  "non_numeric_content_length",
                                  "negative_content_length"])
def test_plain_index_walk_bad_content_length_raises(tmp_path, name):
    p = tmp_path / "bad.warc"
    p.write_bytes(_BAD_RECORDS[name] + b"\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_index(str(p)))


def test_plain_index_walk_content_length_past_eof_raises(tmp_path):
    """A Content-Length that runs past the end of the file (truncated
    file, or a huge number that no seek can take) is a ValueError."""
    p = tmp_path / "bad.warc"
    for clen in ("999", "9" * 40):
        p.write_bytes(b"WARC/1.0\r\nContent-Length: " + clen.encode()
                      + b"\r\n\r\nbody\r\n\r\n")
        with pytest.raises(ValueError, match="past the end"):
            list(iter_warc_index(str(p)))


def _flip(path: str, at: int, n: int) -> None:
    with open(path, "r+b") as f:
        f.seek(at)
        chunk = f.read(n)
        f.seek(at)
        f.write(bytes(b ^ 0xFF for b in chunk))


def test_gz_walk_corrupt_member_raises_value_error(tmp_path):
    """The serial gzip walk names the corrupt member's offset in a
    ValueError (not a bare zlib.error)."""
    p = WF.write_sample(str(tmp_path / "c.warc.gz"))
    off, size, _ = list(iter_warc_index(p))[3]
    _flip(p, off + size // 2, 20)
    with pytest.raises(ValueError, match=f"offset {off}"):
        list(iter_warc_index(p))


@pytest.mark.parametrize("case", ["corrupt_member", "size_cuts_member"])
def test_decode_bad_member_raises_value_error(tmp_path, case):
    """A corrupt gzip member, or a cdx size that cuts through one,
    fails the decode mapper with a ValueError naming the offset."""
    import pandas as pd

    p = WF.write_sample(str(tmp_path / "d.warc.gz"))
    off, size, _ = list(iter_warc_index(p))[3]
    if case == "corrupt_member":
        _flip(p, off + size // 2, 20)
    else:
        size -= 5
    pdf = pd.DataFrame({"offset": [off], "size": [size],
                        "compressed": [True]})
    with pytest.raises(ValueError, match=f"offset {off}"):
        warc._decode_pdf(p, pdf)


@pytest.fixture()
def scaled_gz(tmp_path):
    """(path, cdx rows) of a 301-record .warc.gz; its cdx side file
    exists."""
    p = _write_scaled(str(tmp_path / "sc.warc.gz"), n_pages=301,
                      text_repeat=3)
    return p, list(iter_warc_index(p))


@pytest.fixture(params=["warc", "pbf", "shp"])
def source(request, tmp_path):
    """(decode, path, index rows) of one byte-range source: the
    301-record .warc.gz, the 3-blob sample PBF, a 301-record
    shapefile."""
    if request.param == "warc":
        return warc.decode_records, *request.getfixturevalue("scaled_gz")
    if request.param == "pbf":
        p = str(tmp_path / "sample.osm.pbf")
        pbf_fixture.write_sample_pbf(p)
        rows = [(o, n) for t, o, n in pbf.iter_blob_index(p)
                if t == "OSMData"]
        return pbf.decode_blocks, p, rows
    p = str(tmp_path / "lines.shp")
    SF.write_shp(p, [(SHP.POLYLINE, [[(i * 0.01, 1.0), (i * 0.01, 2.0)]])
                     for i in range(301)])
    return SHP.read_shp, p, list(SHP.iter_record_index(p))


def test_decode_plan_has_no_exchange(spark, source):
    decode, p, _rows = source
    plan = executed_plan(decode(spark, p))
    assert "MapInPandas" in plan and "Exchange" not in plan


def test_index_slices_are_contiguous_and_balanced(spark, source,
                                                  monkeypatch):
    """Each index partition — the decode task's input — is one
    contiguous offset range, there are min(records,
    defaultParallelism) of them, and their sizes differ by <= 1 row."""
    decode, p, rows = source
    seen = []
    real = ranges.offset_index

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    monkeypatch.setattr(ranges, "offset_index", spy)
    decode(spark, p)
    parts = seen[0].rdd.glom().collect()
    assert len(parts) == min(len(rows), spark.sparkContext.defaultParallelism)
    assert [tuple(r) for part in parts for r in part] == sorted(rows)
    sizes = [len(part) for part in parts]
    assert max(sizes) - min(sizes) <= 1


def test_index_sources_decode_identically(spark, scaled_gz, monkeypatch):
    """cdx, serial-walk and distributed-walk indexes of one file give
    the identical decode output."""
    import os

    p, _rows = scaled_gz
    via_cdx = warc.decode_records(spark, p).collect()
    os.remove(p + ".cdx")
    serial = warc.decode_records(spark, p).collect()
    monkeypatch.setattr(warc, "WALK_DISTRIBUTED_MIN", 1)
    monkeypatch.setattr(warc, "_WALK_CHUNK", os.path.getsize(p) // 5)
    dist = warc.decode_records(spark, p).collect()
    assert len(via_cdx) == 301
    assert serial == via_cdx and dist == via_cdx

"""Hilbert clustering (storage pruning evidence) + multimodal plumbing
tests + embedding near-dup oracle check."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark import fixtures as FX
from osm_spark.operators import multimodal as MM
from osm_spark.operators import similarity as SIM
from osm_spark.operators.cluster import cluster_by_hilbert
from osm_spark.operators.geocode import geocode_ids

from kernel_oracles import cosine_near_dup

SF = "/root/testdata/sf0.001"


def _docs_geo(spark, n=2000):
    return geocode_ids(
        spark.range(n).withColumnRenamed("id", "doc_id"), "doc_id")


def test_hilbert_key_locality(spark):
    # neighbors in hilbert order are spatial neighbors: mean step
    # distance under hilbert order far below random order
    from osm_spark.geo import kernels as K

    rows = _docs_geo(spark, 2000).collect()
    la = np.array([r.lat for r in rows])
    lo = np.array([r.lon for r in rows])
    hk = K.hilbert_key(la, lo)
    o = np.argsort(hk)
    step_h = np.abs(np.diff(la[o])) + np.abs(np.diff(lo[o]))
    step_r = np.abs(np.diff(la)) + np.abs(np.diff(lo))
    assert step_h.mean() < step_r.mean() / 5


def test_cluster_write_prunes_row_groups(spark, tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "clustered")
    cluster_by_hilbert(_docs_geo(spark, 20000), n_partitions=16) \
        .write.mode("overwrite").parquet(out)
    # per-file lat/lon extents must be tight: total covered area of the
    # files' bboxes << global bbox * n_files (that's what min/max stats
    # prune on)
    import glob

    spans = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            cols = {md.row_group(rg).column(i).path_in_schema:
                    md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)}
            s_lat, s_lon = cols["lat"], cols["lon"]
            spans.append((s_lat.max - s_lat.min) * (s_lon.max - s_lon.min))
    world = FX.SPAN * FX.SPAN
    assert len(spans) >= 8
    assert sum(spans) < world * len(spans) / 4  # tight vs unclustered


def test_near_dup_matches_numpy_oracle(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {(r.id_a, r.id_b) for r in
           cosine_near_dup(emb, threshold=0.8).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([np.floor(np.asarray(r.embedding, np.float64) * SIM.QUANT)
                  for r in rows])
    N = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = N @ N.T
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = int(ids[i]), int(ids[j])
            if a > b:
                a, b = b, a
            if C[i, j] >= 0.8 - 1e-12:
                want.add((a, b))
    # float-boundary pairs may differ by epsilon; require near-equality
    assert len(got ^ want) <= max(1, len(want) // 50)


def test_multimodal_features_and_frames(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    media = MM.attach_fake_media(docs)
    rows = media.collect()
    assert {r.media_type for r in rows} <= {"image/png", "audio/wav", "video/mp4"}
    assert all(len(bytes(r.media)) >= 512 for r in rows)

    feats = MM.byte_histogram_features(media).collect()
    assert len(feats) == 50
    by_id = {r.doc_id: r.features for r in feats}
    # oracle one row
    import hashlib

    r0 = [r for r in docs.collect() if r.doc_id == rows[0].doc_id][0]
    blob = bytes(rows[0].media)
    want = np.bincount(np.frombuffer(blob, np.uint8) >> 4, minlength=16)
    assert by_id[rows[0].doc_id] == want.tolist()
    assert sum(by_id[rows[0].doc_id]) == len(blob)

    frames = MM.sample_frames(media, n_frames=3, frame_bytes=32).collect()
    assert len(frames) == 150
    assert all(len(bytes(f.frame)) == 32 for f in frames)


def test_decode_stub_raises_cleanly(spark):
    """Non-BMP/netpbm payloads without PIL still raise cleanly."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    media = MM.attach_fake_media(docs)
    with pytest.raises(Exception) as ei:
        MM.decode_and_resize(media, 8, 8).collect()
    assert "NotImplementedError" in str(ei.value) or "PIL" in str(ei.value)


def _tiny_bmp(px_rows):
    """Hand-built uncompressed 24bpp BMP (bottom-up rows, padded)."""
    h = len(px_rows)
    w = len(px_rows[0])
    row_bytes = (w * 3 + 3) & ~3
    body = b""
    for row in reversed(px_rows):           # bottom-up storage
        r = b"".join(bytes([b_, g, r_]) for (r_, g, b_) in row)
        body += r + b"\x00" * (row_bytes - len(r))
    off = 14 + 40
    header = (b"BM" + (off + len(body)).to_bytes(4, "little") + b"\x00" * 4
              + off.to_bytes(4, "little"))
    info = ((40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
            + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
            + b"\x00" * 20)
    return header + info + body


def test_numpy_bmp_ppm_decode(spark):
    """Real (numpy-only) decode path: hand-built BMP and P6 payloads
    come back as the exact integer-luma grayscale pixels."""
    import numpy as np

    px = [[(255, 0, 0), (0, 255, 0)],
          [(0, 0, 255), (255, 255, 255)]]     # 2x2 RGB
    lum = [[(299 * r + 587 * g + 114 * b) // 1000 for (r, g, b) in row]
           for row in px]
    bmp = _tiny_bmp(px)
    ppm = (b"P6\n# c\n2 2\n255\n"
           + b"".join(bytes(c) for row in px for c in row))
    media = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(ppm))],
        "doc_id long, media binary")
    got = {r.doc_id: np.frombuffer(bytes(r.pixels), np.uint8).reshape(2, 2)
           for r in MM.decode_and_resize(media, 2, 2).collect()}
    want = np.array(lum, np.uint8)
    assert (got[1] == want).all() and (got[2] == want).all()
    # upscale 2x2 -> 4x4 nearest-neighbor: each pixel becomes a 2x2 block
    up = {r.doc_id: np.frombuffer(bytes(r.pixels), np.uint8).reshape(4, 4)
          for r in MM.decode_and_resize(media, 4, 4).collect()}
    assert (up[1] == np.kron(want, np.ones((2, 2), np.uint8))).all()


def test_ivf_topk_recall_vs_brute(spark):
    """IVF-bucketed ANN: recall@1 vs exact brute force must be high on
    the fixture embeddings, and every returned pair's cosine must equal
    the exact value (same quantized arithmetic)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {r.vec_id: (r.neighbor_id, r.cosine)
             for r in SIM.cosine_topk(emb, k=1).collect()}
    approx = {r.vec_id: (r.neighbor_id, r.cosine)
              for r in SIM.ivf_topk(emb, k=1, n_cells=8, nprobe=3).collect()}
    assert set(approx) == set(exact)  # every vector got a neighbor
    hits = sum(1 for v, (n, _) in approx.items() if exact[v][0] == n)
    assert hits / len(exact) >= 0.6  # recall@1 with 3/8 cells probed
    for v, (n, c) in approx.items():  # cosines are exact where matched
        if exact[v][0] == n:
            assert c == exact[v][1]


def test_dedup_tokens_split_on_any_whitespace(spark):
    """Newline/tab-separated words tokenize the same as spaces, so
    near-dup detection sees identical token sets for the two layouts."""
    from osm_spark.operators.dedup import minhash_signatures, tokens

    df = spark.createDataFrame(
        [(1, "foo bar baz"), (2, "foo\nbar\tbaz"), (3, " foo  bar baz ")],
        "doc_id long, text string")
    toks = tokens(df).groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in toks} == {1: 3, 2: 3, 3: 3}
    sigs = minhash_signatures(df).collect()
    vals = {tuple(r[1:]) for r in sigs}
    assert len(vals) == 1  # identical signatures for all three


def test_minhash_hot_bucket_star_pairing(spark):
    """A degenerate corpus (boilerplate: thousands of identical docs)
    must produce LINEAR candidate output, not the quadratic all-pairs
    set — the hot-bucket guard switches to star pairing against the
    bucket's min id, and connectivity for dedup_components survives."""
    from pyspark.sql import functions as F

    from osm_spark.operators.dedup import minhash_pairs

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page text repeated").alias("text"))
    pairs = minhash_pairs(df, max_bucket=100)
    rows = pairs.collect()
    # star pairing: every doc pairs with doc 0 exactly once -> n-1 pairs
    assert len(rows) == n - 1
    assert {(r.id_a, r.id_b) for r in rows} == {(0, i) for i in range(1, n)}
    # sub-threshold corpora are unchanged by the guard
    small = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc words "), F.col("id").cast("string")).alias("text"))
    capped = {(r.id_a, r.id_b) for r in minhash_pairs(small, max_bucket=100).collect()}
    uncapped = {(r.id_a, r.id_b) for r in minhash_pairs(small, max_bucket=None).collect()}
    assert capped == uncapped


def test_ppm_crlf_and_histogram_bins(spark):
    """CRLF after maxval must not shift the raster by one byte; the
    byte histogram has ``N_HIST_BINS`` bins."""
    import numpy as np

    from osm_spark.operators.multimodal import (N_HIST_BINS,
                                                byte_histogram_features,
                                                decode_ppm_gray)
    px = bytes([10, 20, 30, 40])
    unix = decode_ppm_gray(b"P5 2 2 255\n" + px)
    wind = decode_ppm_gray(b"P5 2 2 255\r\n" + px)
    assert (unix == np.array([[10, 20], [30, 40]])).all()
    assert (wind == unix).all()
    df = spark.createDataFrame([(1, bytearray(b"abc"))],
                               "doc_id long, media binary")
    out = byte_histogram_features(df).collect()
    assert len(out[0].features) == N_HIST_BINS


def test_geocode_negative_and_huge_ids_match_fixture(spark):
    """Spark geocode == numpy fixture for negative and > 2^33 ids (the
    floored, overflow-safe formula on both engines)."""
    from osm_spark import fixtures as FX
    from osm_spark.operators.geocode import geocode_ids

    ids = [1, -1, -999999, 2**40, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: (r.lat, r.lon)
           for r in geocode_ids(df, "doc_id").collect()}
    la, lo = FX.geocode_ints(ids)
    assert got == {i: (a, o) for i, a, o in zip(ids, la.tolist(), lo.tolist())}


def _encode_png(img, ctype, filters, plte=None):
    """Independent test-side PNG encoder: applies the SPEC's forward
    filters (the inverse of the decoder under test) with a chosen
    filter type per row."""
    import zlib

    import numpy as np

    h, w = img.shape[:2]
    nch = 1 if img.ndim == 2 else img.shape[2]
    px = img.reshape(h, w * nch).astype(np.int32)
    bpp = nch
    raw = bytearray()
    prev = np.zeros(w * nch, np.int32)
    for y in range(h):
        cur = px[y]
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(w * nch):
            a = int(cur[x - bpp]) if x >= bpp else 0
            bb = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = bb
            elif f == 3:
                pred = (a + bb) >> 1
            else:
                pa, pb, pc = abs(bb - c), abs(a - c), abs(a + bb - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (bb if pb <= pc else c)
            raw.append((int(cur[x]) - pred) & 0xFF)
        prev = cur

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + zlib.crc32(typ + data).to_bytes(4, "big"))

    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, ctype, 0, 0, 0]))
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte.reshape(-1)))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_png_decode_all_filters_golden():
    """Golden-pixel round trip through every PNG filter type (0-4) and
    color types gray/RGB/palette/gray+alpha/RGBA, against an
    independent spec-forward encoder."""
    import numpy as np

    from osm_spark.operators.multimodal import decode_png_gray

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (10, 9), dtype=np.uint8)
    # one row per filter type, then wrap
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_png_gray(_encode_png(gray, 0, filters))
        assert (got == gray).all(), filters

    rgb = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    r32 = rgb.astype(np.uint32)   # NEP-50: 587*uint8 would wrap mod 256
    want = ((299 * r32[:, :, 0] + 587 * r32[:, :, 1]
             + 114 * r32[:, :, 2]) // 1000).astype(np.uint8)
    got = decode_png_gray(_encode_png(rgb, 2, [0, 1, 2, 3, 4]))
    assert (got == want).all()

    # palette: indices map through PLTE then the same luma
    plte = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 6), dtype=np.uint8)
    p32 = plte[idx].astype(np.uint32)
    pwant = ((299 * p32[:, :, 0] + 587 * p32[:, :, 1]
              + 114 * p32[:, :, 2]) // 1000).astype(np.uint8)
    got = decode_png_gray(_encode_png(idx, 3, [0, 1, 4], plte=plte))
    assert (got == pwant).all()

    # gray+alpha and RGBA: alpha ignored
    ga = rng.integers(0, 256, (5, 4, 2), dtype=np.uint8)
    got = decode_png_gray(_encode_png(ga, 4, [4, 3, 2, 1, 0]))
    assert (got == ga[:, :, 0]).all()
    rgba = rng.integers(0, 256, (5, 4, 4), dtype=np.uint8)
    a32 = rgba.astype(np.uint32)
    want = ((299 * a32[:, :, 0] + 587 * a32[:, :, 1]
             + 114 * a32[:, :, 2]) // 1000).astype(np.uint8)
    got = decode_png_gray(_encode_png(rgba, 6, [1, 4, 3]))
    assert (got == want).all()

    # interlaced and 16-bit are out of scope and must raise, not corrupt
    import pytest as _pytest
    bad = bytearray(_encode_png(gray, 0, [0]))
    bad[28] = 1                          # interlace flag inside IHDR
    with _pytest.raises(ValueError, match="interlaced"):
        decode_png_gray(bytes(bad))


def test_png_decode_through_spark_mapper(spark):
    """PNG payloads flow through decode_and_resize's real (non-fake)
    mapInPandas path."""
    import numpy as np

    from osm_spark.operators import multimodal as MM

    rng = np.random.default_rng(11)
    rows = []
    for i in range(8):
        img = rng.integers(0, 256, (12 + i, 10), dtype=np.uint8)
        rows.append((i, bytearray(_encode_png(img, 0, [i % 5])), img))
    df = spark.createDataFrame([(i, m) for i, m, _ in rows],
                               "doc_id long, media binary")
    got = {r.doc_id: bytes(r.pixels)
           for r in MM.decode_and_resize(df, 6, 5).collect()}
    for i, _m, img in rows:
        want = MM.resize_nearest(img, 6, 5).tobytes()
        assert got[i] == want, i


def test_jpeg_codec_roundtrip_and_golden(spark):
    """Baseline JPEG: numpy-only encoder/decoder round-trip within
    quantization error on smooth images; the engine fixture decodes to
    pinned golden pixels (same literals the mm_media oracle carries);
    decode_and_resize routes FFD8 payloads through the numpy decoder
    without PIL."""
    import numpy as np

    import __spark_entry__ as entry
    from osm_spark.operators import multimodal as MM
    from osm_spark.operators.jpeg import decode_jpeg_gray, encode_baseline

    # round-trip: smooth gradient, gray and 4:2:0 color
    yy, xx = np.mgrid[0:40, 0:56]
    gray = ((xx * 2 + yy) % 180).astype(np.uint8)
    out = decode_jpeg_gray(encode_baseline(gray, quality=92))
    assert out.shape == gray.shape
    # interior (away from the single mod-wrap edge) stays tight
    assert np.abs(out[2:-2, 2:-2].astype(int)
                  - gray[2:-2, 2:-2].astype(int)).mean() < 3.0
    rgb = np.stack([gray, gray // 2 + 30, 255 - gray], -1)
    yref = (0.299 * rgb[:, :, 0].astype(float)
            + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2])
    outc = decode_jpeg_gray(encode_baseline(rgb, quality=90, subsample=True))
    assert np.abs(outc.astype(float) - yref).mean() < 4.0

    # pinned goldens, shared with the mm_media driver oracle
    for i, want in entry.MM_JPEG_GOLDENS.items():
        got = MM.resize_nearest(
            decode_jpeg_gray(MM.jpeg_fixture(i)), 8, 6).tobytes().hex().upper()
        assert got == want, i

    # through the Spark mapper (no PIL in this container)
    df = spark.createDataFrame(
        [(7, bytearray(MM.jpeg_fixture(0)))], "doc_id long, media binary")
    row = MM.decode_and_resize(df, 8, 6).collect()[0]
    assert bytes(row.pixels).hex().upper() == entry.MM_JPEG_GOLDENS[0]

    # restart markers: DRI=1 emits an RSTn after every MCU (byte-align,
    # predictor reset); the decode must be bit-identical to the no-DRI
    # stream's, for gray (4 MCUs) and 4:2:0 color (1 MCU boundary)
    b_plain = encode_baseline(gray[:16, :16], quality=80)
    b_rst = encode_baseline(gray[:16, :16], quality=80, dri=1)
    assert b"\xff\xd0" in b_rst and b"\xff\xd0" not in b_plain
    assert np.array_equal(decode_jpeg_gray(b_rst), decode_jpeg_gray(b_plain))
    c_rst = encode_baseline(rgb, quality=90, subsample=True, dri=1)
    assert np.array_equal(decode_jpeg_gray(c_rst), outc)


def test_jpeg_truncated_scan_raises_clean_error():
    """A truncated entropy segment (partial download) must surface as a
    labelled ValueError — never the raw 'negative shift count' the bit
    reader used to hit when _fill stopped at an early EOI — and the
    1-bit pad keeps genuinely-complete streams decoding as before."""
    import numpy as np
    import pytest

    from osm_spark.operators.jpeg import decode_jpeg_gray, encode_baseline

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (64, 64)).astype(np.uint8)
    b = encode_baseline(img, quality=85)
    cut = b.find(b"\xff\xda") + 200
    with pytest.raises(ValueError, match="JPEG"):
        decode_jpeg_gray(b[:cut] + b"\xff\xd9")
    assert decode_jpeg_gray(b).shape == (64, 64)


def test_jpeg_bad_sampling_factor_raises_clean_error():
    """A SOF0 sampling byte outside 1..2 (0 used to divide by zero in the
    MCU geometry) is a labelled ValueError."""
    import numpy as np
    import pytest

    from osm_spark.operators.jpeg import decode_jpeg_gray, encode_baseline

    good = encode_baseline(np.zeros((16, 16), np.uint8), quality=85)
    hv = good.find(b"\xff\xc0") + 11       # first component's (h << 4) | v
    assert good[hv] == 0x11
    for byte in (0x00, 0x01, 0x10, 0x31):
        bad = bytearray(good)
        bad[hv] = byte
        with pytest.raises(ValueError, match="sampling"):
            decode_jpeg_gray(bytes(bad))


def test_jpeg_encode_rejects_out_of_range_dri():
    import numpy as np
    import pytest

    from osm_spark.operators.jpeg import encode_baseline

    img = np.zeros((16, 16), np.uint8)
    for dri in (-1, 0x10000):
        with pytest.raises(ValueError, match="restart interval"):
            encode_baseline(img, dri=dri)
    assert encode_baseline(img, dri=0xFFFF)


def test_jpeg_restart_marker_checked_at_interval_boundary():
    """RSTn is accepted only where the interval's entropy data ends
    (0xFF fill bytes allowed) and only with the expected number
    0xD0 + (i & 7): a swapped number or a marker moved a few bytes either
    way raises ValueError; an untouched stream still roundtrips."""
    import numpy as np
    import pytest

    from osm_spark.operators.jpeg import decode_jpeg_gray, encode_baseline

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (32, 48)).astype(np.uint8)
    plain = decode_jpeg_gray(encode_baseline(img, quality=80))
    b = encode_baseline(img, quality=80, dri=2)
    assert np.array_equal(decode_jpeg_gray(b), plain)
    sos = b.find(b"\xff\xda")
    marks = [i for i in range(sos, len(b) - 1)
             if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7]
    assert len(marks) == 11
    filled = bytearray(b)
    filled[marks[3]:marks[3]] = b"\xff\xff"
    assert np.array_equal(decode_jpeg_gray(bytes(filled)), plain)
    for i in marks[:9]:
        swapped = bytearray(b)
        swapped[i + 1] = 0xD0 + ((b[i + 1] + 1) & 7)
        with pytest.raises(ValueError, match="restart marker"):
            decode_jpeg_gray(bytes(swapped))
        for shift in (-3, -1, 1, 2, 3):
            moved = bytearray(b)
            del moved[i:i + 2]
            moved[i + shift:i + shift] = b[i:i + 2]
            with pytest.raises(ValueError):
                decode_jpeg_gray(bytes(moved))


def test_jpeg_corrupt_streams_route_to_fallback(spark):
    """Corrupt (not merely truncated) streams raise KeyError/IndexError/
    ValueError from the parser — decode_and_resize must catch ALL of
    them per payload and fall back (here: no PIL, so the guarded raise),
    never kill the Spark task with an uncaught per-row exception."""
    import numpy as np
    import pytest

    from osm_spark.operators import multimodal as MM
    from osm_spark.operators.jpeg import decode_jpeg_gray, encode_baseline

    img = (np.arange(64 * 64, dtype=np.uint32) % 251).astype(
        np.uint8).reshape(64, 64)
    good = encode_baseline(img, quality=85)

    # SOS names Huffman table 3 which no DHT defines -> KeyError
    sos = good.find(b"\xff\xda")
    bad_table = bytearray(good)
    bad_table[sos + 6] = 0x33
    with pytest.raises(KeyError):
        decode_jpeg_gray(bytes(bad_table))
    # DHT truncated mid-values -> IndexError
    dht = good.find(b"\xff\xc4")
    with pytest.raises((IndexError, ValueError)):
        decode_jpeg_gray(good[:dht + 8] + good[sos:])
    # every shape above must be caught per-row by decode_and_resize: with
    # no PIL in this container the guard wraps it in a labelled
    # ValueError; an UNCAUGHT KeyError would surface verbatim instead
    df = spark.createDataFrame(
        [(1, bytearray(bytes(bad_table)))], "doc_id long, media binary")
    with pytest.raises(Exception, match="PIL is not available"):
        MM.decode_and_resize(df, 8, 6).collect()


def test_jpeg_bad_ac_symbol_clean_error():
    """A stream whose AC table maps a code to RRRRSSSS with SSSS=0 and
    run 1-14 (illegal per T.81 F.1.2.2) must surface as the labelled
    'bad AC symbol' ValueError — never the raw 'negative shift count'
    _extend(0, 0) would raise."""
    import numpy as np
    import pytest

    from osm_spark.operators.jpeg import (
        HUFF_DC_LUMA, QT_LUMA, _BitWriter, _canonical_codes, _dht_payload,
        _dqt_payload, _seg, decode_jpeg_gray)

    # hand-built 8x8 grayscale: standard DC table, but an AC table whose
    # single 1-bit code decodes to symbol 0x30 (run 3, size 0 = illegal)
    bad_ac = ([1] + [0] * 15, [0x30])
    w = _BitWriter()
    dc_codes = _canonical_codes(*HUFF_DC_LUMA)
    length, code = dc_codes[0]
    w.put(code, length)          # DC diff category 0 (no extra bits)
    w.put(0, 1)                  # AC: 1-bit code -> 0x30
    w.flush()
    b = bytearray(b"\xff\xd8")
    b += _seg(0xDB, _dqt_payload(0, QT_LUMA))
    b += _seg(0xC0, bytes([8]) + (8).to_bytes(2, "big")
              + (8).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    b += _seg(0xC4, _dht_payload(0x00, HUFF_DC_LUMA))
    b += _seg(0xC4, _dht_payload(0x10, bad_ac))
    b += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    b += w.out + b"\xff\xd9"
    with pytest.raises(ValueError, match="bad AC symbol"):
        decode_jpeg_gray(bytes(b))

"""Golden end-to-end test: spatial join of fixture pages vs polygon layer,
compared against a brute-force pure-python PIP oracle (no cells, no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from osm_spark import fixtures as FX
from osm_spark.geo import kernels as K
from osm_spark.operators import spatial_join as SJ
from osm_spark.operators.geocode import geocode_pages
from osm_spark.operators.spatial_join import spatial_join
from osm_spark.sources import ranges as R

from kernel_oracles import executed_plan, flat_layer, new_plans, pages_df

N_PAGES = 400
N_SMALL = 120


def brute_force_matches(page_ids, lats, lons, polys):
    """(page_id, feature_id) set via direct numpy PIP on every polygon."""
    out = set()
    lats = np.asarray(lats)
    lons = np.asarray(lons)
    for p in polys:
        in_outer = np.zeros(len(lats), dtype=bool)
        in_hole = np.zeros(len(lats), dtype=bool)
        for r in p["rings"]:
            flags = K.points_in_ring(lons, lats, np.array(r["lon"]), np.array(r["lat"]))
            if r["role"] == 0:
                in_outer |= flags
            else:
                in_hole |= flags
        for pid in np.asarray(page_ids)[in_outer & ~in_hole].tolist():
            out.add((pid, p["feature_id"]))
    return out


def scratch_layer_join(monkeypatch, pages, polys, **kw):
    """``spatial_join`` on its partitioned path, over the scratch layer
    it writes itself (the measured layer is above a zero vertex limit)."""
    with monkeypatch.context() as m:
        m.setattr(SJ, "BROADCAST_MAX_VERTS", 0)
        return spatial_join(pages, polys, **kw)


@pytest.fixture(scope="module")
def fixture_data(spark):
    pages = pages_df(spark, N_PAGES)
    polys = FX.polygons_df(spark, N_SMALL)
    geo = geocode_pages(pages)
    rows = geo.select("page_id", "lat", "lon").collect()
    pids = [r.page_id for r in rows]
    lats = [r.lat for r in rows]
    lons = [r.lon for r in rows]
    oracle = brute_force_matches(pids, lats, lons, FX.all_polygons(N_SMALL))
    return geo, polys, oracle


@pytest.mark.parametrize(
    "path", ["broadcast", "scratch_layer", "scratch_layer_salted",
             "file_uri_layer"])
def test_spatial_join_matches_bruteforce(spark, fixture_data, path,
                                         monkeypatch, tmp_path):
    geo, polys, oracle = fixture_data
    if path == "broadcast":
        df = spatial_join(geo, polys)
    elif path == "scratch_layer":
        # the scratch layer is a new layer under the session's warehouse,
        # where executors on other hosts read it, not in the driver's /tmp
        wh = spark.conf.get("spark.sql.warehouse.dir")
        before = set(R.list_names(wh))
        df = scratch_layer_join(monkeypatch, geo, polys)
        new = sorted(set(R.list_names(wh)) - before)
        assert len(new) == 1 and new[0].startswith("osm_layer_"), new
        assert SJ.is_written_layer(f"{wh}/{new[0]}")
    elif path == "scratch_layer_salted":
        # salting takes a written layer: spatial_join has no salt
        layer = SJ.write_partitioned_layer(polys, str(tmp_path / "layer"))
        df = SJ.spatial_join_partitioned(geo, layer, salt=4)
    else:       # sidecar and layer reads go through the sources' opener
        layer = SJ.write_partitioned_layer(polys, (tmp_path / "l").as_uri())
        assert SJ.is_written_layer(layer)
        df = SJ.spatial_join_partitioned(geo, layer)
    got = {(r.page_id, r.feature_id) for r in df.collect()}
    assert got == oracle
    assert len(got) > N_PAGES * 0.4  # skewed fixture: most pages hit a city


def test_scratch_dir_removed_at_exit(tmp_path):
    """A scratch directory, here under a ``file://`` parent, is deleted
    with everything in it when its interpreter exits."""
    import subprocess
    import sys
    from pathlib import Path

    code = ("import sys; from osm_spark.sources import ranges as R; "
            "p = R.scratch_dir(sys.argv[1], 'osm_layer_'); "
            "R.write_text(p + '/part', 'x'); print(p)")
    out = subprocess.run(
        [sys.executable, "-c", code, tmp_path.as_uri()], check=True,
        capture_output=True, text=True,
        cwd=Path(__file__).resolve().parents[1])
    assert out.stdout.startswith(tmp_path.as_uri() + "/osm_layer_")
    assert list(tmp_path.iterdir()) == []


def test_left_join_keeps_unmatched(spark, fixture_data):
    geo, polys, oracle = fixture_data
    res = spatial_join(geo, polys, how="left").collect()
    matched_pages = {pid for pid, _ in oracle}
    got_null = {r.page_id for r in res if r.feature_id is None}
    all_pages = {r.page_id for r in res}
    assert all_pages == set(range(N_PAGES))
    assert got_null == set(range(N_PAGES)) - matched_pages
    assert got_null  # fixture guarantees some background no-match pages


def test_text_passthrough_byte_identical(spark):
    """North-rule invariant: text survives the pipeline byte-identical."""
    import hashlib

    pdf = FX.generate_pages_range(0, 50)
    before = {u: hashlib.sha256(t.encode()).hexdigest() for u, t in zip(pdf.url, pdf.text)}
    pages = spark.createDataFrame(pdf)
    geo = geocode_pages(pages)
    polys = FX.polygons_df(spark, 10)
    joined = geo.join(spatial_join(geo, polys, how="left"), "page_id", "left")
    after = {r.url: hashlib.sha256(r.text.encode()).hexdigest() for r in joined.select("url", "text").collect()}
    assert after == before


def test_broadcast_and_scratch_layer_paths_agree(spark, monkeypatch):
    """The zero-shuffle broadcast index path and the partitioned path
    over a scratch layer (a layer above ``BROADCAST_MAX_VERTS``) are
    alternative physical plans of the SAME logical join — their match
    sets must be identical."""
    from osm_spark import fixtures as FX
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.spatial_join import spatial_join

    docs = geocode_ids(
        spark.range(1500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 200)
    a = {(r.doc_id, r.feature_id) for r in
         spatial_join(docs, polys, page_key="doc_id").collect()}
    b = {(r.doc_id, r.feature_id) for r in
         scratch_layer_join(monkeypatch, docs, polys,
                            page_key="doc_id").collect()}
    assert a == b
    assert len(a) > 50


def test_partitioned_disk_index_path_agrees(spark, tmp_path):
    """The partitioned disk-index path (layer parquet + per-partition
    range reads) matches the broadcast path exactly — with the hash
    exchange, salted, and in zero-shuffle pages_clustered mode."""
    from osm_spark import fixtures as FX
    from osm_spark.operators.cluster import cluster_by_hilbert
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.spatial_join import (spatial_join,
                                                 spatial_join_partitioned,
                                                 write_partitioned_layer)

    docs = geocode_ids(
        spark.range(1500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 200)
    layer = write_partitioned_layer(polys, str(tmp_path / "layer"))
    a = {(r.doc_id, r.feature_id) for r in
         spatial_join(docs, polys, page_key="doc_id", how="left").collect()}
    for kw in ({}, {"salt": 3}):
        b = {(r.doc_id, r.feature_id) for r in
             spatial_join_partitioned(docs, layer, page_key="doc_id",
                                      how="left", **kw).collect()}
        assert a == b, kw
    # zero-shuffle variant over a Hilbert-clustered pages copy
    clp = str(tmp_path / "docs_hilbert")
    cluster_by_hilbert(docs, 8).drop("hkey").write.parquet(clp)
    docs_c = spark.read.parquet(clp)
    c = {(r.doc_id, r.feature_id) for r in
         spatial_join_partitioned(docs_c, layer, page_key="doc_id",
                                  how="left", pages_clustered=True).collect()}
    assert a == c
    assert len(a) > 50


def test_partitioned_mapper_streams_bounded(spark, tmp_path, monkeypatch):
    """The partitioned-join mapper must not materialize its whole input
    partition (100 TB posture: a partition can be GBs inside one Python
    worker).  With a 1-byte span budget every batch flushes alone — the
    first output row group must be emitted before the mapper has pulled
    the rest of the input — and the match set is unchanged."""
    import numpy as np

    from osm_spark import fixtures as FX
    from osm_spark.operators import spatial_join as SJ
    from osm_spark.operators.geocode import geocode_ids

    docs = geocode_ids(
        spark.range(1500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 200)
    layer = SJ.write_partitioned_layer(polys, str(tmp_path / "layer"))
    a = {(r.doc_id, r.feature_id) for r in
         SJ.spatial_join_partitioned(docs, layer, page_key="doc_id",
                                     how="left").collect()}

    monkeypatch.setattr(SJ, "PJOIN_BATCH_BYTES", 1)
    b = {(r.doc_id, r.feature_id) for r in
         SJ.spatial_join_partitioned(docs, layer, page_key="doc_id",
                                     how="left").collect()}
    assert a == b and len(a) > 50

    # direct generator probe: the mapper is a plain generator function —
    # drive it with a pull-counting input and check it yields output
    # before consuming the whole partition
    import pyarrow as pa

    zc = SJ._read_layer_meta(layer)["zc"]
    pts = docs.select("doc_id", "lat", "lon").toPandas()
    chunks = [pa.RecordBatch.from_pandas(c, preserve_index=False)
              for c in np.array_split(pts, 8) if len(c)]
    pulled = 0

    def gen():
        nonlocal pulled
        for c in chunks:
            pulled += 1
            yield c

    fn = SJ._partitioned_join_mapper(layer, SJ.DEFAULT_CELL_ZOOM, zc,
                                     "left", "doc_id")
    it = fn(gen())
    first = next(it)
    assert len(first)
    assert pulled <= 2, f"mapper pulled {pulled}/8 batches before emitting"
    total = len(first) + sum(len(x) for x in it)
    # how="left": one row per (doc, matched feature) pair plus one per
    # unmatched doc — exactly the Spark-path pair set (docs inside
    # overlapping polygons emit one row per match, so total >= len(pts))
    assert total == len(a)


def test_many_ring_multipolygon_both_paths(spark, monkeypatch):
    """A feature with >16 rings (1 outer + 20 holes) next to a second
    feature: exercises ring identity in the scratch-layer partitioned
    path (round-1 bug: ring_key = feature_id*16 + ring_idx collided
    across features).  Both physical paths must produce the
    hand-computed match set."""
    base_lat, base_lon = FX.LAT0 + 1_000_000, FX.LON0 + 1_000_000
    S = 100_000

    def ring(role, la0, lo0, w):
        return (role,
                [la0, la0, la0 + w, la0 + w, la0],
                [lo0, lo0 + w, lo0 + w, lo0, lo0])

    rings = [ring(0, base_lat, base_lon, 4_000_000)]
    for i in range(20):
        la0 = base_lat + 150_000 + (i % 5) * 700_000
        lo0 = base_lon + 150_000 + (i // 5) * 700_000
        rings.append(ring(1, la0, lo0, S))
    polys = spark.createDataFrame(
        [(7, rings), (8, [ring(0, base_lat, base_lon + 6_000_000, 1_000_000)])],
        "feature_id long, rings array<struct<role:int, lat:array<long>, lon:array<long>>>",
    )
    pts, exp, pid = [], set(), 0
    for i in range(20):  # hole centers → inside a hole → no match
        la = base_lat + 150_000 + (i % 5) * 700_000 + S // 2
        lo = base_lon + 150_000 + (i // 5) * 700_000 + S // 2
        pts.append((pid, la, lo))
        pid += 1
    for i in range(20):  # between holes → match feature 7
        la = base_lat + 500_000 + (i % 5) * 700_000
        lo = base_lon + 500_000 + (i // 5) * 700_000
        pts.append((pid, la, lo))
        exp.add((pid, 7))
        pid += 1
    pts.append((pid, base_lat + 500_000, base_lon + 6_500_000))  # feature 8
    exp.add((pid, 8))
    pts_df = spark.createDataFrame(pts, "doc_id long, lat long, lon long")
    got_b = {(r.doc_id, r.feature_id) for r in spatial_join(
        pts_df, polys, page_key="doc_id").collect()}
    got_c = {(r.doc_id, r.feature_id) for r in scratch_layer_join(
        monkeypatch, pts_df, polys, page_key="doc_id").collect()}
    assert got_b == exp
    assert got_c == exp


def test_suggest_salt_detects_hot_cells(spark):
    """The fixture pages are 70% clustered in 5 city cells — the measured
    salt factor must exceed 1; a uniform layout must return 1."""
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.spatial_join import suggest_salt
    from pyspark.sql import functions as F
    from osm_spark import fixtures as FX

    skewed = pages_df(spark, 4000)
    from osm_spark.operators.geocode import geocode_pages

    s = suggest_salt(geocode_pages(skewed).select("page_id", "lat", "lon"))
    assert s > 1

    uniform = geocode_ids(
        spark.range(4000).withColumnRenamed("id", "doc_id"), "doc_id")
    s_u = suggest_salt(uniform.select("doc_id", "lat", "lon"))
    assert s_u <= max(2, s)  # hash-uniform layout needs (almost) no salt


# ------------------------------------------------- review regressions

def test_degenerate_rings_skipped(spark):
    """0- and 1-vertex rings carry no area and must not corrupt (or
    crash) the packed reduceat segments on either PIP path."""
    import pandas as pd

    from osm_spark.operators.spatial_join import (_build_group_index_packed,
                                                 _pip_pack)

    sq_la = np.array([0, 0, 10**6, 10**6, 0], np.int64)
    sq_lo = np.array([0, 10**6, 10**6, 0, 0], np.int64)
    pt = np.array([5 * 10**5], np.int64)
    # degenerate ring LAST (the crash case) and first
    for rings in ([(0, sq_la, sq_lo), (1, pt, pt)],
                  [(1, pt, pt), (0, sq_la, sq_lo)],
                  [(0, sq_la, sq_lo), (1, np.empty(0, np.int64),
                                       np.empty(0, np.int64))]):
        idx = _build_group_index_packed(flat_layer([(7, rings)]), 12)
        p_idx, fids = _pip_pack(idx, pt, pt)
        assert list(fids) == [7]  # inside; hole ignored
    # all-degenerate feature: empty index, no matches, no crash
    idx = _build_group_index_packed(flat_layer([(9, [(0, pt, pt)])]), 12)
    assert len(_pip_pack(idx, pt, pt)[0]) == 0

    # both features in one layer, flat columns as the layer file has them
    pdf = pd.DataFrame({
        "feature_id": [7, 9],
        "flat_lat": [np.concatenate([sq_la, pt]), pt],
        "flat_lon": [np.concatenate([sq_lo, pt]), pt],
        "lens": [np.array([5, 1], np.int64), np.array([1], np.int64)],
        "roles": [np.array([0, 1], np.int64), np.array([0], np.int64)],
    })
    idx = _build_group_index_packed(pdf, 12)
    hits, fids = _pip_pack(idx, pt, pt)
    assert list(fids) == [7]


def _square_ring(lat0, lon0, half: int, per_side: int):
    """Closed axis-aligned square ring, ``per_side`` edges per side."""
    t = np.arange(4 * per_side + 1) / per_side
    side, f = np.floor(t).astype(int) % 4, t - np.floor(t)
    x = np.choose(side, [-1 + 2 * f, np.ones_like(f), 1 - 2 * f, -np.ones_like(f)])
    y = np.choose(side, [-np.ones_like(f), -1 + 2 * f, np.ones_like(f), 1 - 2 * f])
    return (lat0 + np.round(y * half).astype(np.int64),
            lon0 + np.round(x * half).astype(np.int64))


def test_pip_pack_memory_bounded_by_chunk_in_dense_cell(monkeypatch):
    """A dense cell (200 nested square frames: outer ring + hole, all
    registered in the points' cell) with 2,010 points gives 402k
    candidate (point, polygon) pairs and 804k (pair, ring) segments.
    ``_pip_pack`` cuts the points into chunks of ``PIP_CHUNK`` candidate
    segments, so its peak allocation stays within 160 B per chunk
    element (20 int64 temporaries) + 128 B per point; building every
    pair at once took ~50 MB here.  Chunk sizes down to one element
    leave the matches equal to the per-cell reference."""
    import tracemalloc

    from osm_spark.operators import spatial_join as SJ

    from kernel_oracles import pip_cells_reference

    la0, lo0 = 488_000_000, 23_000_000
    polys = [(k, [(0, *_square_ring(la0, lo0, 100_000 + 100 * k, 2)),
                  (1, *_square_ring(la0, lo0, 50_000 + 100 * k, 1))])
             for k in range(200)]
    rng = np.random.default_rng(0)
    # 2,000 points inside every hole (no match), 10 inside every frame
    la = np.concatenate((la0 + rng.integers(-40_000, 40_000, 2000),
                         np.full(10, la0 + 90_000)))
    lo = np.concatenate((lo0 + rng.integers(-40_000, 40_000, 2000),
                         lo0 + 1000 * np.arange(10)))
    idx = SJ._build_group_index_packed(flat_layer(polys), 12)
    want = pip_cells_reference(polys, la, lo, 12)
    assert len(want) == 10 * 200

    monkeypatch.setattr(SJ, "PIP_CHUNK", 1 << 12)
    tracemalloc.start()
    try:
        hits, fids = SJ._pip_pack(idx, la, lo)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert set(zip(hits.tolist(), fids.tolist())) == want
    assert peak <= 160 * SJ.PIP_CHUNK + 128 * len(la), peak

    for chunk in (1, 3, 700):
        monkeypatch.setattr(SJ, "PIP_CHUNK", chunk)
        hits, fids = SJ._pip_pack(idx, la[-40:], lo[-40:])
        assert set(zip((hits + len(la) - 40).tolist(), fids.tolist())) == want


def test_partitioned_layer_z_mismatch_raises(spark, tmp_path):
    """A layer whose sidecar records another cell zoom than the join
    reads is refused by name instead of matching nothing."""
    from osm_spark.operators.spatial_join import (
        spatial_join_partitioned, write_partitioned_layer)

    path = str(tmp_path / "layer")
    write_partitioned_layer(FX.polygons_df(spark, 5).limit(3), path)
    SJ._write_layer_meta(path, SJ.DEFAULT_CELL_ZOOM + 2, 11)
    pages = geocode_pages(pages_df(spark, 50))
    with pytest.raises(ValueError, match=f"z={SJ.DEFAULT_CELL_ZOOM + 2}"):
        spatial_join_partitioned(pages, path)


def test_partitioned_layer_without_meta_raises(spark, tmp_path):
    """A layer directory without the key-geometry sidecar is refused by
    name instead of guessed at."""
    from osm_spark.operators.spatial_join import spatial_join_partitioned

    path = str(tmp_path / "not_a_layer")
    FX.polygons_df(spark, 3).write.parquet(path)
    pages = geocode_pages(pages_df(spark, 20))
    with pytest.raises(ValueError, match="not_a_layer"):
        spatial_join_partitioned(pages, path)


# ------------------------------------------- JVM routing keys, numpy cells


def _row_boundary(z: int, row: int) -> int:
    """Smallest fixed-point lat numpy puts north of ``row``:
    ``K.tile_y_float(b, z) < row <= K.tile_y_float(b - 1, z)``."""
    lo, hi = -900_000_000, 900_000_000
    assert K.tile_y_float(lo, z) >= row > K.tile_y_float(hi, z)
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if K.tile_y_float(mid, z) < row:
            hi = mid
        else:
            lo = mid
    return hi


def _rect(fid, la0, la1, lo0, lo1):
    return (fid, [(0, [la0, la0, la1, la1, la0], [lo0, lo1, lo1, lo0, lo0])])


def test_row_boundaries_exact_on_every_path(spark, tmp_path, monkeypatch):
    """Points at numpy row boundaries (b-1, b, b+1) of the fine z12 and
    the coarse z9 grid, against rectangles whose bbox edges sit on those
    boundaries: the JVM-routed partitioned, clustered and scratch-layer
    paths return the broadcast path's match set, which is the cell-free PIP;
    and polygon_cells' JVM row span is numpy's, padded."""
    from osm_spark.operators import spatial_join as SJ
    from osm_spark.operators.spatial_join import (polygon_cells,
                                                 spatial_join_partitioned,
                                                 write_partitioned_layer)

    lo0, lo1 = 8_000_000, 9_500_000
    lons = [lo0 - 1, lo0, 8_700_000, lo1, lo1 + 1]
    polys, pts = [], []
    for zi, z in enumerate((12, 9)):
        r0 = int(K.tile_y_float(41_5000000, z))
        bs = [_row_boundary(z, r) for r in range(r0 - 2, r0 + 3)]  # N -> S
        for d, (s, n) in enumerate([(0, 0), (-1, 1), (1, -1), (0, 1)]):
            polys.append(_rect(100 * zi + d, bs[3] + s, bs[1] + n, lo0, lo1))
        polys.append(_rect(100 * zi + 9, bs[4], bs[2], lo0 + 1, lo1 - 1))
        pts += [(b + e, lo) for b in bs for e in (-1, 0, 1) for lo in lons]
    docs = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "doc_id long, lat long, lon long")
    layer_df = spark.createDataFrame(
        polys, "feature_id long, "
        "rings array<struct<role:int, lat:array<long>, lon:array<long>>>")
    oracle = brute_force_matches(
        range(len(pts)), [p[0] for p in pts], [p[1] for p in pts],
        [{"feature_id": f, "rings": [{"role": r, "lat": la, "lon": lo}
                                     for r, la, lo in rs]}
         for f, rs in polys])
    assert len(oracle) > 50

    def pairs(df):
        return {(r.doc_id, r.feature_id) for r in df.collect()}

    layer = write_partitioned_layer(layer_df, str(tmp_path / "layer"))
    got = {
        "broadcast": pairs(spatial_join(docs, layer_df, page_key="doc_id")),
        "scratch_layer": pairs(scratch_layer_join(
            monkeypatch, docs, layer_df, page_key="doc_id")),
    }
    for kw in ({}, {"salt": 3}, {"pages_clustered": True}):
        got[f"partitioned{kw}"] = pairs(spatial_join_partitioned(
            docs, layer, page_key="doc_id", **kw))
    for name, g in got.items():
        assert g == oracle, name

    # the JVM row span is numpy's padded by _CELL_PAD_ROWS each way: it
    # contains numpy's and is one row wider where a bbox edge lies within
    # the pad of a boundary (edges at b do at z9, where 1 fp unit of lat
    # is ~2e-7 rows)
    widened = 0
    for z in (12, 9):
        jvm = {(r.feature_id, r.cx, r.cy)
               for r in polygon_cells(layer_df, z).collect()}
        for fid, [(_, la, lo)] in polys:
            y0, y1 = _mercator_y([max(la), min(la)], z)
            want = set(range(int(np.floor(y0 - SJ._CELL_PAD_ROWS)),
                             int(np.floor(y1 + SJ._CELL_PAD_ROWS)) + 1))
            assert {cy for f, _, cy in jvm if f == fid} == want, (z, fid)
            assert {cx for f, cx, _ in jvm if f == fid} == set(range(
                int(K.tile_x(min(lo), z)), int(K.tile_x(max(lo), z)) + 1))
            widened += len(want) - (int(np.floor(y1)) - int(np.floor(y0)) + 1)
    assert widened > 0


def _mercator_y(lat_fp, z: int) -> np.ndarray:
    """``K.tile_y_float`` before its floor."""
    y = np.asarray(lat_fp).astype(np.float64) * K.CONV
    return (1.0 - np.arcsinh(np.tan(y)) / np.pi) / 2.0 * float(1 << z)


def test_cell_keys_run_no_python_before_exchange(spark, tmp_path):
    """Routing keys are JVM expressions: suggest_salt and
    write_partitioned_layer run no Python UDF, and the partitioned join's
    only Python is its one MapInArrow after an AQE-sized exchange."""
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.spatial_join import (COARSE_SHIFT,
                                                 spatial_join_partitioned,
                                                 suggest_salt,
                                                 write_partitioned_layer)

    docs = geocode_ids(
        spark.range(500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 20)
    path = str(tmp_path / "layer")
    for action in (
            lambda: suggest_salt(docs, z=12 - COARSE_SHIFT),
            lambda: write_partitioned_layer(polys, path)):
        plans = new_plans(spark, action)
        assert plans
        for plan in plans:
            assert "EvalPython" not in plan, plan
    for kw in ({}, {"salt": 3}):
        plan = executed_plan(spatial_join_partitioned(
            docs, path, page_key="doc_id", **kw))
        assert "EvalPython" not in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        assert "REPARTITION_BY_COL" in plan, plan   # no fixed count: AQE sizes it


def test_broadcast_index_bytes_bounded(spark):
    """The pickled CSR broadcast index of the benchmark's 1,500-polygon
    fixture layer stays within its per-element formula (16 B/edge,
    25 B/ring, 40 B/polygon, 8 B/(cell, polygon) registration,
    16 B/cell, 2 kB framing) and within 1,668,524 B, the per-cell
    packed index it replaced (32 B/edge per covering cell)."""
    import pickle

    from osm_spark.operators.spatial_join import broadcast_polygon_index

    idx = broadcast_polygon_index(FX.polygons_df(spark, 1500)).value
    n_ring = len(idx.ring_hole)
    n_edge = len(idx.lat) - n_ring
    n_poly, n_reg, n_cell = len(idx.fids), len(idx.cell_poly), len(idx.keys)
    assert n_edge > 10_000 and n_reg > n_poly      # the layer is non-trivial
    bound = (16 * n_edge + 25 * n_ring + 40 * n_poly + 8 * n_reg
             + 16 * n_cell + 2048)
    size = len(pickle.dumps(idx))
    assert size <= bound, (size, bound)
    assert size <= 1_668_524, size


def test_underivable_geocode_is_null_not_a_task_failure(spark, tmp_path):
    """Urls without a ``page<digits>`` suffix, or with numbers that
    overflow ``long``, geocode to NULL under ANSI casts (no
    CAST_INVALID_INPUT) and pass through a left spatial join with a NULL
    feature_id on the broadcast and the partitioned path."""
    from osm_spark.operators.spatial_join import (spatial_join,
                                                 write_partitioned_layer)

    urls = ["page", "", "https://x.example/page99999999999999999999",
            "https://x.example/en/geo/99999999999999999999/1/page987654321"]
    bad = spark.createDataFrame([(u,) for u in urls], "url string")
    pages = geocode_pages(pages_df(spark, 300).select("url").union(bad))
    got = {r.url: (r.page_id, r.lat, r.lon) for r in pages.collect()}
    for u in urls[:3]:
        assert got[u] == (None, None, None), (u, got[u])
    assert got[urls[3]][0] == 987654321 and got[urls[3]][1] is None
    assert sum(None in v for v in got.values()) == 4

    polys = FX.polygons_df(spark, 30)
    layer = write_partitioned_layer(polys, str(tmp_path / "layer"))
    want = {r.page_id for r in spatial_join(
        pages.where("page_id IS NOT NULL AND lat IS NOT NULL"), polys,
        how="inner").collect()}
    assert want
    for join in (spatial_join(pages, polys, how="left"),
                 SJ.spatial_join_partitioned(pages, layer, how="left")):
        rows = join.collect()
        assert sorted((r.page_id is None, r.feature_id is None)
                      for r in rows if r.page_id is None) == [(True, True)] * 3
        assert {r.page_id for r in rows if r.feature_id is not None} == want
        assert [r.feature_id for r in rows if r.page_id == 987654321] == [None]


def test_unmaterialized_layer_takes_partitioned_path(spark, monkeypatch):
    """A join whose measured vertex count is above ``BROADCAST_MAX_VERTS``
    writes a scratch layer and runs the partitioned mapper: one
    MapInArrow after a cell-key exchange, no grouped-map cogroup, and
    the broadcast path's match set."""
    from osm_spark.operators.geocode import geocode_ids

    docs = geocode_ids(
        spark.range(1500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 200)

    def pairs(df):
        return {(r.doc_id, r.feature_id) for r in df.collect()}

    want = pairs(SJ.spatial_join(docs, polys, page_key="doc_id", how="left"))
    assert len(want) > 50
    monkeypatch.setattr(SJ, "BROADCAST_MAX_VERTS", 10)
    df = SJ.spatial_join(docs, polys, page_key="doc_id", how="left")
    plan = executed_plan(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "REPARTITION_BY_COL" in plan, plan
    assert pairs(df) == want


@pytest.mark.parametrize("how", ["outer", "leftouter", "right", "LEFT"])
def test_unsupported_how_raises(spark, tmp_path, monkeypatch, how):
    """Only 'inner' and 'left' exist; any other ``how`` is refused by
    name on every path instead of silently running an inner join."""
    from osm_spark.operators.spatial_join import (spatial_join,
                                                 spatial_join_partitioned,
                                                 write_partitioned_layer)

    polys = FX.polygons_df(spark, 5)
    layer = write_partitioned_layer(polys, str(tmp_path / "layer"))
    pages = geocode_pages(pages_df(spark, 20))
    for join in (
            lambda: spatial_join(pages, polys, how=how),
            lambda: scratch_layer_join(monkeypatch, pages, polys, how=how),
            lambda: spatial_join_partitioned(pages, layer, how=how)):
        with pytest.raises(ValueError, match=f"'{how}'"):
            join()

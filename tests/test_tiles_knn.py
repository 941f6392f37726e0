"""Golden tests for tile assignment and kNN join vs pure-python oracles."""

from __future__ import annotations

import numpy as np
import pytest

from osm_spark import fixtures as FX
from osm_spark.geo import kernels as K
from osm_spark.operators import knn as KNN
from osm_spark.operators import tiles as T
from osm_spark.operators.geocode import geocode_ids, geocode_pages
from osm_spark.operators.knn import brute_force_knn, knn_join

from kernel_oracles import dp_scalar, pages_df

N_PAGES = 300


@pytest.fixture(scope="module")
def geo_pages(spark):
    return geocode_pages(pages_df(spark, N_PAGES))


def test_page_tiles_match_kernel(spark, geo_pages):
    rows = geo_pages.select("page_id", "lat", "lon").collect()
    got = {
        (r.page_id, r.z, r.x, r.y)
        for r in T.page_tiles(geo_pages, zooms=(6, 12)).collect()
    }
    want = set()
    for r in rows:
        for z in (6, 12):
            want.add((r.page_id, z, int(K.tile_x(r.lon, z)), int(K.tile_y_float(r.lat, z))))
    assert got == want


def test_page_tiles_exact_range_join_agrees(spark, geo_pages):
    rows_df = T.tile_y_rows_df(spark, 12, FX.LAT0, FX.LAT0 + FX.SPAN)
    got = {
        (r.page_id, r.x, r.y)
        for r in T.page_tiles_exact(geo_pages, rows_df).collect()
    }
    via_float = {
        (r.page_id, r.x, r.y)
        for r in T.page_tiles(geo_pages, zooms=(12,)).collect()
    }
    assert got == via_float


def feature_tiles_oracle(polys, zooms):
    out = set()
    for p in polys:
        rings = [
            (np.asarray(r["lat"], np.int64), np.asarray(r["lon"], np.int64), r["role"])
            for r in p["rings"]
        ]
        area = sum(K.polygon_area(lo, la) for la, lo, _ in rings)
        is_small = area <= T.SMALL_AREA or (area <= 50_000_000 and p["category"] == T.BUILDING_CAT)
        def tiles_of(rgs, z, band):
            la = np.concatenate([r[0] for r in rgs])
            lo = np.concatenate([r[1] for r in rgs])
            for x in range(int(K.tile_x(lo.min(), z)), int(K.tile_x(lo.max(), z)) + 1):
                for y in range(int(K.tile_y_float(la.max(), z)), int(K.tile_y_float(la.min(), z)) + 1):
                    out.add((p["feature_id"], band, z, x, y))
        tiles_of(rings, 14, "small" if is_small else "large")
        for z in zooms:
            cutoff, ratio = T.band_params(z)
            if area >= cutoff:
                simp = []
                ok = True
                for la, lo, role in rings:
                    m = dp_scalar(ratio, la, lo)
                    sla, slo = la[m], lo[m]
                    if role == 0 and len(sla) < 4:
                        ok = False
                    simp.append((sla, slo, role))
                if ok:
                    tiles_of(simp, z, str(z))
    return out


def test_feature_tiles_match_oracle(spark):
    n_small = 40
    polys = FX.polygons_df(spark, n_small)
    got = {
        (r.feature_id, r.band, r.z, r.x, r.y)
        for r in T.feature_tiles(polys).collect()
    }
    want = feature_tiles_oracle(FX.all_polygons(n_small), T.ZOOM_BANDS)
    assert got == want
    bands = {b for _, b, _, _, _ in got}
    assert {"small", "large"} <= bands  # size-class split exercised
    assert "6" in bands  # the huge polygon survives the z6 cutoff


def test_zoom_cutoff_filters_small_features(spark):
    polys = FX.polygons_df(spark, 30)
    ft = T.feature_tiles(polys)
    z6_feats = {r.feature_id for r in ft.filter("band = '6'").collect()}
    # small buildings must not appear at z6; cities + the huge one may
    assert all(f < 5 or f >= 35 for f in z6_feats), z6_feats


def test_knn_exact_matches_bruteforce(spark, geo_pages):
    feats = geocode_ids(
        spark.range(40).withColumnRenamed("id", "feature_id"), "feature_id"
    )
    got = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in knn_join(geo_pages, feats, k=2, cell_zoom=8, radius=2).collect()
    }
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(geo_pages, feats, k=2).collect()
    }
    assert got == want
    assert len({p for p, *_ in got}) == N_PAGES


def test_knn_sparse_features_fallback(spark, geo_pages):
    # only 2 features: almost every point is uncertified -> brute force path
    feats = geocode_ids(spark.range(2).withColumnRenamed("id", "feature_id"), "feature_id")
    got = {
        (r.page_id, r.feature_id)
        for r in knn_join(geo_pages, feats, k=1, cell_zoom=8, radius=1).collect()
    }
    want = {
        (r.page_id, r.feature_id)
        for r in brute_force_knn(geo_pages, feats, k=1).collect()
    }
    assert got == want


def test_knn_cells_exact_expanding_rings(spark, geo_pages, monkeypatch):
    """Force the cell path with features so sparse that round-1
    certification fails for most points: expanding-ring retries (and the
    residue brute) must still match the brute-force oracle exactly.
    Only the last round collects the residue (up to
    ``BRUTE_RESIDUE_LIMIT`` + 1 points); an earlier round collects one
    row, to see whether any point is left (a ``collect`` spy)."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    feats = geocode_ids(spark.range(3).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    cls = type(geo_pages)
    collect, sizes = cls.collect, []

    def spy(df):
        rows = collect(df)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    out = knn_join(geo_pages, feats, k=1, cell_zoom=8, radius=1)
    monkeypatch.setattr(cls, "collect", collect)
    # the lat range, then one probe per round: round 0 left points
    assert len(sizes) >= 3 and sizes[1] == 1
    assert all(n <= 1 for n in sizes[:-1]), sizes
    got = {(r.page_id, r.rank, r.feature_id, r.dist2) for r in out.collect()}
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(geo_pages, feats, k=1).collect()
    }
    assert got == want
    assert len({p for p, *_ in got}) == N_PAGES


def test_knn_cells_certify_all_in_first_round(spark, monkeypatch):
    """400 points x 64 features (the cost ledger's ``knn_join_cells``
    input): every point certifies in the first ring round, so the
    residue pass never runs.  A round that certified nothing would
    still answer exactly, through the residue, so the answer check
    alone cannot see it."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    residue_calls = []
    brute = KNN._residue_brute
    monkeypatch.setattr(KNN, "_residue_brute",
                        lambda *a: residue_calls.append(a) or brute(*a))
    pts = geocode_pages(pages_df(spark, 400))
    feats = geocode_ids(spark.range(64).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    got = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in knn_join(pts, feats, k=1, cell_zoom=8, radius=2).collect()
    }
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(pts, feats, k=1).collect()
    }
    assert got == want
    assert residue_calls == []


def test_knn_cells_exact_residue_only(spark, geo_pages, monkeypatch):
    """MAX_EXPANSIONS=0: every uncertified point goes through the
    reverse-broadcast residue kernel (feature layer never broadcast);
    results still exact."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    monkeypatch.setattr(KNN, "MAX_EXPANSIONS", 0)
    feats = geocode_ids(spark.range(3).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    got = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in knn_join(geo_pages, feats, k=2, cell_zoom=8,
                          radius=1).collect()
    }
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(geo_pages, feats, k=2).collect()
    }
    assert got == want


def test_knn_residue_guard_raises(spark, geo_pages, monkeypatch):
    """A residue bigger than BRUTE_RESIDUE_LIMIT raises instead of
    risking a quadratic pass."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    monkeypatch.setattr(KNN, "MAX_EXPANSIONS", 0)
    monkeypatch.setattr(KNN, "BRUTE_RESIDUE_LIMIT", 5)
    feats = geocode_ids(spark.range(2).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    with pytest.raises(ValueError, match="uncertified"):
        knn_join(geo_pages, feats, k=1, cell_zoom=8, radius=1)


def test_knn_cell_path_antimeridian(spark, monkeypatch):
    """Cell-ring candidates wrap at ±180°: a point at lon +179.99°
    finds a feature at -179.99° as its nearest neighbor."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    pts = spark.createDataFrame(
        [(1, 100_000_000, 1_799_900_000)], "doc_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(7, 100_000_000, -1_799_900_000),   # 0.02° across the seam
         (8, 100_000_000, 1_500_000_000)],   # 30° away on the same side
        "feature_id long, lat long, lon long")
    out = knn_join(pts, feats, k=1, cell_zoom=6, radius=1,
                   key="doc_id").collect()
    assert out and out[0].feature_id == 7


@pytest.mark.parametrize("limits", [
    {},
    {"BROADCAST_FEATURE_LIMIT": 0},
    {"BROADCAST_FEATURE_LIMIT": 0, "MAX_EXPANSIONS": 0},
], ids=["broadcast", "cells", "residue"])
def test_knn_antimeridian_paths(spark, monkeypatch, limits):
    """Each path measures dlon across the ±180° seam: points at +179.99°
    and -179.98° against features on both sides agree with the
    brute-force oracle (the block kernel's wrap fold on the broadcast
    and residue paths, the ring wrap on the cell rounds)."""
    for name, value in limits.items():
        monkeypatch.setattr(KNN, name, value)
    pts = spark.createDataFrame(
        [(1, 100_000_000, 1_799_900_000), (2, -200_000_000, -1_799_800_000)],
        "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(7, 100_000_000, -1_799_900_000),    # 0.02° east of point 1
         (8, 100_000_000, 1_500_000_000),     # 29.99° west of point 1
         (9, -200_000_000, 1_795_000_000),    # 0.52° west of point 2
         (10, -200_000_000, -1_600_000_000)],  # 19.98° east of point 2
        "feature_id long, lat long, lon long")
    got = {(r.page_id, r.rank, r.feature_id, r.dist2)
           for r in knn_join(pts, feats, k=2, cell_zoom=6,
                             radius=1).collect()}
    want = {(r.page_id, r.rank, r.feature_id, r.dist2)
            for r in brute_force_knn(pts, feats, k=2).collect()}
    assert got == want
    assert {(p, f) for p, rank, f, _ in got if rank == 1} == {(1, 7), (2, 9)}


@pytest.mark.parametrize("limits", [{}, {"BROADCAST_FEATURE_LIMIT": 0}],
                         ids=["broadcast", "cells"])
def test_knn_radius_wider_than_cell_row_raises(spark, monkeypatch, limits):
    """A ring of 2*radius + 1 >= 2**cell_zoom cells wraps onto itself:
    on the cell path a feature would sit twice in one cell and a k=2
    result could rank the same feature_id twice.  Refused by name on
    every path, at call time, as is a k below 1."""
    for name, value in limits.items():
        monkeypatch.setattr(KNN, name, value)
    pts = spark.createDataFrame(
        [(1, 100_000_000, 100_000_000)], "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(7, 100_000_000, 110_000_000), (8, 200_000_000, 900_000_000)],
        "feature_id long, lat long, lon long")
    with pytest.raises(ValueError, match=r"radius=1 .*cell_zoom=1\b"):
        knn_join(pts, feats, k=2, cell_zoom=1, radius=1).collect()
    for k in (0, -1):
        with pytest.raises(ValueError, match=rf"\bk={k}\b"):
            knn_join(pts, feats, k=k, cell_zoom=2, radius=1)
    got = knn_join(pts, feats, k=2, cell_zoom=2, radius=1).collect()
    assert sorted((r.rank, r.feature_id) for r in got) == [(1, 7), (2, 8)]


# ------------------------------------------------- review regressions

def test_knn_broadcast_duplicate_feature_ties(spark):
    """Features at IDENTICAL coordinates: every path must pick the
    lower feature_id (the (dist2, feature_id) contract), including
    when argpartition's arbitrary boundary selection would not."""
    pts = spark.createDataFrame(
        [(1, 10**6, 10**6)], "page_id long, lat long, lon long")
    # 4 co-located features; ids deliberately unsorted on input
    feats = spark.createDataFrame(
        [(9, 0, 0), (3, 0, 0), (7, 0, 0), (5, 0, 0)],
        "feature_id long, lat long, lon long")
    got = knn_join(pts, feats, k=2).orderBy("rank").collect()
    assert [r.feature_id for r in got] == [3, 5]
    # and a far feature cannot displace a tied near one
    feats2 = spark.createDataFrame(
        [(9, 0, 0), (3, 0, 0), (1, 10**7, 10**7)],
        "feature_id long, lat long, lon long")
    got2 = knn_join(pts, feats2, k=2).orderBy("rank").collect()
    assert [r.feature_id for r in got2] == [3, 9]


def test_knn_join_empty_points_exact(spark, monkeypatch):
    """The cell path on zero points returns empty instead of crashing on
    the NULL lat stats."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    pts = spark.createDataFrame([], "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(1, 0, 0)], "feature_id long, lat long, lon long")
    out = knn_join(pts, feats, k=1)
    assert out.count() == 0


@pytest.mark.parametrize("limits", [{}, {"BROADCAST_FEATURE_LIMIT": 0}],
                         ids=["broadcast", "cells"])
def test_knn_null_coordinates_match_nothing(spark, monkeypatch, limits):
    """``geocode_pages`` emits NULL coordinates for pages it cannot place:
    such a point gets no row, and such a feature is never a candidate
    (not ranked as if it sat at 0, nor cast from NaN to int64), on every
    path and in the brute-force oracle."""
    for name, value in limits.items():
        monkeypatch.setattr(KNN, name, value)
    pts = spark.createDataFrame(
        [(1, 0, 0), (2, None, 0), (3, 0, None), (4, None, None)],
        "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(10, 0, 5), (11, None, 0), (12, 0, None), (13, 0, 10)],
        "feature_id long, lat long, lon long")
    want = {(1, 1, 10, 25), (1, 2, 13, 100)}
    got = {(r.page_id, r.rank, r.feature_id, r.dist2)
           for r in knn_join(pts, feats, k=2).collect()}
    assert got == want
    assert {(r.page_id, r.rank, r.feature_id, r.dist2)
            for r in brute_force_knn(pts, feats, k=2).collect()} == want


def test_knn_point_at_exact_antimeridian(spark, monkeypatch):
    """lon = +180 deg exactly: the point's cell wraps to column 0 and
    still finds the feature registered across the seam."""
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    lon180 = 180 * 10**7
    pts = spark.createDataFrame(
        [(1, 0, lon180)], "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(42, 0, -lon180 + 10**5)], "feature_id long, lat long, lon long")
    got = knn_join(pts, feats, k=1).collect()
    assert len(got) == 1 and got[0].feature_id == 42


def test_feature_tiles_ringless_feature(spark):
    """A feature with an empty rings list (or only empty rings) emits
    no tiles and must not crash or steal the next feature's bbox."""
    sq = [(0, [10**6, 10**6, 2 * 10**6, 2 * 10**6, 10**6],
              [10**6, 2 * 10**6, 2 * 10**6, 10**6, 10**6])]
    polys = spark.createDataFrame(
        [(1, 1, [(r, la, lo) for r, la, lo in sq]),
         (2, 1, []),
         (3, 1, [(0, [], [])])],
        "feature_id long, category int, "
        "rings array<struct<role:int, lat:array<long>, lon:array<long>>>")
    out = T.feature_tiles(polys, zooms=(12,)).collect()
    fids = {r.feature_id for r in out}
    assert 1 in fids and 2 not in fids and 3 not in fids


def test_page_tiles_match_kernel_at_poles(spark):
    """page_tiles' JVM mercator equals the numpy kernel at every zoom
    band, at both poles, the mercator limit and a dense window just north
    of -90° (where log(x + sqrt(x²+1)) cancels)."""
    import pandas as pd

    rng = np.random.default_rng(5)
    lats = np.concatenate([
        [900_000_000, -900_000_000, 850_511_000, -850_511_000],
        np.arange(-900_000_000, -899_998_999),
        rng.integers(-900_000_000, 900_000_001, 4000),
    ]).astype(np.int64)
    lons = rng.integers(-1_800_000_000, 1_800_000_000, len(lats))
    df = spark.createDataFrame(pd.DataFrame(
        {"page_id": np.arange(len(lats)), "lat": lats, "lon": lons}))
    got = {(r.page_id, r.z, r.x, r.y)
           for r in T.page_tiles(df, T.ZOOM_BANDS).collect()}
    want = {(int(i), z, int(x), int(y))
            for z in T.ZOOM_BANDS
            for i, x, y in zip(range(len(lats)), K.tile_x(lons, z),
                               K.tile_y_float(lats, z))}
    assert got == want


def test_knn_auto_probe_runs_one_job(spark, geo_pages):
    """knn_join sizes AND ships a small layer from one bounded collect:
    exactly one Spark job runs before the query does."""
    feats = geocode_ids(
        spark.range(300).withColumnRenamed("id", "feature_id"), "feature_id")
    sc = spark.sparkContext
    sc.setJobGroup("knn-auto-probe", "knn auto probe")
    try:
        out = knn_join(geo_pages, feats, k=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker hears of a job through the listener bus, which
    # can lag the action that ran it
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("knn-auto-probe")) == 1
    got = {(r.page_id, r.rank, r.feature_id, r.dist2) for r in out.collect()}
    want = {(r.page_id, r.rank, r.feature_id, r.dist2)
            for r in brute_force_knn(geo_pages, feats, k=2).collect()}
    assert got == want


def test_knn_auto_probe_over_limit_takes_cells(spark, geo_pages, monkeypatch):
    """A layer past BROADCAST_FEATURE_LIMIT: the probe's arrays are
    dropped, the cell-ring path answers, and the result stays exact."""
    def no_broadcast(*a, **kw):
        raise AssertionError("broadcast path taken over the limit")

    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 100)
    monkeypatch.setattr(KNN, "_knn_broadcast_frame", no_broadcast)
    feats = geocode_ids(
        spark.range(300).withColumnRenamed("id", "feature_id"), "feature_id")
    out = knn_join(geo_pages, feats, k=2)
    got = {(r.page_id, r.rank, r.feature_id, r.dist2) for r in out.collect()}
    want = {(r.page_id, r.rank, r.feature_id, r.dist2)
            for r in brute_force_knn(geo_pages, feats, k=2).collect()}
    assert got == want

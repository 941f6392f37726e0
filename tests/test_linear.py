"""Linear-feature tiling + clipping tests vs pure-python oracles (the
scalar DP oracle is ``kernel_oracles.dp_scalar``)."""

from __future__ import annotations

import numpy as np
import pytest

from osm_spark import fixtures as FX
from osm_spark.geo import kernels as K
from osm_spark.operators import linear as L
from osm_spark.operators.tiles import band_params

from kernel_oracles import dp_scalar


@pytest.fixture(scope="module")
def roads(spark):
    return FX.roads_df(spark, grid=6)


def test_linear_tile_spans_match_kernel(spark, roads):
    got = {(r.way_id, r.z): (r.x_min, r.x_max, r.y_min, r.y_max, r.n_pts)
           for r in L.linear_tile_spans(roads, zooms=(8, 12)).collect()}
    want = {}
    for r in roads.collect():
        la = np.asarray(r.lats, np.int64)
        lo = np.asarray(r.lons, np.int64)
        min_z = L.CATEGORY_MIN_ZOOM.get(r.category, L.DEFAULT_MIN_ZOOM)
        for z in (8, 12):
            if z < min_z:
                continue
            keep = dp_scalar(band_params(z)[1], lo, la)
            sla, slo = la[keep], lo[keep]
            if len(sla) < 2:
                continue
            want[(r.way_id, z)] = (
                int(K.tile_x(slo.min(), z)), int(K.tile_x(slo.max(), z)),
                int(K.tile_y_float(sla.max(), z)), int(K.tile_y_float(sla.min(), z)),
                len(sla))
    assert got == want
    assert len(got) > 10


def test_category_zoom_filter(spark, roads):
    tiles = L.linear_tiles(roads, zooms=(6, 12)).collect()
    cats_z6 = {r.category for r in tiles if r.z == 6}
    cats_z12 = {r.category for r in tiles if r.z == 12}
    assert cats_z6 == {c for c, mz in L.CATEGORY_MIN_ZOOM.items() if mz <= 6
                       and c in cats_z12}
    assert cats_z12 > cats_z6  # minor roads appear only at high zoom


def test_clip_lines_sides_and_cutpoints(spark, roads):
    lon0 = FX.LON0 + FX.SPAN // 2
    pieces = L.clip_lines_at(roads, lon0).collect()
    assert pieces
    n_crossing = 0
    for p in pieces:
        lons = np.asarray(p.lons)
        if p.side == 0:
            assert (lons <= lon0).all()
        else:
            assert (lons >= lon0).all()
        assert len(lons) >= 2
        if lons[0] == lon0 or lons[-1] == lon0:
            n_crossing += 1
    assert n_crossing > 0  # east-west ways do cross the median line
    # every way's pieces preserve its total vertex span:
    # endpoints interior to a side never move
    by_way = {}
    for p in pieces:
        by_way.setdefault(p.way_id, []).append(p)
    orig = {r.way_id: (list(r.lats), list(r.lons)) for r in roads.collect()}
    for wid, ps in by_way.items():
        la0, lo0 = orig[wid]
        kept = {(a, b) for p in ps for a, b in zip(p.lats, p.lons)}
        for a, b in zip(la0, lo0):
            assert (a, b) in kept  # original vertices all survive somewhere


def test_linear_tiles_polar_and_antimeridian_clamped(spark):
    """Polar latitudes and lon=+180 must clamp into [0, 2^z-1] instead
    of exploding thousands of nonexistent tiles; empty ways skip."""
    lines = spark.createDataFrame(
        [(1, 0, [-90 * 10**7, -89 * 10**7], [0, 10**6]),
         (2, 0, [0, 10**6], [1799 * 10**6, 180 * 10**7]),
         (3, 0, [], [])],
        "way_id long, category int, lats array<long>, lons array<long>")
    out = L.linear_tiles(lines, zooms=(12,)).collect()
    n = 1 << 12
    assert all(0 <= r.x < n and 0 <= r.y < n for r in out)
    ids = {r.way_id for r in out}
    assert ids == {1, 2}
    # way 1 spans at most a few clamped rows, not ~22k fabricated ones
    assert len([r for r in out if r.way_id == 1]) < 100

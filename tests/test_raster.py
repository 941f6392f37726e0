"""Raster ↔ vector grid conversion (osm_spark/operators/raster.py).

Reference behavior being paralleled: the renderer's scanline polygon
fill over integer tile grids (osm/lib/osm_display.ml) — here expressed
as a cell table plus marching-squares vectorization, round-trippable.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.fixtures import FIXED_POINT, LAT0, LON0, city_polygons
from osm_spark.operators.raster import (
    _trace_rings,
    grid_df,
    rasterize_polygons,
    vectorize_cells,
)

POLY_SCHEMA = ("feature_id long, category int, "
               "rings array<struct<role:int, lat:array<long>, lon:array<long>>>")


def _shoelace2(ring):
    xs = np.array([c[0] for c in ring], np.int64)
    ys = np.array([c[1] for c in ring], np.int64)
    return int(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1]))


# ---------------------------------------------------------------- tracing

def test_trace_single_cell():
    rings = _trace_rings({(0, 0)})
    assert len(rings) == 1
    r = rings[0]
    assert r[0] == r[-1]
    assert set(r) == {(0, 0), (1, 0), (1, 1), (0, 1)}
    assert _shoelace2(r) > 0  # outer CCW


def test_trace_donut_hole_is_cw():
    cells = {(x, y) for x in range(3) for y in range(3)} - {(1, 1)}
    rings = _trace_rings(cells)
    assert len(rings) == 2
    areas = sorted(_shoelace2(r) for r in rings)
    assert areas[0] == -2   # hole: unit cell CW
    assert areas[1] == 18   # outer: 3x3 CCW
    hole = [r for r in rings if _shoelace2(r) < 0][0]
    assert set(hole) == {(1, 1), (2, 1), (2, 2), (1, 2)}


def test_trace_diagonal_pinch_two_rings():
    # two cells sharing only a corner: 4-connectivity ⇒ two regions,
    # and the left-turn rule must not jump between them at (1, 1)
    rings = _trace_rings({(0, 0), (1, 1)})
    assert len(rings) == 2
    sets = [set(r) for r in rings]
    assert {(0, 0), (1, 0), (1, 1), (0, 1)} in sets
    assert {(1, 1), (2, 1), (2, 2), (1, 2)} in sets
    assert all(_shoelace2(r) > 0 for r in rings)


def test_trace_l_shape_single_ring():
    rings = _trace_rings({(0, 0), (1, 0), (0, 1)})
    assert len(rings) == 1
    assert _shoelace2(rings[0]) == 2 * 3


# ------------------------------------------------------------- rasterize

N = 64
SPAN_G = 4 * FIXED_POINT  # divides into 64 even cells: 625000 each


@pytest.fixture(scope="module")
def city_cells(spark):
    polys = spark.createDataFrame(
        [(p["feature_id"], p["category"],
          [(r["role"], r["lat"], r["lon"]) for r in p["rings"]])
         for p in city_polygons()],
        POLY_SCHEMA,
    )
    cells = rasterize_polygons(polys, LAT0, LON0, SPAN_G, N)
    return cells.toPandas().sort_values(["feature_id", "cy", "cx"])


def _pip_even_odd(lat, lon, rings):
    """Independent scalar crossing-number reference."""
    inside = False
    for r in rings:
        la, lo = r["lat"], r["lon"]
        for i in range(len(la) - 1):
            y1, x1, y2, x2 = la[i], lo[i], la[i + 1], lo[i + 1]
            if (y1 > lat) != (y2 > lat):
                xc = x1 + (x2 - x1) * (lat - y1) / (y2 - y1)
                if xc > lon:
                    inside = not inside
    return inside


def test_rasterize_matches_scalar_pip(city_cells):
    s = SPAN_G // N
    got = {(int(r.feature_id), int(r.cx), int(r.cy))
           for r in city_cells.itertuples()}
    want = set()
    for p in city_polygons():
        for cy in range(N):
            for cx in range(N):
                lat = LAT0 + cy * s + s // 2
                lon = LON0 + cx * s + s // 2
                if _pip_even_odd(lat, lon, p["rings"]):
                    want.add((p["feature_id"], cx, cy))
    assert got == want
    assert len(got) > 100  # non-trivial fill


def test_rasterize_boundary_counts(city_cells):
    # n_nb < 4 exactly on cells whose 4-neighborhood is not fully filled
    by_fid = {}
    for r in city_cells.itertuples():
        by_fid.setdefault(int(r.feature_id), set()).add((int(r.cx), int(r.cy)))
    for r in city_cells.itertuples():
        cset = by_fid[int(r.feature_id)]
        x, y = int(r.cx), int(r.cy)
        expect = sum((x + dx, y + dy) in cset
                     for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)))
        assert int(r.n_nb) == expect


def test_rasterize_category_carried(city_cells):
    cats = dict(city_cells.groupby("feature_id")["category"].first())
    for p in city_polygons():
        if p["feature_id"] in cats:
            assert cats[p["feature_id"]] == p["category"]


# ------------------------------------------------------------- roundtrip

def test_vectorize_roundtrip_exact(spark, city_cells):
    """raster → vector → raster is the identity on the cell table."""
    cells_df = spark.createDataFrame(
        city_cells[["feature_id", "category", "cx", "cy", "n_nb"]])
    rings = vectorize_cells(cells_df, LAT0, LON0, SPAN_G, N)
    pdf = rings.toPandas()
    # city 2 has a park hole: its traced output must include a CW ring
    assert (pdf[pdf.feature_id == 2]["role"] == 1).any()

    # reassemble traced rings into the polys schema and re-rasterize
    polys2 = (rings
              .groupBy("feature_id")
              .agg(F.collect_list(
                  F.struct("role", "lat", "lon")).alias("rings"))
              .withColumn("category", F.lit(0).cast("int")))
    cells2 = rasterize_polygons(
        polys2.select("feature_id", "category", "rings"),
        LAT0, LON0, SPAN_G, N)
    got2 = {(int(r.feature_id), int(r.cx), int(r.cy))
            for r in cells2.select("feature_id", "cx", "cy")
            .toPandas().itertuples()}
    got1 = {(int(r.feature_id), int(r.cx), int(r.cy))
            for r in city_cells.itertuples()}
    assert got2 == got1


# ----------------------------------------------------------- compositing

def _paint_reference(rows, group_rank=None):
    """Brute-force painter: sort ascending by (group, layer, -area,
    feature_id) -- the renderer's stable-sort chain
    (osm/lib/osm_display.ml:908-915) -- and paint each feature's cells
    in order; the last write per cell wins."""
    by_fid = {}
    for fid, cat, lay, cx, cy in rows:
        by_fid.setdefault(fid, (cat, lay, []))[2].append((cx, cy))
    feats = sorted(
        ((((group_rank or {}).get(cat, 0)), lay, -len(cells), fid, cat, cells)
         for fid, (cat, lay, cells) in by_fid.items()))
    grid = {}
    for g, lay, na, fid, cat, cells in feats:
        for c in cells:
            grid[c] = (fid, cat)
    return grid


def _composite_rows(spark, rows, group_rank=None, with_layer=True):
    from osm_spark.operators.raster import composite_cells
    cols = "feature_id long, category int, layer int, cx long, cy long" \
        if with_layer else "feature_id long, category int, cx long, cy long"
    data = rows if with_layer else [(f, c, x, y) for f, c, _, x, y in rows]
    df = spark.createDataFrame(data, cols)
    out = composite_cells(df, group_rank=group_rank).toPandas()
    return {(int(r.cx), int(r.cy)): (int(r.feature_id), int(r.category))
            for r in out.itertuples()}, out


def _block(fid, cat, lay, x0, y0, w, h):
    return [(fid, cat, lay, x, y)
            for x in range(x0, x0 + w) for y in range(y0, y0 + h)]


def test_composite_smaller_on_top(spark):
    """Same group/layer: the smaller feature is painted later and wins
    the overlap; big feature keeps its non-overlapped cells."""
    spark_ = spark
    rows = _block(1, 10, 0, 0, 0, 8, 8) + _block(2, 11, 0, 3, 3, 2, 2)
    got, out = _composite_rows(spark_, rows)
    assert got == _paint_reference(rows)
    assert got[(3, 3)] == (2, 11) and got[(0, 0)] == (1, 10)
    # overlap cells report both painters
    n = {(int(r.cx), int(r.cy)): int(r.n_painted) for r in out.itertuples()}
    assert n[(3, 3)] == 2 and n[(0, 0)] == 1


def test_composite_layer_beats_area(spark):
    """A HIGHER layer wins even when larger (layer outranks area)."""
    spark_ = spark
    rows = _block(1, 10, 1, 0, 0, 6, 6) + _block(2, 11, 0, 2, 2, 2, 2)
    got, _ = _composite_rows(spark_, rows)
    assert got == _paint_reference(rows)
    assert got[(2, 2)] == (1, 10)  # bigger but layer=1 > 0


def test_composite_group_outranks_layer(spark):
    """Group rank is the primary key (order_by_group applied last)."""
    spark_ = spark
    gr = {10: 0, 11: 1}  # category 11's group paints later
    rows = _block(1, 11, -3, 0, 0, 6, 6) + _block(2, 10, 5, 1, 1, 2, 2)
    got, _ = _composite_rows(spark_, rows, group_rank=gr)
    assert got == _paint_reference(rows, gr)
    assert got[(1, 1)] == (1, 11)  # low layer, but later group


def test_composite_feature_id_tiebreak_and_no_layer_col(spark):
    """Equal (group, layer, area): the later feature (total order) wins;
    a missing layer column defaults to layer 0."""
    spark_ = spark
    rows = _block(7, 1, 0, 0, 0, 2, 2) + _block(9, 2, 0, 1, 0, 2, 2)
    got, _ = _composite_rows(spark_, rows, with_layer=False)
    assert got == _paint_reference(rows)
    assert got[(1, 0)] == (9, 2) and got[(1, 1)] == (9, 2)


def test_composite_real_osm_ids_beyond_24_bits(spark):
    """Real OSM way ids exceed 2^24: the auto dense_rank remap keeps
    the operator total, winners still follow the (group, layer, -area,
    feature_id) paint order, and output rows carry the original ids."""
    big = 1 << 40
    rows = (_block(big + 7, 1, 0, 0, 0, 4, 4)       # large, painted first
            + _block(big + 9, 2, 0, 1, 1, 2, 2)     # small, on top
            + _block(big + 8, 3, 0, 1, 1, 2, 2))    # same area: larger id wins
    got, out = _composite_rows(spark, rows)
    assert got == _paint_reference(rows)
    assert got[(1, 1)] == (big + 9, 2)
    assert got[(0, 0)] == (big + 7, 1)
    assert set(out.feature_id) <= {big + 7, big + 8, big + 9}


def test_composite_over_rasterized_overlap(spark):
    """End-to-end: two overlapping vector squares through
    rasterize_polygons -> composite_cells."""
    from osm_spark.operators.raster import composite_cells
    s = SPAN_G // N

    def square(fid, cat, cx0, cy0, w):
        la = [LAT0 + cy0 * s, LAT0 + cy0 * s, LAT0 + (cy0 + w) * s,
              LAT0 + (cy0 + w) * s, LAT0 + cy0 * s]
        lo = [LON0 + cx0 * s, LON0 + (cx0 + w) * s, LON0 + (cx0 + w) * s,
              LON0 + cx0 * s, LON0 + cx0 * s]
        return (fid, cat, [(0, la, lo)])

    polys = spark.createDataFrame(
        [square(1, 10, 10, 10, 40), square(2, 20, 30, 30, 10)], POLY_SCHEMA)
    cells = rasterize_polygons(polys, LAT0, LON0, SPAN_G, N)
    win = composite_cells(cells).toPandas()
    w = {(int(r.cx), int(r.cy)): int(r.feature_id) for r in win.itertuples()}
    # interior of the small square wins fid 2; outside it, fid 1
    assert w[(35, 35)] == 2 and w[(15, 15)] == 1
    # every filled cell got exactly one winner
    assert len(win) == cells.select("cx", "cy").distinct().count()


def test_composite_randomized_differential(spark):
    """40 seeded random overlapping rectangles with random layers,
    groups and duplicate-prone sizes vs the brute-force painter —
    covers every key component interaction in one job."""
    rng = np.random.default_rng(7)
    gr = {c: int(g) for c, g in enumerate(rng.integers(0, 3, 8))}
    rows = []
    for fid in range(40):
        cat = int(rng.integers(0, 8))
        lay = int(rng.integers(-2, 3))
        x0, y0 = rng.integers(0, 12, 2)
        w, h = rng.integers(1, 7, 2)
        rows += _block(fid, cat, lay, int(x0), int(y0), int(w), int(h))
    got, out = _composite_rows(spark, rows, group_rank=gr)
    assert got == _paint_reference(rows, gr)
    # n_painted sums to the total painted-cell multiset size
    assert int(out["n_painted"].sum()) == len(rows)


def test_composite_null_layer_defaults_to_zero(spark):
    """NULL in the layer column composites as layer 0 (the OSM layer
    tag is usually absent), not as an ignored row."""
    rows = [(1, 10, None, 0, 0), (1, 10, None, 1, 0),
            (2, 11, 0, 0, 0)]
    got, out = _composite_rows(spark, rows)
    # fid 1 (area 2, null layer) vs fid 2 (area 1, layer 0): smaller
    # paints later and wins cell (0,0); fid 1 keeps (1,0)
    assert got[(0, 0)] == (2, 11) and got[(1, 0)] == (1, 10)
    assert int(out["n_painted"].sum()) == 3


def test_composite_group_rank_bound(spark):
    """Rank 128 would overflow the int64 paint key — rejected."""
    from osm_spark.operators.raster import composite_cells
    df = spark.createDataFrame(
        [(1, 10, 0, 0)], "feature_id long, category int, cx long, cy long")
    with pytest.raises(ValueError, match="group ranks"):
        composite_cells(df, group_rank={10: 128})
    composite_cells(df, group_rank={10: 127}).collect()  # max rank OK

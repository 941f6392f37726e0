"""Unit tests for the remaining §2.2 kernels: segment intersection (G3),
midpoint PIP (G7), quorum containment (G9), Catmull-Rom smoothing (G14).
Pure numpy — no SparkSession needed."""

from __future__ import annotations

import numpy as np

from osm_spark.geo import kernels as K

import kernel_oracles as KO


def test_segments_intersect_cases():
    # proper crossing
    assert K.segments_intersect(0, 0, 10, 10, 0, 10, 10, 0).item()
    # disjoint
    assert not K.segments_intersect(0, 0, 1, 1, 5, 5, 6, 5).item()
    # touching at an endpoint (improper) — counts, per geometry.ml:95-103
    assert K.segments_intersect(0, 0, 5, 5, 5, 5, 9, 0).item()
    # collinear overlap
    assert K.segments_intersect(0, 0, 10, 0, 5, 0, 15, 0).item()
    # collinear disjoint
    assert not K.segments_intersect(0, 0, 4, 0, 5, 0, 9, 0).item()
    # vectorized
    r = K.segments_intersect(
        [0, 0], [0, 0], [10, 1], [10, 1], [0, 5], [10, 5], [10, 6], [0, 5])
    assert r.tolist() == [True, False]


def test_midpoints_in_ring_exact_half_units():
    ring_x = np.array([0, 10, 10, 0, 0])
    ring_y = np.array([0, 0, 10, 10, 0])
    # midpoint (0.5, 5) — inside; undoubled ints could not represent it
    inside = K.midpoints_in_ring([0], [4], [1], [6], ring_x, ring_y)
    assert inside.tolist() == [True]
    outside = K.midpoints_in_ring([-3], [4], [-1], [6], ring_x, ring_y)
    assert outside.tolist() == [False]


def test_ring_mostly_in_ring_quorum():
    outer_x = np.array([0, 100, 100, 0, 0])
    outer_y = np.array([0, 0, 100, 100, 0])
    # 3 of 4 vertices inside -> 75% >= 70%
    q_x = np.array([10, 90, 90, 150, 10])
    q_y = np.array([10, 10, 90, 150, 10])
    assert KO.ring_mostly_in_ring(q_x, q_y, outer_x, outer_y)
    # 2 of 4 inside -> 50% < 70%
    q_x2 = np.array([10, 90, 150, 150, 10])
    q_y2 = np.array([10, 10, 150, 110, 10])
    assert not KO.ring_mostly_in_ring(q_x2, q_y2, outer_x, outer_y)


def test_catmull_rom_interpolates_through_vertices():
    xs = np.array([0, 10, 20, 30])
    ys = np.array([0, 10, 0, 10])
    ox, oy = K.catmull_rom(xs, ys, n_sub=4)
    pts = set(zip(np.round(ox, 6), np.round(oy, 6)))
    for x, y in zip(xs, ys):
        assert (float(x), float(y)) in pts
    assert len(ox) == 1 + 3 * 4  # start + n_sub per segment
    # smooth: consecutive steps bounded (no wild oscillation)
    assert np.abs(np.diff(ox)).max() <= 10.0
    # degenerate short input returned unchanged
    sx, sy = K.catmull_rom([0, 1], [0, 1])
    assert sx.tolist() == [0, 1] and sy.tolist() == [0, 1]


def test_polygon_areas_packed_matches_scalar():
    import numpy as np
    from osm_spark.geo import kernels as K

    rng = np.random.RandomState(3)
    rings = []
    for n in [4, 5, 9, 2, 17, 33]:
        rings.append((rng.randint(-10**9, 10**9, n).astype(np.int64),
                      rng.randint(-10**9, 10**9, n).astype(np.int64)))
    lens = np.array([len(x) for x, _ in rings])
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    px = np.concatenate([x for x, _ in rings])
    py = np.concatenate([y for _, y in rings])
    got = K.polygon_areas_packed(px, py, starts, lens)
    want = [K.polygon_area(x, y) for x, y in rings]
    assert got.tolist() == want


def test_is_simple_polygon():
    """G4 (geometry.ml:107-136): square simple; bowtie crossing and
    fold-back spike not; closure-adjacent first/last segments exempt."""
    assert K.is_simple_polygon([0, 100, 100, 0, 0], [0, 0, 100, 100, 0])
    assert not K.is_simple_polygon([0, 10, 10, 0, 0], [0, 10, 0, 10, 0])
    assert not K.is_simple_polygon([0, 10, 5, 5, 0, 0], [0, 0, 0, 10, 10, 0])
    # triangle: only closure-adjacent pairs exist -> simple
    assert K.is_simple_polygon([0, 10, 0, 0], [0, 0, 10, 0])
    # touching (not crossing) non-adjacent segments: improper
    # intersection counts -> not simple
    assert not K.is_simple_polygon(
        [0, 100, 100, 50, 0, 0], [0, 0, 100, 0, 100, 0])


# ------------------------------------------------- review regressions

def test_polygon_areas_packed_degenerate_rings():
    """0/1-vertex rings get area 0 without crashing on (or corrupting)
    neighboring rings' reduceat segments — including a degenerate LAST
    ring (the IndexError case)."""
    sq_x = np.array([0, 10, 10, 0, 0], np.int64)
    sq_y = np.array([0, 0, 10, 10, 0], np.int64)
    want = K.polygon_area(sq_x, sq_y)
    # [square, 1-vertex], [1-vertex, square], [square, 0-vertex, square]
    px = np.concatenate([sq_x, [7]])
    a = K.polygon_areas_packed(px, np.concatenate([sq_y, [7]]),
                               [0, 5], [5, 1])
    assert list(a) == [want, 0]
    px2 = np.concatenate([[7], sq_x])
    a2 = K.polygon_areas_packed(px2, np.concatenate([[7], sq_y]),
                                [0, 1], [1, 5])
    assert list(a2) == [0, want]
    px3 = np.concatenate([sq_x, sq_x])
    a3 = K.polygon_areas_packed(px3, np.concatenate([sq_y, sq_y]),
                                [0, 5, 5], [5, 0, 5])
    assert list(a3) == [want, 0, want]


def test_midpoints_in_ring_world_span_exact():
    """World-spanning doubled coordinates would wrap int64 cross
    products; the translated/object-int path stays exact."""
    big = 1_799_999_999
    # ring covering nearly the whole world
    px = np.array([-big, big, big, -big, -big], np.int64)
    py = np.array([-850_000_000, -850_000_000, 850_000_000,
                   850_000_000, -850_000_000], np.int64)
    # segment midpoints: one at the center (inside), one far north
    # (outside)
    x1 = np.array([-1000, -big], np.int64)
    y1 = np.array([0, 890_000_000], np.int64)
    x2 = np.array([1000, big], np.int64)
    y2 = np.array([0, 890_000_000], np.int64)
    got = K.midpoints_in_ring(x1, y1, x2, y2, px, py)
    assert list(got) == [True, False]


def test_fixture_straddlers_on_distinct_tile_boundaries():
    """The two straddler fixtures must sit ON different z12 tile-x
    boundaries (a dead-arithmetic bug once collapsed both onto the
    lowest boundary)."""
    from osm_spark import fixtures as FX

    tile_w = 360 * FX.FIXED_POINT // 4096
    ps = FX.small_polygons(10)
    straddlers = [p for p in ps if p["feature_id"] in (15, 16)]
    assert len(straddlers) == 2
    centers = []
    for p in straddlers:
        lons = p["rings"][0]["lon"]
        lo, hi = min(lons), max(lons)
        # find the boundary inside the ring's lon extent
        k = (lo + 180 * FX.FIXED_POINT) // tile_w + 1
        b = k * tile_w - 180 * FX.FIXED_POINT
        assert lo < b < hi          # genuinely straddles a boundary
        centers.append(b)
    assert centers[0] != centers[1]  # two DIFFERENT boundaries


def test_dp_spans_match_scalar_dp_bbox_and_clamp():
    """``kernels._dp_spans`` against the per-polyline scalar DP
    (``kernel_oracles.dp_scalar``) and a per-group numpy bbox and clamp.
    Random packed polylines of 0 to 40 vertices, each at its own eps,
    are gathered out of order and grouped several to a group; the walks
    reach the poles and ±180°, where the clamp to [0, 2^z - 1] acts.
    The scalar DP runs on (lon, lat) and the kernel on (lat, lon): DP
    does not change when x and y swap."""
    from kernel_oracles import dp_scalar

    rng = np.random.default_rng(20)
    for trial in range(40):
        lens = rng.choice([0, 1, 2, 3, 5, 12, 40], int(rng.integers(1, 25)))
        step = rng.choice([10**3, 10**6, 10**8], len(lens))
        vstep = np.repeat(step, lens)
        lat = np.clip(np.cumsum(rng.integers(-1, 2, len(vstep)) * vstep),
                      -900_000_000, 900_000_000)
        lon = np.clip(np.cumsum(rng.integers(-1, 2, len(vstep)) * vstep * 2),
                      -1_800_000_000, 1_800_000_000)
        starts0 = np.cumsum(lens) - lens
        eps = rng.integers(0, 2 * 10**7, len(lens))
        # groups: runs of a random polyline order, each with a vertex
        groups, run = [], []
        for k in rng.permutation(len(lens)):
            run.append(k)
            if lens[run].sum() and rng.random() < 0.4:
                groups.append(run)
                run = []
        if run and lens[run].sum():
            groups.append(run)
        order = np.array([k for g in groups for k in g], np.int64)
        sizes = np.array([len(g) for g in groups], np.int64)
        g0 = np.cumsum(sizes) - sizes
        zoom = rng.choice([0, 3, 8, 12, 14], len(groups))
        kept, span = K._dp_spans(lat, lon, starts0[order], lens[order],
                                 eps[order], g0, zoom)
        masks = {k: dp_scalar(int(eps[k]), lon[starts0[k]:starts0[k] + lens[k]],
                              lat[starts0[k]:starts0[k] + lens[k]])
                 for k in order}
        assert kept.tolist() == [int(masks[k].sum()) for k in order], trial
        for j, (g, z) in enumerate(zip(groups, zoom)):
            kla = np.concatenate([lat[starts0[k]:starts0[k] + lens[k]][masks[k]]
                                  for k in g])
            klo = np.concatenate([lon[starts0[k]:starts0[k] + lens[k]][masks[k]]
                                  for k in g])
            nmax = (1 << int(z)) - 1
            want = (np.clip(K.tile_x(klo.min(), z), 0, nmax),
                    np.clip(K.tile_x(klo.max(), z), 0, nmax),
                    np.clip(K.tile_y_float(kla.max(), z), 0, nmax),
                    np.clip(K.tile_y_float(kla.min(), z), 0, nmax), len(kla))
            got = tuple(span[c][j] for c in
                        ("x_min", "x_max", "y_min", "y_max", "n_pts"))
            assert got == want, (trial, j)

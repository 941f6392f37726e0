"""Property-based differential tests (hypothesis): the vectorized numpy
kernels against independent scalar re-statements of the same reference
semantics, over randomized inputs.  No Spark session needed — these are
pure-kernel tests, the §5 property-test layer of the build plan.

The scalar twins live in tools/make_goldens.py (where they also gate
the golden VALUES oracles); using them here means every random
counterexample would break the driver gate too.

The per-ring DP and per-cell PIP formulations that the batched kernels
replaced live in tests/kernel_oracles.py.
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from osm_spark.geo import kernels as K
from osm_spark.sources import pbf, pbf_fixture
from tools.make_goldens import (scalar_is_simple, scalar_pip,
                                scalar_seg_intersect)

from kernel_oracles import (douglas_peucker_int, dp_scalar, flat_layer,
                            pip_cells_reference)

coord = st.integers(min_value=-1000, max_value=1000)


@settings(max_examples=200, deadline=None)
@given(st.tuples(*([coord] * 8)))
def test_segments_intersect_matches_scalar(c):
    x1, y1, x2, y2, x3, y3, x4, y4 = c
    got = bool(K.segments_intersect(
        np.array([x1]), np.array([y1]), np.array([x2]), np.array([y2]),
        np.array([x3]), np.array([y3]), np.array([x4]), np.array([y4]))[0])
    assert got == scalar_seg_intersect(x1, y1, x2, y2, x3, y3, x4, y4)


ring_pts = st.lists(st.tuples(coord, coord), min_size=3, max_size=12)


@settings(max_examples=150, deadline=None)
@given(ring_pts, st.lists(st.tuples(coord, coord), min_size=1, max_size=20))
def test_points_in_ring_matches_scalar(ring, pts):
    rx = [p[0] for p in ring] + [ring[0][0]]
    ry = [p[1] for p in ring] + [ring[0][1]]
    xs = np.array([p[0] for p in pts], np.int64)
    ys = np.array([p[1] for p in pts], np.int64)
    got = K.points_in_ring(xs, ys, np.array(rx, np.int64),
                           np.array(ry, np.int64))
    for i, (x, y) in enumerate(pts):
        assert bool(got[i]) == scalar_pip(x, y, rx, ry), (x, y, ring)


@settings(max_examples=150, deadline=None)
@given(ring_pts)
def test_is_simple_polygon_matches_scalar(ring):
    rx = [p[0] for p in ring] + [ring[0][0]]
    ry = [p[1] for p in ring] + [ring[0][1]]
    assert K.is_simple_polygon(rx, ry) == scalar_is_simple(rx, ry)


vals64 = st.integers(min_value=0, max_value=(1 << 63) - 1)


@settings(max_examples=100, deadline=None)
@given(st.lists(vals64, max_size=40))
def test_packed_uint64_roundtrip(vals):
    buf = b"".join(pbf_fixture._uv(v) for v in vals)
    got = pbf.packed_uint64(buf)
    assert got.tolist() == vals


signed64 = st.integers(min_value=-(1 << 40), max_value=(1 << 40))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(signed64, max_size=15), max_size=8))
def test_decode_packed_many_segmented(bufs_vals):
    """Batched decode == per-buffer decode: counts, positions, and the
    per-buffer delta cumsum all line up."""
    bufs = [b"".join(pbf_fixture._uv(pbf_fixture._zz(v)) for v in vs)
            for vs in bufs_vals]
    vals, counts, pos = pbf.decode_packed_many(bufs, signed=True, delta=True)
    assert counts.tolist() == [len(vs) for vs in bufs_vals]
    want_vals, want_pos = [], []
    for vs in bufs_vals:
        want_vals.extend(np.cumsum(vs).tolist() if vs else [])
        want_pos.extend(range(len(vs)))
    assert vals.tolist() == want_vals
    assert pos.tolist() == want_pos


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=2, max_size=30),
       st.integers(min_value=0, max_value=50))
def test_douglas_peucker_endpoints_and_eps(pts, eps):
    """DP keeps both endpoints, and every DROPPED vertex lies within
    eps of the segment between its surviving neighbours (the recursive
    definition's guarantee, douglas_peucker.ml:73-127)."""
    xs = np.array([p[0] for p in pts], np.int64)
    ys = np.array([p[1] for p in pts], np.int64)
    keep = douglas_peucker_int(eps, xs, ys)
    assert keep[0] and keep[-1]
    kept_idx = np.nonzero(keep)[0]
    import math

    def dist2(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        d2 = dx * dx + dy * dy
        nx, ny = px - ax, py - ay
        t = nx * dx + ny * dy
        if d2 == 0 or t <= 0:
            return nx * nx + ny * ny
        if t >= d2:
            ex, ey = px - bx, py - by
            return ex * ex + ey * ey
        cr = nx * dy - ny * dx
        return math.trunc(float(cr) * float(cr) / float(d2))

    for a, b in zip(kept_idx, kept_idx[1:]):
        for m in range(a + 1, b):
            assert dist2(int(xs[m]), int(ys[m]), int(xs[a]), int(ys[a]),
                         int(xs[b]), int(ys[b])) <= eps * eps, (a, b, m)


# ------------------------------------------------------ raster tracing

def _even_odd_fill(rings, x, y):
    """Crossing-number of cell center (x+.5, y+.5) against unit-edge
    rings — centers never lie on integer-corner edges, so no ties."""
    cx, cy = x + 0.5, y + 0.5
    inside = False
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            if (ay > cy) != (by > cy):
                t = (cy - ay) / (by - ay)
                if ax + t * (bx - ax) > cx:
                    inside = not inside
    return inside


@settings(max_examples=200, deadline=None)
@given(st.sets(st.tuples(st.integers(0, 7), st.integers(0, 7)),
               min_size=1, max_size=40))
def test_trace_rings_even_odd_roundtrip(cells):
    """Marching-squares tracing is exact: the even-odd fill of the
    traced rings reproduces ANY cell set — including diagonal pinches,
    holes, and multiple components (osm_spark/operators/raster.py)."""
    from osm_spark.operators.raster import _trace_rings
    rings = _trace_rings(set(cells))
    for r in rings:
        assert r[0] == r[-1]          # closed
    filled = {(x, y) for x in range(9) for y in range(9)
              if _even_odd_fill(rings, x, y)}
    assert filled == set(cells)


# ------------------------------------------------------ JPEG restarts

@settings(max_examples=40, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 3),
       st.booleans(), st.integers(0, 2**32 - 1))
def test_jpeg_dri_stream_decodes_identically(h, w, dri, color, seed):
    """Restart intervals are pure framing: for ANY image shape (odd
    dims, sub-MCU sizes), color mode, and DRI in {0..3}, the decoded
    pixels are bit-identical to the no-restart stream's — predictors
    reset and byte-alignment consume no signal (operators/jpeg.py)."""
    import numpy as np

    from osm_spark.operators.jpeg import decode_jpeg_gray, encode_baseline
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, shape).astype(np.uint8)
    plain = decode_jpeg_gray(encode_baseline(img, quality=82))
    rst = decode_jpeg_gray(encode_baseline(img, quality=82, dri=dri))
    assert plain.shape == (h, w)
    assert np.array_equal(plain, rst)


# ------------------------------------------- flattened kernels vs oracles

# small coordinates make duplicate, collinear and d2 == 0 spans common
dp_coord = st.one_of(st.integers(-4, 4), st.integers(-10**6, 10**6))
polyline = st.lists(st.tuples(dp_coord, dp_coord), max_size=25)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(polyline, st.integers(0, 3000),
                          st.sampled_from(["plain", "closed", "collinear",
                                           "repeat"])),
                min_size=1, max_size=6))
# (2,2) is 1.6 from the chord: truncation keeps it out at eps=1
@example([([(0, 0), (2, 2), (3, 1)], 1, "plain")])
def test_batched_dp_matches_scalar_oracle(lines):
    """One ``simplify_ring_int`` pass over a batch of polylines, each at
    its own eps (including 0), keeps exactly what the scalar stack DP
    keeps on each polyline alone."""
    xs, ys, lens, eps = [], [], [], []
    for pts, e, shape in lines:
        x = np.array([p[0] for p in pts], np.int64)
        y = np.array([p[1] for p in pts], np.int64)
        if shape == "closed" and len(x):
            x, y = np.append(x, x[0]), np.append(y, y[0])      # d2 == 0
        elif shape == "collinear":
            y = 3 * x + 7
        elif shape == "repeat":
            x, y = np.repeat(x, 2), np.repeat(y, 2)             # duplicates
        xs.append(x)
        ys.append(y)
        lens.append(len(x))
        eps.append(e)
    keep = K.simplify_ring_int(np.array(eps), np.concatenate(xs),
                               np.concatenate(ys), lens)
    want = [dp_scalar(e, x, y) for e, x, y in zip(eps, xs, ys)]
    assert keep.tolist() == np.concatenate(want).tolist()
    for e, x, y, w in zip(eps, xs, ys, want):
        if len(x):
            assert douglas_peucker_int(e, x, y).tolist() == w.tolist()


PIP_Z = 12
LAT0, LON0 = 488_000_000, 23_000_000
pip_off = st.integers(-2_500_000, 2_500_000)
pip_ring = st.tuples(
    st.integers(0, 2),                          # role: 0 outer, else hole
    st.lists(st.tuples(pip_off, pip_off), max_size=8),
    st.booleans())                              # closed
pip_layer = st.lists(st.lists(pip_ring, min_size=1, max_size=3),
                     min_size=1, max_size=6)


def _row_boundary(row: int) -> int:
    """Smallest fixed-point lat numpy puts north of tile row ``row``."""
    lo, hi = -850_000_000, 850_000_000
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if K.tile_y_float(mid, PIP_Z) < row:
            hi = mid
        else:
            lo = mid
    return hi


@settings(max_examples=150, deadline=None)
@given(pip_layer, st.lists(st.tuples(pip_off, pip_off), max_size=30),
       st.integers(0, 2**32))
def test_csr_pip_matches_per_cell_reference(layer, free_pts, seed):
    """The flattened CSR matcher equals the per-cell dense PIP on random
    layers with holes, zero-edge and open rings, for points on vertices,
    on edges, on tile-row boundaries and anywhere — also with a chunk
    size of 1..13 elements."""
    from osm_spark.operators import spatial_join as SJ
    from osm_spark.operators.spatial_join import (_build_group_index_packed,
                                                 _pip_pack)

    polys = []
    for fid, rings in enumerate(layer, start=100):
        rs = []
        for role, pts, closed in rings:
            la = np.array([LAT0 + p[0] for p in pts], np.int64)
            lo = np.array([LON0 + p[1] for p in pts], np.int64)
            if closed and len(la):
                la, lo = np.append(la, la[0]), np.append(lo, lo[0])
            rs.append((role, la, lo))
        polys.append((fid, rs))
    rng = np.random.default_rng(seed)
    pla = [LAT0 + np.array([p[0] for p in free_pts], np.int64)]
    plo = [LON0 + np.array([p[1] for p in free_pts], np.int64)]
    for _, rs in polys:
        for _, la, lo in rs:
            pla.append(la)
            plo.append(lo)
            for i in range(len(la) - 1):            # lattice points on edges
                dy, dx = int(la[i + 1] - la[i]), int(lo[i + 1] - lo[i])
                g = max(np.gcd(dy, dx), 1)
                k = rng.integers(0, g + 1)
                pla.append(np.array([la[i] + k * (dy // g)]))
                plo.append(np.array([lo[i] + k * (dx // g)]))
    rows = K.tile_y_float(np.array([LAT0 + 2_500_000, LAT0 - 2_500_000]), PIP_Z)
    for row in range(int(rows[0]), int(rows[1]) + 2):
        b = _row_boundary(row)
        pla.append(np.array([b - 1, b, b + 1], np.int64))
        plo.append(LON0 + rng.integers(-2_500_000, 2_500_000, 3))
    la, lo = np.concatenate(pla), np.concatenate(plo)

    index = _build_group_index_packed(flat_layer(polys), PIP_Z)
    hits, fids = _pip_pack(index, la, lo)
    got = set(zip(hits.tolist(), fids.tolist()))
    assert len(got) == len(hits)                 # no duplicate pair
    assert got == pip_cells_reference(polys, la, lo, PIP_Z)
    # point and edge chunks cut anywhere leave the matches unchanged
    default, SJ.PIP_CHUNK = SJ.PIP_CHUNK, 1 + seed % 13
    try:
        hits, fids = _pip_pack(index, la, lo)
    finally:
        SJ.PIP_CHUNK = default
    assert sorted(zip(hits.tolist(), fids.tolist())) == sorted(got)

"""Unit tests for osm_spark.geo.kernels vs pure-python scalar oracles.

The oracles re-state the cited reference semantics (file:line in each
docstring) in straightforward scalar Python; the kernels must agree
exactly on randomized fixed-point inputs.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from osm_spark.geo import kernels as K

import kernel_oracles as KO

rng = random.Random(42)


# ---------------------------------------------------------------------------
# scalar oracles


def pip_oracle(x, y, px, py):
    """Crossing-number PIP, osm/geometry.ml:157-174 semantics."""
    n = False
    pi = py[0] >= y
    for i in range(len(px) - 1):
        j = i + 1
        pj = py[j] >= y
        if pi != pj:
            d = (px[j] - px[i]) * (y - py[i]) - (x - px[i]) * (py[j] - py[i])
            if (d >= 0) != pi:
                n = not n
        pi = pj
    return n


def area_oracle(px, py):
    """Anchored shoelace with OCaml truncating division, geometry.ml:211-226."""
    a = 0
    x0, y0 = px[0], py[0]
    for i in range(len(px) - 1):
        a += (px[i] - x0) * (py[i + 1] - y0) - (px[i + 1] - x0) * (py[i] - y0)
    q = a + 1
    return abs(q) // 2 * (1 if q >= 0 else -1)


def dp_oracle(eps, xs, ys):
    """Recursive integer DP, douglas_peucker.ml:73-127 semantics."""
    n_pts = len(xs)
    if n_pts <= 2:
        return list(range(n_pts))
    eps2 = eps * eps
    keep = [0, n_pts - 1]

    def rec(i1, i2):
        dx, dy = xs[i2] - xs[i1], ys[i2] - ys[i1]
        d2 = dx * dx + dy * dy
        max_dist, max_i = eps2, -1
        for i in range(i1 + 1, i2):
            dxp, dyp = xs[i] - xs[i1], ys[i] - ys[i1]
            t = dx * dxp + dy * dyp
            if t <= 0:
                dist = dxp * dxp + dyp * dyp
            elif t >= d2:
                dxe, dye = xs[i] - xs[i2], ys[i] - ys[i2]
                dist = dxe * dxe + dye * dye
            else:
                ncr = dx * dyp - dy * dxp
                dist = math.trunc(float(ncr) * float(ncr) / float(d2))
            if dist > max_dist:
                max_dist, max_i = dist, i
        if max_dist > eps2:
            rec(i1, max_i)
            keep.append(max_i)
            rec(max_i, i2)

    rec(0, n_pts - 1)
    return sorted(keep)


def haversine_oracle(lat1, lon1, lat2, lon2):
    """geometry.ml:29-36 (output in the reference's mm unit)."""
    c = math.pi / 180.0 / 1e7
    la1, lo1, la2, lo2 = lat1 * c, lon1 * c, lat2 * c, lon2 * c

    def hv(t):
        s = math.sin(t / 2.0)
        return s * s

    a = hv(la2 - la1) + math.cos(la1) * math.cos(la2) * hv(lo2 - lo1)
    return math.trunc(2.0 * 6371.0 * 1e6 * math.asin(math.sqrt(a)))


def random_ring(n, cx, cy, r):
    """Deterministic star-shaped (simple) closed ring around (cx, cy)."""
    pts = []
    for i in range(n):
        ang = 2 * math.pi * i / n
        rad = r * (0.5 + 0.5 * ((i * 2654435761) % 1000) / 1000.0)
        pts.append((cx + int(rad * math.cos(ang)), cy + int(rad * math.sin(ang))))
    pts.append(pts[0])
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return xs, ys


# ---------------------------------------------------------------------------
# tests


def test_pip_matches_oracle():
    xs, ys = random_ring(17, 420_000_000, 20_000_000, 3_000_000)
    px = np.array(xs)
    py = np.array(ys)
    qx = np.array([420_000_000 + rng.randint(-4_000_000, 4_000_000) for _ in range(500)])
    qy = np.array([20_000_000 + rng.randint(-4_000_000, 4_000_000) for _ in range(500)])
    got = K.points_in_ring(qy, qx, py, px)  # (x=lat?) — axes are generic
    want = np.array([pip_oracle(int(a), int(b), ys, xs) for a, b in zip(qy, qx)])
    assert (got == want).all()
    assert 0 < got.sum() < len(got)  # nondegenerate


def test_pip_tie_rule_vertex_level():
    # horizontal-edge and vertex-crossing cases exercise the >= ties
    px = np.array([0, 10, 10, 0, 0])
    py = np.array([0, 0, 10, 10, 0])
    qx = np.array([5, 5, -1, 11, 5])
    qy = np.array([5, 0, 5, 5, 10])
    got = K.points_in_ring(qx, qy, px, py)
    want = np.array([pip_oracle(int(a), int(b), list(px), list(py)) for a, b in zip(qx, qy)])
    assert (got == want).all()


def test_boundary_detection():
    px = np.array([0, 10, 10, 0, 0])
    py = np.array([0, 0, 10, 10, 0])
    on = K.points_on_ring_boundary(np.array([5, 5, 10, 3]), np.array([0, 5, 7, 11]), px, py)
    assert list(on) == [True, False, True, False]


def test_area_matches_oracle_and_orientation():
    xs, ys = random_ring(11, 0, 0, 1_000_000)
    assert K.polygon_area(xs, ys) == area_oracle(xs, ys)
    # reversed ring negates (up to the +1 truncation)
    a_fwd = K.polygon_area(xs, ys)
    a_rev = K.polygon_area(xs[::-1], ys[::-1])
    assert abs(a_fwd + a_rev) <= 1
    assert a_fwd > 0  # CCW star is positive


def test_dp_matches_oracle():
    for trial in range(20):
        n = rng.randint(3, 60)
        xs = [rng.randint(0, 10_000_00) for _ in range(n)]
        ys = [rng.randint(0, 10_000_00) for _ in range(n)]
        eps = rng.randint(1, 300_000)
        mask = KO.douglas_peucker_int(eps, xs, ys)
        got = [i for i, k in enumerate(mask) if k]
        assert got == dp_oracle(eps, xs, ys), (trial, n, eps)


def test_dp_output_subset_and_endpoints():
    xs, ys = random_ring(40, 0, 0, 5_000_000)
    m = KO.douglas_peucker_int(100_000, xs, ys)
    assert m[0] and m[-1]
    assert m.sum() <= len(xs)


def test_haversine_matches_oracle():
    for _ in range(200):
        la1 = rng.randint(-80 * 10**7, 80 * 10**7)
        lo1 = rng.randint(-179 * 10**7, 179 * 10**7)
        la2 = la1 + rng.randint(-10**7, 10**7)
        lo2 = lo1 + rng.randint(-10**7, 10**7)
        got = int(K.distance(la1, lo1, la2, lo2))
        assert got == haversine_oracle(la1, lo1, la2, lo2)
    # known value: 1 degree of latitude ~ 111.2 km
    d_m = int(KO.distance_m(0, 0, 10**7, 0))
    assert 110_000 < d_m < 112_500


def test_zorder_dilate():
    assert int(KO.dilate(np.array([0b1011]))[0]) == 0b1000101
    z = KO.z_order(np.array([3]), np.array([5]))  # x=11, y=101
    # interleave x above y: bits x1 y2 x0... manual: x=011,y=101 -> 011011? compute oracle
    def z_oracle(x, y):
        out = 0
        for b in range(32):
            out |= ((x >> b) & 1) << (2 * b + 1)
            out |= ((y >> b) & 1) << (2 * b)
        return out
    assert int(z[0]) == z_oracle(3, 5)


def test_hilbert_locality_beats_zorder_is_valid_permutation():
    # the full 2^4 x 2^4 corner grid is the curve's first 256 cells (every
    # coarser level sits in quadrant 0): hilbert_d over it is a
    # permutation of [0, 256) and adjacent d-values are grid-adjacent
    # (the defining Hilbert property)
    n = 16
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    xs, ys = xs.ravel(), ys.ravel()
    d = K.hilbert_d(xs, ys)
    assert sorted(d.tolist()) == list(range(n * n))
    order = np.argsort(d)
    dx = np.abs(np.diff(xs[order]))
    dy = np.abs(np.diff(ys[order]))
    assert ((dx + dy) == 1).all()


def test_tile_x_exact_and_tile_y_consistent():
    lon = np.array([-180 * 10**7, 0, 179_9999999, 45 * 10**7])
    assert list(K.tile_x(lon, 1)) == [0, 1, 1, 1]
    assert list(K.tile_x(lon, 12)) == [0, 2048, 4095, 2560]
    # y: known city (lat 48.8566 → z12 y=1409, slippy-map formula)
    y = K.tile_y_float(np.array([48_8566000]), 12)
    assert int(y[0]) == 1409
    assert int(K.tile_y_float(np.array([0]), 12)[0]) == 2048
    # boundaries table agrees with float kernel away from edges
    rows, bounds = K.tile_y_boundaries(12, 40 * 10**7, 44 * 10**7)
    lat_samples = np.linspace(40.01e7, 43.99e7, 997).astype(np.int64)
    yf = K.tile_y_float(lat_samples, 12)
    for lat, yv in zip(lat_samples.tolist(), yf.tolist()):
        k = next(r for r, hi, lo in zip(rows, bounds, bounds[1:]) if lo < lat <= hi)
        assert k == yv, (lat, k, yv)


def test_mercator_roundtrip():
    lat = np.array([-60 * 10**7, -1, 0, 1, 45 * 10**7, 84 * 10**7], dtype=np.int64)
    back = KO.y_to_lat(KO.lat_to_y(lat))
    assert np.abs(back - lat).max() < 1e-2


def test_hilbert_key_range():
    d = K.hilbert_key(np.array([-90 * 10**7, 0, 90 * 10**7]), np.array([-180 * 10**7, 0, 179 * 10**7]))
    assert (d >= 0).all()
    assert len(set(d.tolist())) == 3

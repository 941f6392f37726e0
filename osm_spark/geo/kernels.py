"""Vectorized geometry kernels over fixed-point integer coordinates.

Coordinate convention (same as the reference engine): latitude/longitude
are int64 in units of 1e-7 degrees ("fixed-point"), e.g. 45.5°N ==
455_000_000.  Reference: /root/reference/osm/parser.ml:228-233 and
osm/geometry.ml:24 (conv factor pi/180/1e7).

Every kernel here is numpy-vectorized over arrays of points; they are
invoked from Arrow-batched pandas UDFs (never per-row Python).  Where
the reference pins a semantic edge case we reproduce it exactly:

- point_in_polygon: crossing-number with the ``>=`` tie conventions of
  /root/reference/osm/geometry.ml:157-174 (`py[i] >= y`, `d >= 0`);
  behaviour for points exactly on the boundary is unspecified there
  (geometry.mli:32-33) and here.
- polygon_area: anchored shoelace with ``(a+1)/2`` truncating division
  (/root/reference/osm/geometry.ml:211-226; OCaml `/` truncates toward 0);
  ``polygon_areas_packed`` per packed ring, ``_feature_areas`` per feature.
- simplify_ring_int: squared-eps integer Douglas-Peucker over a batch of
  polylines, incl. the ``truncate(float n * float n / float d2)`` mixed
  rounding of douglas_peucker.ml:88-98; ``_dp_spans`` turns one such
  pass into kept counts and clamped tile spans (polygon and line tiles).
- distance: haversine, truncated, with the reference's radius constant
  (units: the reference uses r = 6371*1e6, i.e. millimeters;
  osm/geometry.ml:26-36).
- hilbert_d: Hilbert curve index via the standard public xy2d rotation
  algorithm (Wikipedia "Hilbert curve"); serves the same clustering role
  as the reference's table-driven variant (geometry.ml:350-526).  Key
  values are an internal sort order, not part of the output contract.

Queries compute Mercator tile rows and z-order keys as SQL expressions
(``spatial_join.tile_y_sql``, the ``g10_curve_keys`` zkey column).  The
per-point forms no query runs — Mercator y, z-order, the 70% quorum
ring containment, single-polyline Douglas-Peucker and haversine in
meters — live in tests/kernel_oracles.py as the twins tests hold these
kernels to.
"""

from __future__ import annotations

import numpy as np

FIXED_POINT = 10_000_000  # 1e-7 degrees per unit
CONV = np.pi / 180.0 / FIXED_POINT  # fixed-point -> radians
EARTH_R_MM = 6371.0 * 1e6  # reference radius constant (osm/geometry.ml:26)

LON_WORLD = 360 * FIXED_POINT
LAT_OFFSET = 90 * FIXED_POINT
LON_OFFSET = 180 * FIXED_POINT


def _trunc_div(a, b):
    """Integer division truncating toward zero (OCaml `/`), vectorized."""
    a = np.asarray(a)
    q = np.abs(a) // np.abs(b)
    return np.where(np.sign(a) * np.sign(b) < 0, -q, q)


def concat_ranges(starts, lens):
    """Concatenation of ``arange(s, s + l)`` over (starts, lens) pairs in
    one vectorized pass: the gather index of a CSR segment list."""
    starts = np.asarray(starts, np.int64)
    lens = np.asarray(lens, np.int64)
    ends = np.cumsum(lens)
    return (np.arange(ends[-1] if len(ends) else 0, dtype=np.int64)
            + np.repeat(starts - (ends - lens), lens))


# ---------------------------------------------------------------------------
# Distance


def distance(lat1, lon1, lat2, lon2):
    """Haversine distance, reference-exact (osm/geometry.ml:29-36).

    Inputs fixed-point int64; output int64 in the reference's unit
    (millimeters — its radius constant is 6371*1e6).
    """
    la1 = np.asarray(lat1, np.float64) * CONV
    lo1 = np.asarray(lon1, np.float64) * CONV
    la2 = np.asarray(lat2, np.float64) * CONV
    lo2 = np.asarray(lon2, np.float64) * CONV
    s1 = np.sin((la2 - la1) / 2.0)
    s2 = np.sin((lo2 - lo1) / 2.0)
    a = s1 * s1 + np.cos(la1) * np.cos(la2) * (s2 * s2)
    return np.trunc(2.0 * EARTH_R_MM * np.arcsin(np.sqrt(a))).astype(np.int64)


# ---------------------------------------------------------------------------
# Web-Mercator / tiles


def tile_x(lon_fp, z):
    """Slippy-map tile column — exact integer arithmetic.

    x = floor((lon + 180°) * 2^z / 360°) over fixed-point ints, so the
    result is bit-identical across engines (no floats involved).
    """
    lon = np.asarray(lon_fp, np.int64)
    return ((lon + LON_OFFSET) * (1 << int(z))) // LON_WORLD


def tile_y_float(lat_fp, z):
    """Slippy-map tile row via float mercator (production kernel).

    In-place op chain (one float64 temp instead of six) — the kernel is
    DRAM-bandwidth-bound at high worker counts; the elementwise op
    SEQUENCE is unchanged, so results stay bit-identical."""
    y = np.asarray(lat_fp).astype(np.float64)
    n = float(1 << int(z))
    y *= CONV
    np.tan(y, out=y)
    np.arcsinh(y, out=y)
    y /= np.pi
    np.subtract(1.0, y, out=y)
    y /= 2.0
    y *= n
    np.floor(y, out=y)
    return y.astype(np.int64)


def tile_y_boundaries(z, lat_min_fp, lat_max_fp, pad=1):
    """Integer fixed-point latitude boundaries of tile rows covering
    [lat_min_fp, lat_max_fp], padded by ``pad`` extra rows each way.

    Returns (rows, bounds): ``rows[i]`` is the tile-row id whose latitude
    range is ``(bounds[i+1], bounds[i]]`` in fixed-point (top-exclusive
    rows, integer-exact).  Used to make tile-y assignment a broadcast
    range-join that is bit-identical across engines; kNN certification
    passes ``pad=radius`` so the min row height covers every row an
    unregistered feature could hide behind.
    """
    n = 1 << int(z)

    def row_top_lat_fp(k):  # northern edge latitude of row k
        return int(np.floor(np.arctan(np.sinh(np.pi * (1 - 2 * k / n))) / np.pi * 180.0 * FIXED_POINT))

    # find row range covering the box
    k_top = int(tile_y_float(np.array([lat_max_fp]), z)[0])
    k_bot = int(tile_y_float(np.array([lat_min_fp]), z)[0])
    k_top = max(0, k_top - int(pad))
    k_bot = min(n - 1, k_bot + int(pad))
    rows = list(range(k_top, k_bot + 1))
    bounds = [row_top_lat_fp(k) for k in rows] + [row_top_lat_fp(k_bot + 1)]
    return rows, bounds


# ---------------------------------------------------------------------------
# Point in polygon

def points_in_ring(x, y, px, py):
    """Crossing-number PIP of many points vs one ring.

    ``px``/``py`` are the ring vertices (closed: first == last), int64.
    Tie conventions match /root/reference/osm/geometry.ml:157-174 exactly:
    ``pi = py[i] >= y``; toggle when ``pi != pj`` and ``(d >= 0) != pi``
    where ``d = (px[j]-px[i])*(y-py[i]) - (x-px[i])*(py[j]-py[i])``.
    Unspecified for points exactly on the boundary (geometry.mli:32-33).
    """
    x = np.asarray(x, np.int64)
    y = np.asarray(y, np.int64)
    px = np.asarray(px, np.int64)
    py = np.asarray(py, np.int64)
    pxi, pxj = px[:-1, None], px[1:, None]
    pyi, pyj = py[:-1, None], py[1:, None]
    pi = pyi >= y[None, :]
    pj = pyj >= y[None, :]
    cross = pi != pj
    d = (pxj - pxi) * (y[None, :] - pyi) - (x[None, :] - pxi) * (pyj - pyi)
    toggle = cross & ((d >= 0) != pi)
    return (toggle.sum(axis=0) % 2).astype(bool)


def point_on_segment(x, y, x1, y1, x2, y2):
    """Vectorized point-on-segment (osm/geometry.ml:138-146)."""
    bx = (np.minimum(x1, x2) <= x) & (x <= np.maximum(x1, x2))
    by = (np.minimum(y1, y2) <= y) & (y <= np.maximum(y1, y2))
    d1 = (x - x1) * (y2 - y1) - (x2 - x1) * (y - y1)
    return bx & by & (d1 == 0)


def points_on_ring_boundary(x, y, px, py):
    """True where point lies on any ring segment (geometry.ml:148-155)."""
    x = np.asarray(x, np.int64)[None, :]
    y = np.asarray(y, np.int64)[None, :]
    px = np.asarray(px, np.int64)
    py = np.asarray(py, np.int64)
    return point_on_segment(
        x, y, px[:-1, None], py[:-1, None], px[1:, None], py[1:, None]
    ).any(axis=0)


def segments_intersect(x1, y1, x2, y2, x3, y3, x4, y4):
    """Proper/improper intersection test of segments (p1,p2) vs (p3,p4),
    vectorized — integer cross-product orientation test including the
    collinear-overlap case (/root/reference/osm/geometry.ml:63-104)."""
    x1, y1, x2, y2, x3, y3, x4, y4 = (
        np.asarray(v, np.int64) for v in (x1, y1, x2, y2, x3, y3, x4, y4))
    d1 = (x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)
    d2 = (x2 - x1) * (y4 - y1) - (x4 - x1) * (y2 - y1)
    d3 = (x4 - x3) * (y1 - y3) - (x1 - x3) * (y4 - y3)
    d4 = (x4 - x3) * (y2 - y3) - (x2 - x3) * (y4 - y3)
    proper = (np.sign(d1) * np.sign(d2) < 0) & (np.sign(d3) * np.sign(d4) < 0)

    def on_seg(px_, py_, ax, ay, bx, by, d):
        return (d == 0) & (np.minimum(ax, bx) <= px_) & (px_ <= np.maximum(ax, bx)) \
            & (np.minimum(ay, by) <= py_) & (py_ <= np.maximum(ay, by))

    touch = (
        on_seg(x3, y3, x1, y1, x2, y2, d1)
        | on_seg(x4, y4, x1, y1, x2, y2, d2)
        | on_seg(x1, y1, x3, y3, x4, y4, d3)
        | on_seg(x2, y2, x3, y3, x4, y4, d4)
    )
    return proper | touch


def midpoints_in_ring(x1, y1, x2, y2, px, py):
    """PIP of segment midpoints at doubled coordinates — exact, no
    division (/root/reference/osm/geometry.ml:176-209).  The ring is
    doubled too so the parity test stays integer.

    Coordinates are translated to the data's bbox min first (parity
    invariant), and if the doubled extent could still overflow the
    int64 cross products (> ~107° of span — world-scale coastline
    rings), the test reruns with Python-int object arrays: slower but
    exact, where the reference's 63-bit native ints would wrap."""
    mx = np.asarray(x1, np.int64) + np.asarray(x2, np.int64)
    my = np.asarray(y1, np.int64) + np.asarray(y2, np.int64)
    rx = 2 * np.asarray(px, np.int64)
    ry = 2 * np.asarray(py, np.int64)
    bx = min(int(mx.min()), int(rx.min())) if len(mx) else 0
    by = min(int(my.min()), int(ry.min())) if len(my) else 0
    mx, my, rx, ry = mx - bx, my - by, rx - bx, ry - by
    c = max((int(a.max()) if len(a) else 0) for a in (mx, my, rx, ry))
    if 2 * c * c < (1 << 63):
        return points_in_ring(mx, my, rx, ry)
    # object-int fallback: same crossing rules, arbitrary precision
    mx, my = mx.astype(object), my.astype(object)
    rx, ry = rx.astype(object), ry.astype(object)
    pxi, pxj = rx[:-1, None], rx[1:, None]
    pyi, pyj = ry[:-1, None], ry[1:, None]
    pi = pyi >= my[None, :]
    pj = pyj >= my[None, :]
    cross = pi != pj
    d = (pxj - pxi) * (my[None, :] - pyi) - (mx[None, :] - pxi) * (pyj - pyi)
    toggle = cross & ((d >= 0) != pi)
    return (toggle.sum(axis=0) % 2).astype(bool)


def is_simple_polygon(px, py) -> bool:
    """G4: simple-polygon check (/root/reference/osm/geometry.ml:107-136,
    debug-only there): no two non-consecutive segments intersect (the
    first/last adjacency through the closing vertex is skipped), and no
    two consecutive segments fold back over each other
    (dot <= 0 with zero cross).  Pairwise test vectorized through
    ``segments_intersect`` over the non-adjacent index pairs.

    Reference-exact quirk kept deliberately: the fold check iterates
    ``i = 1 .. l-1`` (geometry.ml's ``for i = 1 to l - 1``), so a fold
    exactly AT the closing vertex (last segment reversing over the
    first) is not tested on either engine."""
    px = np.asarray(px, np.int64)
    py = np.asarray(py, np.int64)
    l = len(px) - 1
    ii, jj = [], []
    for i in range(1, l):
        for j in range(0, i - 1):
            if j > 0 or i < l - 1:      # skip closure-adjacent pair
                ii.append(i)
                jj.append(j)
    if ii:
        ia = np.asarray(ii)
        ja = np.asarray(jj)
        if segments_intersect(px[ia], py[ia], px[ia + 1], py[ia + 1],
                              px[ja], py[ja], px[ja + 1], py[ja + 1]).any():
            return False
    i = np.arange(1, l)
    dx1 = px[i + 1] - px[i]
    dy1 = py[i + 1] - py[i]
    dx2 = px[i] - px[i - 1]
    dy2 = py[i] - py[i - 1]
    folds = (dx1 * dx2 + dy1 * dy2 <= 0) & (dx1 * dy2 == dx2 * dy1)
    return not folds.any()


def catmull_rom(xs, ys, n_sub: int = 8):
    """Centripetal Catmull-Rom smoothing of an open polyline
    (/root/reference/osm/line_smoothing.ml:93-211, alpha=0.5) —
    render-time operator; returns float arrays of the interpolated
    curve through every input vertex."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    if len(xs) < 3:
        return xs.copy(), ys.copy()
    # pad endpoints
    px = np.concatenate([[2 * xs[0] - xs[1]], xs, [2 * xs[-1] - xs[-2]]])
    py = np.concatenate([[2 * ys[0] - ys[1]], ys, [2 * ys[-1] - ys[-2]]])
    out_x, out_y = [xs[0]], [ys[0]]
    for i in range(1, len(px) - 2):
        p = np.stack([px[i - 1:i + 3], py[i - 1:i + 3]], axis=1)
        d = np.sqrt(((p[1:] - p[:-1]) ** 2).sum(axis=1))
        t = np.concatenate([[0.0], np.cumsum(np.maximum(d, 1e-12) ** 0.5)])
        tq = np.linspace(t[1], t[2], n_sub + 1)[1:]
        # recursive de Boor-style pyramid (standard centripetal CR)
        def lerp(pa, pb, ta, tb):
            w = ((tq - ta) / (tb - ta))[:, None]
            return (1 - w) * pa[None, :] + w * pb[None, :]

        a1 = lerp(p[0], p[1], t[0], t[1])
        a2 = lerp(p[1], p[2], t[1], t[2])
        a3 = lerp(p[2], p[3], t[2], t[3])
        w12 = ((tq - t[0]) / (t[2] - t[0]))[:, None]
        b1 = (1 - w12) * a1 + w12 * a2
        w23 = ((tq - t[1]) / (t[3] - t[1]))[:, None]
        b2 = (1 - w23) * a2 + w23 * a3
        wc = ((tq - t[1]) / (t[2] - t[1]))[:, None]
        c = (1 - wc) * b1 + wc * b2
        out_x.extend(c[:, 0].tolist())
        out_y.extend(c[:, 1].tolist())
    return np.asarray(out_x), np.asarray(out_y)


def polygon_area(px, py):
    """Anchored integer shoelace, ``(a+1)/2`` truncating (geometry.ml:211-226).

    Positive for counter-clockwise rings (in (x=lon, y=lat) axes when
    called as area(lon, lat), matching surfaces.ml:655 usage).
    """
    px = np.asarray(px, np.int64)
    py = np.asarray(py, np.int64)
    dx1 = px[:-1] - px[0]
    dy1 = py[:-1] - py[0]
    dx2 = px[1:] - px[0]
    dy2 = py[1:] - py[0]
    a = int(np.sum(dx1 * dy2 - dx2 * dy1))
    return int(_trunc_div(a + 1, 2))


def polygon_areas_packed(px, py, starts, lens):
    """``polygon_area`` over many rings packed into flat arrays —
    one vectorized pass, no per-ring Python.  ``starts``/``lens`` give
    each ring's slice; returns int64 area per ring with the same
    anchored ``(a+1)/2`` truncating semantics."""
    px = np.asarray(px, np.int64)
    py = np.asarray(py, np.int64)
    starts = np.asarray(starts, np.int64)
    lens = np.asarray(lens, np.int64)
    valid = lens >= 2
    if not valid.all():
        # degenerate (0/1-vertex) rings: area 0, and they must not
        # disturb the packed edge bookkeeping of their neighbors —
        # compact them out and scatter results back
        out = np.zeros(len(starts), dtype=np.int64)
        if valid.any():
            vlens = lens[valid]
            # index gather (not a repeat-mask) so packs whose starts
            # are non-contiguous stay correct on this rare path
            idx = concat_ranges(starts[valid], vlens)
            vstarts = np.concatenate(
                ([0], np.cumsum(vlens)[:-1])).astype(np.int64)
            out[valid] = polygon_areas_packed(
                px[idx], py[idx], vstarts, vlens)
        return out
    n = len(px)
    ax = np.repeat(px[starts], lens)
    ay = np.repeat(py[starts], lens)
    keep = np.ones(n, dtype=bool)
    keep[starts + lens - 1] = False          # drop each ring's last vertex
    e = np.nonzero(keep)[0]
    dx1 = px[e] - ax[e]
    dy1 = py[e] - ay[e]
    dx2 = px[e + 1] - ax[e]
    dy2 = py[e + 1] - ay[e]
    terms = dx1 * dy2 - dx2 * dy1
    edge_starts = starts - np.arange(len(starts))   # each ring loses 1 edge
    a = np.add.reduceat(terms, edge_starts)
    return np.where(a >= -1, (a + 1) // 2, -((-(a + 1)) // 2))


def _feature_areas(px, py, lens, feat, n):
    """Signed area of ``n`` features whose rings are packed end to end
    (ring k: the next ``lens[k]`` vertices, owned by feature
    ``feat[k]``): ``polygon_areas_packed`` summed per feature, so holes
    (clockwise) subtract (surfaces.ml:655-657)."""
    out = np.zeros(n, np.int64)
    np.add.at(out, feat, polygon_areas_packed(px, py, np.cumsum(lens) - lens, lens))
    return out


# ---------------------------------------------------------------------------
# Space-filling curves

# z-order bit-dilation steps (geometry.ml:529-536); the SQL z-order
# keys (``oracle_sql.zorder_ctes_duckdb``, the ``g10_curve_keys`` zkey
# column) unroll this table
_DILATE_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def hilbert_d(x, y):
    """Hilbert curve index of (x, y), vectorized, 31 bits per axis (so
    d fits int64).

    Standard xy2d rotation algorithm (public; Wikipedia "Hilbert curve").
    Serves the same spatial-clustering role as the reference's table-driven
    hilbert_coordinate (geometry.ml:514-526); key values themselves are an
    internal sort order, not part of any output contract (SURVEY.md §2 G10).
    """
    x = np.asarray(x, np.int64).copy()
    y = np.asarray(y, np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << 30
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        s >>= 1
    return d


def hilbert_key(lat_fp, lon_fp):
    """Hilbert key of fixed-point coords, offset like the reference
    (lat+90°, lon+180°; surfaces.ml:100-116).

    Both axes are shifted down 1 bit so lon+180° (3.6e9, 32 bits) fits the
    31-bit-per-axis index — a 2e-7° resolution loss, irrelevant for
    clustering.
    """
    lat = (np.asarray(lat_fp, np.int64) + LAT_OFFSET) >> 1
    lon = (np.asarray(lon_fp, np.int64) + LON_OFFSET) >> 1
    return hilbert_d(lat, lon)


# ---------------------------------------------------------------------------
# Douglas-Peucker


def simplify_ring_int(eps, x, y, lens):
    """Integer Douglas-Peucker over many polylines packed end to end in
    flat arrays: polyline k is the next ``lens[k]`` vertices of (x, y)
    and simplifies at its own ``eps[k]`` (a scalar applies to all).

    Exact semantics of douglas_peucker.ml:73-127: squared-eps
    comparison, strict ``>``; the perpendicular case rounds via
    ``truncate(float(n)*float(n)/float(d2))``; endpoint distances for
    ``t <= 0`` / ``t >= d2`` (so ``d2 == 0`` measures from the start);
    the first index of the maximum splits; polylines of <= 2 points
    keep every vertex.  Level-synchronous: each pass splits every open
    interval of every polyline at once (segment maximum by ``reduceat``),
    so Python runs once per recursion depth, never per interval.

    Returns a boolean keep-mask over the flat vertices (the kept
    subsequence of each polyline equals the reference's output order).
    """
    x = np.asarray(x, np.int64)
    y = np.asarray(y, np.int64)
    lens = np.asarray(lens, np.int64)
    eps2 = np.broadcast_to(np.asarray(eps, np.int64), lens.shape) ** 2
    ends = np.cumsum(lens)
    keep = np.zeros(len(x), dtype=bool)
    keep[(ends - lens)[lens > 0]] = True
    keep[ends[lens > 0] - 1] = True
    # open intervals (i1, i2) with interior points, each with its eps^2
    opn = lens > 2
    i1, i2, e2 = (ends - lens)[opn], ends[opn] - 1, eps2[opn]
    while len(i1):
        n = i2 - i1 - 1
        seg = np.cumsum(n) - n
        i = concat_ranges(i1 + 1, n)
        dx = x[i2] - x[i1]
        dy = y[i2] - y[i1]
        d2 = np.repeat(dx * dx + dy * dy, n)
        dx = np.repeat(dx, n)
        dy = np.repeat(dy, n)
        dxp = x[i] - np.repeat(x[i1], n)
        dyp = y[i] - np.repeat(y[i1], n)
        dxe = x[i] - np.repeat(x[i2], n)
        dye = y[i] - np.repeat(y[i2], n)
        t = dx * dxp + dy * dyp
        nc = (dx * dyp - dy * dxp).astype(np.float64)
        # d2 == 0 implies t == 0, so the guarded divisor is never read
        d_perp = np.trunc(nc * nc / np.maximum(d2, 1).astype(np.float64))
        dist = np.where(t <= 0, dxp * dxp + dyp * dyp,
                        np.where(t >= d2, dxe * dxe + dye * dye,
                                 d_perp.astype(np.int64)))
        mx = np.maximum.reduceat(dist, seg)
        at_max = np.flatnonzero(dist == np.repeat(mx, n))
        mi = i[at_max[np.searchsorted(at_max, seg)]]
        split = mx > e2
        i1, mi, i2, e2 = i1[split], mi[split], i2[split], e2[split]
        keep[mi] = True
        i1, i2, e2 = (np.concatenate((i1, mi)), np.concatenate((mi, i2)),
                      np.concatenate((e2, e2)))
        opn = i2 - i1 >= 2
        i1, i2, e2 = i1[opn], i2[opn], e2[opn]
    return keep


_SPAN_BOX = (("x_min", tile_x, np.minimum, 1), ("x_max", tile_x, np.maximum, 1),
             ("y_min", tile_y_float, np.maximum, 0),
             ("y_max", tile_y_float, np.minimum, 0))


def _dp_spans(lat, lon, starts, lens, eps, g0, zoom):
    """One ``simplify_ring_int`` pass, then each group's clamped tile
    span.  Polyline k is vertices ``starts[k]:starts[k] + lens[k]`` of
    ``lat``/``lon`` at eps ``eps[k]`` (DP's squared distances do not
    change when x and y swap, so the axis order is free); group j is
    polylines ``g0[j]:g0[j + 1]`` and keeps a vertex.  The bbox of its
    kept vertices becomes tiles at ``zoom[j]``, clamped to [0, 2^z - 1]
    (polar rows blow up, lon = +180° gives x = 2^z; the span explode
    must not fabricate tiles).  Returns (kept vertices per polyline,
    {x_min, x_max, y_min, y_max, n_pts} per group)."""
    v = concat_ranges(starts, lens)
    xy = (np.asarray(lat, np.int64)[v], np.asarray(lon, np.int64)[v])
    keep = simplify_ring_int(eps, *xy, lens)
    c = np.concatenate(([0], np.cumsum(keep)))
    ends = np.cumsum(lens)
    kept = c[ends] - c[ends - lens]
    n_pts = np.add.reduceat(kept, g0)
    k0 = np.cumsum(n_pts) - n_pts
    xy = (xy[0][keep], xy[1][keep])
    zoom = np.asarray(zoom)
    span = {}
    for name, tile, f, axis in _SPAN_BOX:
        edge = f.reduceat(xy[axis], k0) if len(k0) else k0
        span[name] = col = np.empty(len(k0), np.int64)
        for z in np.unique(zoom):
            g = zoom == z
            col[g] = np.clip(tile(edge[g], z), 0, (1 << int(z)) - 1)
    span["n_pts"] = n_pts
    return kept, span


# ---------------------------------------------------------------------------
# Polyline / ring clipping (G13)


def _round_div(num: int, den: int) -> int:
    """Nearest-integer division (half away from zero), exact ints."""
    if den < 0:
        num, den = -num, -den
    if num >= 0:
        return (2 * num + den) // (2 * den)
    return -((2 * -num + den) // (2 * den))


def _segment_cross_y(x0: int):
    def cross_y(x1, y1, x2, y2):
        num = int(y1) * (int(x2) - int(x0)) + int(y2) * (int(x0) - int(x1))
        den = int(x2) - int(x1)
        return _round_div(num, den)

    return cross_y


def clip_polyline_halfplane(x0: int, keep_left: bool, xs, ys):
    """Clip an open polyline at x=x0; returns a list of (xs', ys')
    pieces (a polyline may split into several runs)."""
    xs = np.asarray(xs, np.int64)
    ys = np.asarray(ys, np.int64)

    def inside(x):
        return x <= x0 if keep_left else x >= x0

    pieces = []
    cur_x: list[int] = []
    cur_y: list[int] = []

    cross_y = _segment_cross_y(x0)

    for i in range(len(xs)):
        if inside(xs[i]):
            if i > 0 and not inside(xs[i - 1]):
                cur_x.append(int(x0))
                cur_y.append(cross_y(xs[i - 1], ys[i - 1], xs[i], ys[i]))
            cur_x.append(int(xs[i]))
            cur_y.append(int(ys[i]))
        elif i > 0 and inside(xs[i - 1]):
            cur_x.append(int(x0))
            cur_y.append(cross_y(xs[i - 1], ys[i - 1], xs[i], ys[i]))
            if len(cur_x) >= 2:
                pieces.append((np.asarray(cur_x, np.int64),
                               np.asarray(cur_y, np.int64)))
            cur_x, cur_y = [], []
    if len(cur_x) >= 2:
        pieces.append((np.asarray(cur_x, np.int64), np.asarray(cur_y, np.int64)))
    return pieces

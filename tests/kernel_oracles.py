"""Scalar reference implementations of the flattened geometry kernels.

The engine runs one batched pass per Arrow batch
(``kernels.simplify_ring_int``, ``spatial_join._pip_pack``); these are
the per-ring / per-cell formulations they replaced, kept here as test
oracles only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from osm_spark.geo import kernels as K


def flat_layer(polys) -> pd.DataFrame:
    """[(feature_id, [(role, lat, lon), ...]), ...] as the flat ring
    columns (``spatial_join.ring_cols``) the CSR index build reads."""

    def cat(arrs):
        return (np.concatenate([np.asarray(a, np.int64) for a in arrs])
                if arrs else np.empty(0, np.int64))

    return pd.DataFrame({
        "feature_id": [f for f, _ in polys],
        "roles": [np.array([r[0] for r in rs], np.int64) for _, rs in polys],
        "lens": [np.array([len(r[1]) for r in rs], np.int64)
                 for _, rs in polys],
        "flat_lat": [cat([r[1] for r in rs]) for _, rs in polys],
        "flat_lon": [cat([r[2] for r in rs]) for _, rs in polys],
    })


def dp_scalar(eps: int, x, y) -> np.ndarray:
    """Integer Douglas-Peucker keep-mask of ONE polyline as an explicit
    interval stack (douglas_peucker.ml:73-127): squared eps, strict
    ``>``, ``trunc(float(n)*float(n)/float(d2))`` perpendicular case,
    endpoint distances for ``t <= 0`` / ``t >= d2``, first-index argmax."""
    x = np.asarray(x, np.int64)
    y = np.asarray(y, np.int64)
    n_pts = len(x)
    keep = np.zeros(n_pts, dtype=bool)
    if n_pts == 0:
        return keep
    keep[0] = keep[-1] = True
    if n_pts <= 2:
        return keep
    eps2 = eps * eps
    stack = [(0, n_pts - 1)]
    while stack:
        i1, i2 = stack.pop()
        if i2 - i1 < 2:
            continue
        dx = int(x[i2] - x[i1])
        dy = int(y[i2] - y[i1])
        d2 = dx * dx + dy * dy
        xi = x[i1 + 1:i2]
        yi = y[i1 + 1:i2]
        dxp = xi - x[i1]
        dyp = yi - y[i1]
        t = dx * dxp + dy * dyp
        d_start = dxp * dxp + dyp * dyp
        dxe = xi - x[i2]
        dye = yi - y[i2]
        d_end = dxe * dxe + dye * dye
        ncross = dx * dyp - dy * dxp
        d_perp = np.trunc(
            ncross.astype(np.float64) * ncross.astype(np.float64) / float(d2)
        ).astype(np.int64) if d2 != 0 else d_start
        dist = np.where(t <= 0, d_start, np.where(t >= d2, d_end, d_perp))
        max_i_rel = int(np.argmax(dist))
        if int(dist[max_i_rel]) > eps2:
            mi = i1 + 1 + max_i_rel
            keep[mi] = True
            stack.append((i1, mi))
            stack.append((mi, i2))
    return keep


def pip_cells_reference(polys, la, lo, z: int):
    """Per-cell PIP of points (la, lo) against ``polys`` =
    [(feature_id, [(role, lat, lon), ...]), ...]: a dict of bbox cells,
    and per occupied cell a dense (edges x points) crossing-number pass
    with the reference's tie rules; inside = in some role-0 ring and in
    no other ring of the polygon; zero-edge rings are skipped.
    Returns the set of (point_idx, feature_id) matches."""
    la = np.asarray(la, np.int64)
    lo = np.asarray(lo, np.int64)
    cells: dict = {}
    for fid, rings in polys:
        rings = [(r, np.asarray(a, np.int64), np.asarray(b, np.int64))
                 for r, a, b in rings if len(a) >= 2]
        if not rings:
            continue
        rla = np.concatenate([r[1] for r in rings])
        rlo = np.concatenate([r[2] for r in rings])
        for cx in range(int(K.tile_x(rlo.min(), z)),
                        int(K.tile_x(rlo.max(), z)) + 1):
            for cy in range(int(K.tile_y_float(rla.max(), z)),
                            int(K.tile_y_float(rla.min(), z)) + 1):
                cells.setdefault((cx, cy), []).append((fid, rings))
    out = set()
    pcx = K.tile_x(lo, z)
    pcy = K.tile_y_float(la, z)
    for (cx, cy), cands in cells.items():
        pts = np.flatnonzero((pcx == cx) & (pcy == cy))
        if not len(pts):
            continue
        x, y = lo[pts][None, :], la[pts][None, :]
        for fid, rings in cands:
            in_outer = np.zeros(len(pts), dtype=bool)
            in_hole = np.zeros(len(pts), dtype=bool)
            for role, rla, rlo in rings:
                xi, xj = rlo[:-1, None], rlo[1:, None]
                yi, yj = rla[:-1, None], rla[1:, None]
                pi = yi >= y
                d = (xj - xi) * (y - yi) - (x - xi) * (yj - yi)
                odd = ((pi != (yj >= y)) & ((d >= 0) != pi)).sum(axis=0) % 2 == 1
                if role == 0:
                    in_outer |= odd
                else:
                    in_hole |= odd
            out.update((int(p), int(fid)) for p in pts[in_outer & ~in_hole])
    return out

"""Spatial join: point-in-polygon tagging of pages against a polygon layer.

Spark-first re-expression of the reference's R-tree range query +
point-in-polygon scan (/root/reference/database/rtree.ml:173-195,
osm/geometry.ml:157-174).  Instead of an R-tree we use quadtree tile
cells (z-order prefix == slippy tile) as the spatial partitioning key:

  1. polygons → covering cells of their bbox (explode; the analog of
     R-tree leaf bboxes in Hilbert order),
  2. pages → their containing cell (pure JVM column expressions for
     both x and the mercator y),
  3. candidate join on cell — ``broadcast`` for small layers, else a
     shuffle join with optional **salting** for hot cells + AQE skew
     splitting,
  4. exact PIP verify with a vectorized crossing-number kernel (Arrow
     pandas UDF, grouped by ring inside each batch so the inner loop is
     numpy over all points of one ring).

JVM keys route, numpy decides: Spark-side cell keys (``with_cell``,
``polygon_cells``) only route rows to a task or a layer read, so no
Python runs before any exchange; the mappers' numpy kernels pick the
cell a point is matched in, and the JVM polygon registration is a padded
superset of numpy's, so boundary points still meet every candidate.

Inside-ness for polygons with holes: in some role-0 (outer) ring and in
no role-1 (hole) ring — matching the reference's hole handling
(cat=0 rings mark holes, osm/lib/osm_display.ml:593-598).

Scale notes (100 TB design):
- the polygon side after explode is (features × covering cells) — for
  OSM-planet-sized layers this still broadcasts per-cell slices well; the
  cogroup path shuffles pages once on cell id, which is also the layout
  a tile-partitioned Iceberg table would already have (no extra shuffle).
- the html/binary column is never referenced → column pruning keeps it
  out of every shuffle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import kernels as K

DEFAULT_CELL_ZOOM = 12


# ---------------------------------------------------------------------------
# tile/cell keys


def tile_x_col(lon_col, z: int):
    """Integer-exact tile column: (lon+180°)*2^z div 360°."""
    return F.expr(
        f"CAST((({lon_col} + {K.LON_OFFSET}L) * {1 << z}L) DIV {K.LON_WORLD}L AS BIGINT)"
    )


def tile_y_col(lat_col: str, z: int, pad: float = 0.0):
    """Mercator tile row ``floor(y + pad)`` as a pure JVM expression: the
    op order of ``K.tile_y_float`` with a cancellation-free asinh,
    ``sign(t)·log(|t| + sqrt(t²+1))`` (Spark's ``asinh`` cancels for
    t << 0: up to 800 rows off near −90° at z12, non-finite at −90°).
    Versus numpy on 2M random lats plus both polar windows: max |Δy|
    3.6e-12 rows at z12, doubling per zoom, no floor mismatch; not
    bit-exact, so it routes."""
    t = F.tan(F.col(lat_col) * F.lit(float(K.CONV)))
    asinh = F.signum(t) * F.log(F.abs(t) + F.sqrt(t * t + F.lit(1.0)))
    y = (F.lit(1.0) - asinh / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(1 << z))
    if pad:
        y = y + F.lit(pad)
    return F.floor(y).cast("long")


def with_cell(df: DataFrame, z: int = DEFAULT_CELL_ZOOM,
              lat="lat", lon="lon") -> DataFrame:
    """Add tile cell columns (cx, cy) at zoom z as JVM expressions.
    JVM keys route, numpy decides: the mappers recompute the cell."""
    return df.withColumn("cx", tile_x_col(lon, z)).withColumn(
        "cy", tile_y_col(lat, z))


# ---------------------------------------------------------------------------
# polygon side: bbox + covering cells


def with_bbox(polys: DataFrame) -> DataFrame:
    """Add bbox columns from the rings payload (JVM-side array ops)."""
    lats = F.flatten(F.expr("transform(rings, r -> r.lat)"))
    lons = F.flatten(F.expr("transform(rings, r -> r.lon)"))
    return (
        polys.withColumn("lat_min", F.array_min(lats))
        .withColumn("lat_max", F.array_max(lats))
        .withColumn("lon_min", F.array_min(lons))
        .withColumn("lon_max", F.array_max(lons))
    )


# Row padding ε of polygon_cells' JVM span: it contains numpy's span when
# ε > |Δy| (tile_y_col), and the JVM cell of every point in the bbox when
# ε > 2|Δy|.  |Δy| = 3.6e-12 rows at z12 doubling per zoom, so 1e-6 holds
# for z <= 28; it widens only spans with an edge within 1e-6 rows of a
# row boundary.
_CELL_PAD_ROWS = 1e-6


def polygon_cells(polys: DataFrame, z: int = DEFAULT_CELL_ZOOM) -> DataFrame:
    """Explode each polygon to the tile cells covering its bbox.

    The quadtree analog of R-tree leaf registration (rtree.ml:90-121).
    Pure JVM: JVM keys route, numpy decides — the row span is padded by
    ``_CELL_PAD_ROWS`` to contain the span numpy registers.
    """
    boxed = with_bbox(polys)
    boxed = (
        boxed.withColumn("cx_min", tile_x_col("lon_min", z))
        .withColumn("cx_max", tile_x_col("lon_max", z))
        # north edge = min row
        .withColumn("cy_min", tile_y_col("lat_max", z, -_CELL_PAD_ROWS))
        .withColumn("cy_max", tile_y_col("lat_min", z, _CELL_PAD_ROWS))
    )
    return (
        boxed.withColumn("cx", F.explode(F.sequence("cx_min", "cx_max")))
        .withColumn("cy", F.explode(F.sequence("cy_min", "cy_max")))
        .drop("cx_min", "cx_max", "cy_min", "cy_max",
              "lat_min", "lat_max", "lon_min", "lon_max")
    )


# ---------------------------------------------------------------------------
# shared edge-packed PIP kernel (broadcast AND cogroup paths)


def _pack_polys(polys: list) -> tuple:
    """Pack [(fid, [(role, lat_arr, lon_arr), ...]), ...] into flat
    int64 edge arrays so PIP is ONE vectorized crossing-number pass over
    (all edges) × (all points) — no per-polygon Python in the hot loop:
    (exi, eyi, exj, eyj, ring_starts, ring_poly, ring_role, fids)."""
    exi, eyi, exj, eyj = [], [], [], []
    ring_starts, ring_poly, ring_role, fids = [], [], [], []
    pos = 0
    for local, (fid, rings) in enumerate(polys):
        fids.append(fid)
        for role, rla, rlo in rings:
            if len(rla) < 2:
                # zero-edge ring: no area, and its empty reduceat
                # segment would corrupt the neighboring ring's count
                continue
            ring_starts.append(pos)
            ring_poly.append(local)
            ring_role.append(role)
            exi.append(rlo[:-1]); exj.append(rlo[1:])
            eyi.append(rla[:-1]); eyj.append(rla[1:])
            pos += len(rla) - 1
    if not exi:
        z64 = np.empty(0, np.int64)
        return (z64, z64, z64, z64, z64, z64, z64,
                np.asarray(fids, np.int64))
    return (
        np.concatenate(exi), np.concatenate(eyi),
        np.concatenate(exj), np.concatenate(eyj),
        np.asarray(ring_starts, np.int64),
        np.asarray(ring_poly, np.int64),
        np.asarray(ring_role, np.int64),
        np.asarray(fids, np.int64),
    )


def _pip_pack(pack: tuple, lo: np.ndarray, la: np.ndarray):
    """Exact PIP of points (lo, la) against a packed polygon set.

    Crossing-number with the reference's tie rules
    (osm/geometry.ml:157-174), vectorized edges × points; points are
    chunked so the work set stays ~L2-resident.  Holes: inside = in some
    role-0 ring of the feature and in none of its role-1 rings.
    Returns (poly_idx, point_idx) match index arrays.
    """
    exi, eyi, exj, eyj, rstarts, rpoly, rrole, fids = pack
    dx = (exj - exi)[:, None]
    dy = (eyj - eyi)[:, None]
    outer_rings = rrole == 0
    n_local = len(fids)
    out_p: list[np.ndarray] = []
    out_i: list[np.ndarray] = []
    pchunk = max(64, (1 << 18) // max(len(exi), 1))
    for cs in range(0, len(lo), pchunk):
        x = lo[cs:cs + pchunk][None, :]
        y = la[cs:cs + pchunk][None, :]
        pi = eyi[:, None] >= y
        pj = eyj[:, None] >= y
        cross = pi != pj
        d = dx * (y - eyi[:, None]) - (x - exi[:, None]) * dy
        toggle = (cross & ((d >= 0) != pi)).astype(np.int16)
        cnt = np.add.reduceat(toggle, rstarts, axis=0)
        inr = (cnt & 1).astype(bool)       # rings × points
        in_outer = np.zeros((n_local, x.shape[1]), dtype=bool)
        in_hole = np.zeros((n_local, x.shape[1]), dtype=bool)
        np.logical_or.at(in_outer, rpoly[outer_rings], inr[outer_rings])
        np.logical_or.at(in_hole, rpoly[~outer_rings], inr[~outer_rings])
        p_idx, pt_idx = np.nonzero(in_outer & ~in_hole)
        out_p.append(p_idx)
        out_i.append(pt_idx + cs)
    return (np.concatenate(out_p) if out_p else np.empty(0, np.int64),
            np.concatenate(out_i) if out_i else np.empty(0, np.int64))


def _rings_of(rings) -> list:
    """Normalize a rings payload (Rows from collect(), dicts from Arrow)
    to [(role, lat_arr, lon_arr), ...]."""
    return [
        (int(r["role"]),
         np.asarray(r["lat"], np.int64),
         np.asarray(r["lon"], np.int64))
        for r in rings
    ]


# ---------------------------------------------------------------------------
# broadcast path: cell-indexed PIP in one mapInPandas pass

def build_cell_index(poly_rows, z: int):
    """Driver-side cell index of a collected polygon layer — the
    in-memory analog of the R-tree the reference scans per viewport
    (rtree.ml:173-195): bbox registration per covering cell, exact PIP
    at query time; per-cell layout from ``_pack_polys``."""
    per_cell: dict[tuple[int, int], list] = {}
    for r in poly_rows:
        fid = int(r["feature_id"])
        rings = _rings_of(r["rings"])
        la = np.concatenate([rg[1] for rg in rings])
        lo = np.concatenate([rg[2] for rg in rings])
        cx0 = int(K.tile_x(lo.min(), z)); cx1 = int(K.tile_x(lo.max(), z))
        cy0 = int(K.tile_y_float(la.max(), z)); cy1 = int(K.tile_y_float(la.min(), z))
        for cx in range(cx0, cx1 + 1):
            for cy in range(cy0, cy1 + 1):
                per_cell.setdefault((cx, cy), []).append((fid, rings))
    return {cell: _pack_polys(polys) for cell, polys in per_cell.items()}


def _match_batch(index: dict, la: np.ndarray, lo: np.ndarray, z: int):
    """Match one point batch against a (cell -> packed polys) index:
    sort by cell key, one ``_pip_pack`` pass per occupied cell.
    Returns (point_idx, feature_id) arrays."""
    cx = K.tile_x(lo, z)
    cy = K.tile_y_float(la, z)
    cell_key = (cx << 32) | cy
    order = np.argsort(cell_key, kind="stable")
    out_i: list[np.ndarray] = []
    out_f: list[np.ndarray] = []
    uniq, starts = np.unique(cell_key[order], return_index=True)
    bounds = np.append(starts, len(order))
    for u, s0, s1 in zip(uniq, bounds[:-1], bounds[1:]):
        cell = index.get((int(u >> 32), int(u & 0xFFFFFFFF)))
        if cell is None:
            continue
        ii_all = order[s0:s1]
        p_idx, pt_idx = _pip_pack(cell, lo[ii_all], la[ii_all])
        if len(p_idx):
            out_i.append(ii_all[pt_idx])
            out_f.append(cell[7][p_idx])
    return (np.concatenate(out_i) if out_i else np.empty(0, np.int64),
            np.concatenate(out_f) if out_f else np.empty(0, np.int64))


def _broadcast_join_mapper(bc, z: int, how: str):
    def fn(batches):
        index = bc.value
        for pdf in batches:
            keys = pdf.iloc[:, 0].to_numpy()
            la = pdf["lat"].to_numpy(np.int64)
            lo = pdf["lon"].to_numpy(np.int64)
            out_k: list[np.ndarray] = []
            out_f: list[np.ndarray] = []
            matched = np.zeros(len(keys), dtype=bool)
            hits, fids = _match_batch(index, la, lo, z)
            if len(hits):
                matched[hits] = True
                out_k.append(keys[hits])
                out_f.append(fids)
            n_miss = 0
            if how == "left":
                miss = keys[~matched]
                n_miss = len(miss)
                out_k.append(miss)
                out_f.append(np.zeros(n_miss, np.int64))
            kcat = np.concatenate(out_k) if out_k else np.empty(0, np.int64)
            fcat = np.concatenate(out_f) if out_f else np.empty(0, np.int64)
            mask = np.zeros(len(kcat), dtype=bool)
            if n_miss:
                mask[len(kcat) - n_miss:] = True  # NULL feature_id for misses
            yield pd.DataFrame({
                "k": kcat,
                "feature_id": pd.arrays.IntegerArray(fcat, mask),
            })

    return fn


# ---------------------------------------------------------------------------
# top-level joins


def suggest_salt(pages: DataFrame, z: int = DEFAULT_CELL_ZOOM - 3,
                 max_salt: int = 64,
                 sample_frac: float | None = None) -> int:
    """Salt factor from the measured cell histogram (SURVEY.md §7: hot
    cells are cities by construction; the factor is computed, not
    guessed): replicate enough that the hottest cell's share lands near
    the p95 cell.  Measure at the zoom the salt will apply to — the
    default is the COGROUP zoom (z-3); for the partitioned disk-index
    path pass ``z=DEFAULT_CELL_ZOOM - COARSE_SHIFT`` (same value by
    default, kept explicit so the two stay decoupled).  Clamped to
    [1, max_salt]; AQE skew-join remains the runtime backstop.  One JVM
    aggregate: the cells only count rows, so no Python runs.

    ``sample_frac`` estimates the histogram from a deterministic
    sample — the max/p95 RATIO is scale-free, so at 10^12 pages a
    1e-4 sample gives the same factor for a fraction of the scan."""
    if sample_frac is not None:
        pages = pages.sample(fraction=sample_frac, seed=7)
    counts = with_cell(pages, z).groupBy("cx", "cy").count()
    row = counts.agg(
        F.max("count").alias("mx"),
        F.percentile_approx("count", 0.95).alias("p95"),
    ).first()
    if not row or not row.mx or not row.p95:
        return 1
    return max(1, min(max_salt, math.ceil(row.mx / max(row.p95, 1))))


def broadcast_polygon_index(polys: DataFrame, z: int = DEFAULT_CELL_ZOOM):
    """Collect + cell-index a polygon layer and broadcast it.  Build once
    per layer version and reuse across joins — at 10^12 pages the build
    cost amortizes to zero (the reference builds its R-tree once the
    same way, rtree.ml:90-134)."""
    spark = polys.sparkSession
    index = build_cell_index(polys.select("feature_id", "rings").collect(), z)
    return spark.sparkContext.broadcast(index)


# polygon layers up to this many total vertices broadcast (~32 B/edge
# packed → ≈64 MB index); larger layers take the salted cell-cogroup path
BROADCAST_MAX_VERTS = 2_000_000


# Per-worker cache of built group indexes.  Salt replicas of the same
# coarse cell carry IDENTICAL polygon sets — whenever two replicas land
# on the same (reused) Python worker, the second skips the rebuild
# entirely.  FIFO-bounded; keyed by (cx, cy, z) + feature-id AND
# geometry checksums (vertex count, wrapped coordinate sums/xors), so
# a stale entry cannot be served for a different polygon set, a moved
# geometry, or a different fine zoom.  The checksum costs one vertex
# concat, reused by the build on a miss.
_GROUP_INDEX_CACHE: dict = {}
_GROUP_INDEX_CACHE_MAX = 32


def _cogroup_cell_fn(page_key: str, z: int):
    """Cogrouped (pages-in-coarse-cell, polygons-in-coarse-cell) →
    exact matches.

    Rings cross the shuffle ONCE per (coarse cell, salt replica) —
    never per candidate (page, polygon) pair.  Inside each group the
    SAME machinery as the broadcast path runs: a local fine-zoom cell
    index over the group's polygons, then one vectorized PIP pass per
    occupied fine cell.  Cogrouping at a coarser zoom keeps groups few
    and large (per-group Arrow overhead amortizes over ~10^3-10^4
    pages instead of ~10^2); the per-worker index cache dedups the
    build across salt replicas of the same cell."""

    def fn(key: tuple, pts_pdf: pd.DataFrame,
           polys_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pts_pdf) or not len(polys_pdf):
            return pd.DataFrame({
                "k": pd.array([], dtype="int64"),
                "feature_id": pd.array([], dtype="int64"),
            })
        fid_arr = polys_pdf["feature_id"].to_numpy(np.int64)
        lat_l = [np.asarray(v, np.int64) for v in polys_pdf["flat_lat"]]
        lon_l = [np.asarray(v, np.int64) for v in polys_pdf["flat_lon"]]
        V_lat = (np.concatenate(lat_l) if lat_l
                 else np.empty(0, np.int64))
        V_lon = (np.concatenate(lon_l) if lon_l
                 else np.empty(0, np.int64))
        with np.errstate(over="ignore"):
            ck = (int(key[0]), int(key[1]), z, len(fid_arr),
                  int(fid_arr.sum()), int(np.bitwise_xor.reduce(fid_arr)),
                  len(V_lat),
                  int(V_lat.sum(dtype=np.int64)),
                  int(V_lon.sum(dtype=np.int64)),
                  int(np.bitwise_xor.reduce(V_lat)) if len(V_lat) else 0,
                  int(np.bitwise_xor.reduce(V_lon)) if len(V_lon) else 0)
        index = _GROUP_INDEX_CACHE.get(ck)
        if index is None:
            index = _build_group_index_packed(polys_pdf, fid_arr, z,
                                              lat_l=lat_l, lon_l=lon_l)
            while len(_GROUP_INDEX_CACHE) >= _GROUP_INDEX_CACHE_MAX:
                _GROUP_INDEX_CACHE.pop(next(iter(_GROUP_INDEX_CACHE)))
            _GROUP_INDEX_CACHE[ck] = index
        lo = pts_pdf["lon"].to_numpy(np.int64)
        la = pts_pdf["lat"].to_numpy(np.int64)
        pt_idx, fids = _match_batch(index, la, lo, z)
        keys = pts_pdf[page_key].to_numpy()
        return pd.DataFrame({
            "k": keys[pt_idx],
            "feature_id": fids,
        })

    return fn


def _build_group_index_packed(polys_pdf: pd.DataFrame,
                              fid_arr: np.ndarray, z: int,
                              lat_l: list | None = None,
                              lon_l: list | None = None) -> dict:
    """Fine-zoom cell index from the group's flat vertex arrays: one
    global concat, edge arrays via two boolean masks (drop each ring's
    last / first vertex), per-feature bboxes via reduceat, per-cell
    packs via slice-concat — no per-ring Python anywhere."""
    nf = len(fid_arr)
    if lat_l is None:
        lat_l = [np.asarray(v, np.int64) for v in polys_pdf["flat_lat"]]
        lon_l = [np.asarray(v, np.int64) for v in polys_pdf["flat_lon"]]
    else:
        lat_l, lon_l = list(lat_l), list(lon_l)
    lens_l = [np.asarray(v, np.int64) for v in polys_pdf["lens"]]
    roles_l = [np.asarray(v, np.int64) for v in polys_pdf["roles"]]
    # drop zero-edge rings (0- or 1-vertex): they carry no area, and
    # their empty reduceat segments would crash on (or steal crossing
    # counts from) neighboring rings.  Rare, so repack only when hit.
    for f in range(nf):
        l = lens_l[f]
        if len(l) and (l < 2).any():
            keep = l >= 2
            vkeep = np.repeat(keep, l)
            lat_l[f] = lat_l[f][vkeep]
            lon_l[f] = lon_l[f][vkeep]
            lens_l[f] = l[keep]
            roles_l[f] = roles_l[f][keep]
    V_lat = np.concatenate(lat_l)
    V_lon = np.concatenate(lon_l)
    n_verts = np.fromiter((len(a) for a in lat_l), np.int64, nf)
    voff = np.concatenate(([0], np.cumsum(n_verts)))
    ring_vlens = np.concatenate(lens_l)           # vertices per ring
    rends = np.cumsum(ring_vlens)                  # global vertex offsets
    rstarts_v = rends - ring_vlens
    # edge arrays: ring-aligned "all but last" / "all but first" vertices
    mask_i = np.ones(len(V_lat), dtype=bool); mask_i[rends - 1] = False
    mask_j = np.ones(len(V_lat), dtype=bool); mask_j[rstarts_v] = False
    EXI = V_lon[mask_i]; EYI = V_lat[mask_i]
    EXJ = V_lon[mask_j]; EYJ = V_lat[mask_j]
    n_rings = np.fromiter((len(l) for l in lens_l), np.int64, nf)
    foff_e = np.concatenate(([0], np.cumsum(n_verts - n_rings)))
    ring_elens_l = [l - 1 for l in lens_l]         # edges per ring
    # per-feature bbox (reduceat over the vertex arrays); a feature
    # left with no vertices registers no cells (empty segment guard)
    if not len(V_lat):
        return {}
    nonempty = n_verts > 0
    st = np.minimum(voff[:-1], len(V_lat) - 1)
    lo_min = np.minimum.reduceat(V_lon, st)
    lo_max = np.maximum.reduceat(V_lon, st)
    la_min = np.minimum.reduceat(V_lat, st)
    la_max = np.maximum.reduceat(V_lat, st)
    cx0 = K.tile_x(lo_min, z)
    cx1 = K.tile_x(lo_max, z)
    cy0 = K.tile_y_float(la_max, z)
    cy1 = K.tile_y_float(la_min, z)
    per_cell: dict[tuple[int, int], list[int]] = {}
    for i in range(nf):
        if not nonempty[i]:
            continue
        for cx in range(int(cx0[i]), int(cx1[i]) + 1):
            for cy in range(int(cy0[i]), int(cy1[i]) + 1):
                per_cell.setdefault((cx, cy), []).append(i)
    index = {}
    for cell, fi in per_cell.items():
        sl = [slice(foff_e[f], foff_e[f + 1]) for f in fi]
        rl = [ring_elens_l[f] for f in fi]
        ring_lens = np.concatenate(rl)
        ring_starts = np.concatenate(([0], np.cumsum(ring_lens)[:-1]))
        index[cell] = (
            np.concatenate([EXI[s] for s in sl]),
            np.concatenate([EYI[s] for s in sl]),
            np.concatenate([EXJ[s] for s in sl]),
            np.concatenate([EYJ[s] for s in sl]),
            ring_starts.astype(np.int64),
            np.repeat(np.arange(len(fi), dtype=np.int64),
                      [len(r) for r in rl]),
            np.concatenate([roles_l[f] for f in fi]),
            fid_arr[np.asarray(fi, np.int64)],
        )
    return index


# ---------------------------------------------------------------------------
# partitioned disk-index path: the Spark analog of the reference's
# ON-DISK R-tree (database/rtree.ml memory-maps the tree and range-reads
# leaf pages per query).  The polygon layer is written cell-sorted in
# parquet; pages range-partition on the cell key (a pure JVM columnar
# exchange — no pandas cogroup machinery); every worker then range-reads
# ONLY its partition's cell span from the layer file with row-group
# statistics pruning.  No polygon replication, no grouped-map sort of
# the pages side, layer size bounded by disk not executor memory.


CKEY_SCALE = 1 << 32
COARSE_SHIFT = 3          # coarse partition cells at z - COARSE_SHIFT


_LAYER_META = "_osm_layer_meta.json"


def _write_layer_meta(path: str, z: int, zc: int) -> None:
    import json
    import os

    with open(os.path.join(path, _LAYER_META), "w") as fh:
        json.dump({"z": z, "zc": zc}, fh)


def _read_layer_meta(path: str) -> dict:
    import json
    import os

    p = os.path.join(path, _LAYER_META)
    if not os.path.exists(p):
        raise ValueError(
            f"{path} has no {_LAYER_META}: not a write_partitioned_layer "
            "output")
    with open(p) as fh:
        return json.load(fh)


def write_partitioned_layer(polys: DataFrame, path: str,
                            z: int = DEFAULT_CELL_ZOOM,
                            n_files: int = 32) -> str:
    """One-time layer build (the R-tree bulk load, rtree.ml:90-134):
    explode polygons to covering COARSE cells, sort by the coarse key,
    write parquet so per-partition isin reads prune by row-group
    statistics.  Amortized across every join against this layer
    version."""
    zc = max(z - COARSE_SHIFT, 2)
    cells = polygon_cells(polys.select("feature_id", "rings"), zc).select(
        (F.col("cx").cast("long") * CKEY_SCALE + F.col("cy")).alias("gkey"),
        "feature_id",
        F.expr("transform(rings, r -> r.role)").alias("roles"),
        F.expr("transform(rings, r -> size(r.lat))").alias("lens"),
        F.flatten(F.expr("transform(rings, r -> r.lat)")).alias("flat_lat"),
        F.flatten(F.expr("transform(rings, r -> r.lon)")).alias("flat_lon"),
    )
    (cells.repartitionByRange(n_files, "gkey")
     .sortWithinPartitions("gkey")
     .write.mode("overwrite")
     .option("parquet.block.size", 1 << 20)
     .parquet(path))
    # sidecar records the key geometry so a reader at a different z
    # fails loudly instead of silently matching nothing (on Iceberg
    # this would be a table property)
    _write_layer_meta(path, z, zc)
    return path


# span-group byte budget for the partitioned-join mapper: Arrow batches
# accumulate only up to this bound before matching/emitting, so worker
# memory stays O(budget + layer-slice), not O(partition) — at 100x page
# density a partition is GBs and must never materialize whole in one
# Python worker
PJOIN_BATCH_BYTES = 64 << 20


def _partitioned_join_mapper(layer_path: str, z: int, zc: int, how: str,
                             page_key: str):
    import os

    budget = int(os.environ.get(
        "OSM_SPARK_PJOIN_BATCH_BYTES", PJOIN_BATCH_BYTES))

    def fn(batches):
        import pyarrow.dataset as pads

        dataset = pads.dataset(layer_path, format="parquet")
        # lazy per-partition layer-index cache: the exchange routed
        # whole coarse cells here; the first span group reads (and prunes
        # by row-group stats on the gkey-sorted file) the numpy coarse
        # cells of its points, later groups only read cells not yet seen.
        # The vectorized index rebuild on a cache miss is effectively
        # free (BENCH/ANALYSIS.md round-3 floor decomposition).
        seen_gk: set[int] = set()
        have_fid: set[int] = set()
        layer_parts: list[pd.DataFrame] = []
        index = None

        def ensure_index(gk: np.ndarray):
            nonlocal index
            miss = [int(v) for v in np.unique(gk) if int(v) not in seen_gk]
            if miss:
                seen_gk.update(miss)
                tbl = dataset.to_table(
                    filter=pads.field("gkey").isin(miss))
                if tbl.num_rows:
                    # a polygon spanning k cells appears k times in the
                    # file (and across successive range reads); dedupe
                    # by feature before the index build — the build
                    # re-registers every covering cell itself
                    lp = tbl.to_pandas().drop_duplicates("feature_id")
                    lp = lp[~lp["feature_id"].isin(have_fid)]
                    if len(lp):
                        have_fid.update(
                            int(v) for v in lp["feature_id"].to_numpy())
                        layer_parts.append(lp)
                        index = None
            if index is None and layer_parts:
                lpdf = (layer_parts[0] if len(layer_parts) == 1
                        else pd.concat(layer_parts, ignore_index=True))
                fid_arr = lpdf["feature_id"].to_numpy(np.int64)
                index = _build_group_index_packed(lpdf, fid_arr, z)
            return index

        def flush(group: list[pd.DataFrame]) -> pd.DataFrame:
            pdf = group[0] if len(group) == 1 else pd.concat(group)
            keys = pdf[page_key].to_numpy()
            la = pdf["lat"].to_numpy(np.int64)
            lo = pdf["lon"].to_numpy(np.int64)
            gk = K.tile_x(lo, zc) * CKEY_SCALE + K.tile_y_float(la, zc)
            out_k: list[np.ndarray] = []
            out_f: list[np.ndarray] = []
            matched = np.zeros(len(keys), dtype=bool)
            idx = ensure_index(gk) if len(gk) else None
            if idx is not None:
                hits, fids = _match_batch(idx, la, lo, z)
                if len(hits):
                    matched[hits] = True
                    out_k.append(keys[hits])
                    out_f.append(fids)
            n_miss = 0
            if how == "left":
                miss = keys[~matched]
                n_miss = len(miss)
                out_k.append(miss)
                out_f.append(np.zeros(n_miss, np.int64))
            kcat = np.concatenate(out_k) if out_k else np.empty(0, np.int64)
            fcat = np.concatenate(out_f) if out_f else np.empty(0, np.int64)
            mask = np.zeros(len(kcat), dtype=bool)
            if n_miss:
                mask[len(kcat) - n_miss:] = True
            return pd.DataFrame({
                "k": kcat,
                "feature_id": pd.arrays.IntegerArray(fcat, mask),
            })

        group: list[pd.DataFrame] = []
        gbytes = 0
        for b in batches:
            if not len(b):
                continue
            group.append(b)
            # deep=True: object-dtype columns (string page keys / urls)
            # must count their payload, not 8 bytes/pointer — otherwise
            # held memory can exceed the budget by the string factor
            gbytes += int(b.memory_usage(index=False, deep=True).sum())
            if gbytes >= budget:
                yield flush(group)
                group, gbytes = [], 0
        if group:
            yield flush(group)

    return fn


def spatial_join_partitioned(
    pages: DataFrame,
    layer_path: str,
    z: int = DEFAULT_CELL_ZOOM,
    how: str = "inner",
    page_key: str = "page_id",
    salt: int = 1,
    pages_clustered: bool = False,
) -> DataFrame:
    """PIP-join against a ``write_partitioned_layer`` output: pages
    hash-partition on the coarse cell key (one JVM columnar exchange,
    no range-sampling job, no pandas cogroup, no Python before it; AQE
    sizes the reduce side), each worker reads ONLY its partition's
    coarse cells from the layer parquet (row-group pruning on the sorted
    gkey) and runs the shared vectorized index + PIP kernels.  The layer
    never shuffles and is bounded by disk, not executor memory.
    ``salt`` spreads a hot coarse cell's pages across partitions — the
    price is duplicate layer READS, never duplicate shuffle bytes.
    ``pages_clustered=True`` declares the pages table spatially
    clustered in storage (``cluster.cluster_by_hilbert`` layout) and
    skips the exchange entirely — the zero-shuffle co-located spatial
    join.  Returns (page_key, feature_id) like ``spatial_join``."""
    meta = _read_layer_meta(layer_path)
    if meta["z"] != z:
        raise ValueError(
            f"layer at {layer_path} was written for z={meta['z']}, "
            f"join requested z={z} — cell keys would not align")
    zc = meta["zc"]
    pts = pages.select(page_key, "lat", "lon")
    if not pages_clustered:
        # routing only: the mapper recomputes the cells it reads
        keys = [tile_x_col("lon", zc) * CKEY_SCALE + tile_y_col("lat", zc)]
        if salt > 1:
            keys.append(F.pmod(F.xxhash64(page_key), F.lit(salt)))
        pts = pts.repartition(*keys)
    return pts.mapInPandas(
        _partitioned_join_mapper(layer_path, z, zc, how, page_key),
        "k long, feature_id long",
    ).withColumnRenamed("k", page_key)


def spatial_join(
    pages: DataFrame,
    polys: DataFrame,
    z: int = DEFAULT_CELL_ZOOM,
    how: str = "inner",
    broadcast_polys: bool | None = None,
    salt: int | None = None,
    page_key: str = "page_id",
    index=None,
    broadcast_max_verts: int = BROADCAST_MAX_VERTS,
    cogroup_zoom: int | None = None,
    layer_path: str | None = None,
    pages_clustered: bool = False,
) -> DataFrame:
    """PIP-join pages (with lat/lon columns) to a polygon layer.

    Returns (page_key, feature_id); ``how='left'`` keeps unmatched pages
    with NULL feature_id (outer-default semantics, database/join.ml:35-57).

    Strategy (``broadcast_polys=None`` auto-picks from the measured
    layer size — one cheap aggregate over the polygon side only):

    - **broadcast**: ships a (cell → packed polygon) index to every
      executor once and PIP-tags pages in a single mapInPandas pass —
      zero shuffles, zero joins.  Right whenever the packed layer fits
      comfortably in executor memory (``broadcast_max_verts``).
    - **partitioned disk-index** (when ``layer_path`` — a
      ``write_partitioned_layer`` output — is given): pages
      hash-partition on the coarse cell key and each task range-reads
      only its cells from the layer parquet; with
      ``pages_clustered=True`` the exchange is skipped entirely.  The
      preferred path for layers above the broadcast limit.
    - **salted cell-cogroup**: the fallback when no materialized layer
      exists — pages shuffle once on (cell, salt); polygon cells
      replicate ``salt`` ways; rings ship once per (cell, salt) group,
      never per candidate pair.  ``salt`` spreads hot (city) cells; AQE
      skew-join remains the runtime backstop.  Use
      ``suggest_salt(pages)`` to derive the factor from the measured
      cell histogram.
    """
    if broadcast_polys is None and index is not None:
        broadcast_polys = True      # caller already built the index
    if broadcast_polys is None:
        nv = polys.select(
            F.expr("aggregate(transform(rings, r -> size(r.lat)),"
                   " 0L, (a, x) -> a + x)").alias("nv")
        ).agg(F.sum("nv").alias("v")).first()
        broadcast_polys = int(nv.v or 0) <= broadcast_max_verts

    if not broadcast_polys and layer_path is not None:
        return spatial_join_partitioned(
            pages, layer_path, z=z, how=how, page_key=page_key,
            salt=salt or 1, pages_clustered=pages_clustered)

    if broadcast_polys:
        bc = index if index is not None else broadcast_polygon_index(polys, z)
        out = pages.select(page_key, "lat", "lon").mapInPandas(
            _broadcast_join_mapper(bc, z, how),
            "k long, feature_id long",
        ).withColumnRenamed("k", page_key)
        return out

    # shuffle at a coarser zoom than the PIP cells: fewer, larger
    # cogroup groups (per-group Arrow overhead amortizes), and fewer
    # polygon replicas; each group builds the fine-zoom index locally
    # from the flat vertex arrays (vectorized, cached across salt
    # replicas on the same worker).  z-3 measured best at 2M×20k
    # (z-4 groups get big enough that the group index rebuild and the
    # polygon replica decode dominate; finer than z-2 fragments groups)
    zc = max(z - 3, 2) if cogroup_zoom is None else cogroup_zoom
    pts = with_cell(pages.select(page_key, "lat", "lon"), zc)
    # flat primitive vertex columns (minimum shuffle bytes — edge arrays
    # are derived group-side with vectorized masks, never per-ring
    # Python).  Primitive int64 lists only: nested array<struct<array>>
    # payloads segfault pyspark's cogroup Arrow->pandas conversion.
    cells = polygon_cells(polys.select("feature_id", "rings"), zc).select(
        "cx", "cy", "feature_id",
        F.expr("transform(rings, r -> r.role)").alias("roles"),
        F.expr("transform(rings, r -> size(r.lat))").alias("lens"),
        F.flatten(F.expr("transform(rings, r -> r.lat)")).alias("flat_lat"),
        F.flatten(F.expr("transform(rings, r -> r.lon)")).alias("flat_lon"),
    )

    keys = ["cx", "cy"]
    if salt and salt > 1:
        keys = ["cx", "cy", "salt"]
        pts = pts.withColumn("salt", F.pmod(F.xxhash64(page_key), F.lit(salt)))
        cells = cells.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("salt", F.col("salt").cast("long"))

    matches = (
        pts.groupBy(*keys)
        .cogroup(cells.groupBy(*keys))
        .applyInPandas(_cogroup_cell_fn(page_key, z), "k long, feature_id long")
        .withColumnRenamed("k", page_key)
    )

    if how == "left":
        return pages.select(page_key).join(matches, page_key, "left")
    return matches


def spatial_join_pages(pages_with_geo: DataFrame, polys: DataFrame, **kw) -> DataFrame:
    """Convenience: join and keep url + feature info."""
    m = spatial_join(pages_with_geo, polys, **kw)
    return pages_with_geo.join(m, kw.get("page_key", "page_id"), "left").select(
        "url", "feature_id"
    )

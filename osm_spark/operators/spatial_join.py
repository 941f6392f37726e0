"""Spatial join: point-in-polygon tagging of pages against a polygon layer.

Spark-first re-expression of the reference's R-tree range query +
point-in-polygon scan (/root/reference/database/rtree.ml:173-195,
osm/geometry.ml:157-174).  Instead of an R-tree we use quadtree tile
cells (z-order prefix == slippy tile) as the spatial partitioning key:

  1. polygons → covering cells of their bbox (explode; the analog of
     R-tree leaf bboxes in Hilbert order),
  2. pages → their containing cell (pure JVM column expressions for
     both x and the mercator y),
  3. candidate lookup by cell — a broadcast cell index for small
     layers, else the partitioned disk-index path: the layer is written
     once cell-sorted in parquet (the on-disk R-tree), pages
     hash-partition on the coarse cell with optional **salting** for
     hot cells, and each task range-reads only its cells,
  4. exact PIP verify with a flattened crossing-number kernel: one
     numpy pass per Arrow batch over (point, candidate edge) pairs
     gathered through a CSR cell index (``CellIndex``), reduced to ring
     parity and then the holes rule with ``reduceat`` — no per-cell or
     per-ring Python.

JVM keys route, numpy decides: Spark-side cell keys (``cell_key_sql``,
``polygon_cells``) only route rows to a task or a layer read, so no
Python runs before any exchange; the mappers' numpy kernels pick the
cell a point is matched in, and the JVM polygon registration is a padded
superset of numpy's, so boundary points still meet every candidate.

Inside-ness for polygons with holes: in some role-0 (outer) ring and in
no role-1 (hole) ring — matching the reference's hole handling
(cat=0 rings mark holes, osm/lib/osm_display.ml:593-598).

Scale notes (100 TB design):
- the broadcast CSR index stores every vertex once; only its 8-byte
  (cell, polygon) registrations grow with the covering cells; the
  partitioned path shuffles pages once on the coarse cell id (none when
  they are stored spatially clustered) and never shuffles the layer.
- the html/binary column is never referenced → column pruning keeps it
  out of every shuffle.
"""

from __future__ import annotations

import json
import math
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from osm_spark.geo import kernels as K
from osm_spark.operators.sqlexpr import sql_name
from osm_spark.sources import ranges as R

DEFAULT_CELL_ZOOM = 12
CKEY_SCALE = 1 << 32      # cell key = cx * CKEY_SCALE + cy
COARSE_SHIFT = 3          # partitioned-layer cells at z - COARSE_SHIFT


# ---------------------------------------------------------------------------
# tile/cell keys
#
# Each key is ONE SQL expression string: a plan built from ``F.expr`` /
# ``selectExpr`` strings costs one py4j round trip per call, where the
# same expression as a chain of ``Column`` calls costs one per node.


def tile_x_sql(lon: str, z: int) -> str:
    """Integer-exact tile column over the SQL ``lon``:
    (lon+180°)*2^z div 360°."""
    return (f"CAST((({lon} + {K.LON_OFFSET}L) * {1 << z}L) DIV "
            f"{K.LON_WORLD}L AS BIGINT)")


def tile_y_sql(lat: str, z: int, pad: float = 0.0) -> str:
    """Mercator tile row ``floor(y + pad)`` over the SQL ``lat``: the
    op order of ``K.tile_y_float`` with a cancellation-free asinh,
    ``sign(t)·log(|t| + sqrt(t²+1))`` (Spark's ``asinh`` cancels for
    t << 0: up to 800 rows off near −90° at z12, non-finite at −90°).
    Versus numpy on 2M random lats plus both polar windows: max |Δy|
    3.6e-12 rows at z12, doubling per zoom, no floor mismatch; not
    bit-exact, so it routes.  Doubles are written as ``repr`` + ``D``,
    so each constant parses to the same double."""
    t = f"tan({lat} * {float(K.CONV)!r}D)"
    asinh = f"signum({t}) * ln(abs({t}) + sqrt({t} * {t} + 1.0D))"
    y = f"(1.0D - {asinh} / {math.pi!r}D) / 2.0D * {float(1 << z)!r}D"
    if pad:
        y = f"{y} + ({float(pad)!r}D)"
    return f"CAST(floor({y}) AS BIGINT)"


def cell_key_sql(z: int) -> str:
    """The cell key ``cx * CKEY_SCALE + cy`` of ``lat``/``lon`` at zoom ``z``."""
    return f"{tile_x_sql('lon', z)} * {CKEY_SCALE} + {tile_y_sql('lat', z)}"


# ---------------------------------------------------------------------------
# polygon side: bbox + covering cells


# Row padding ε of polygon_cells' JVM span: it contains numpy's span when
# ε > |Δy| (tile_y_sql), and the JVM cell of every point in the bbox when
# ε > 2|Δy|.  |Δy| = 3.6e-12 rows at z12 doubling per zoom, so 1e-6 holds
# for z <= 28; it widens only spans with an edge within 1e-6 rows of a
# row boundary.
_CELL_PAD_ROWS = 1e-6


def polygon_cells(polys: DataFrame, z: int = DEFAULT_CELL_ZOOM) -> DataFrame:
    """Explode each polygon to the tile cells (cx, cy) covering its bbox,
    cx-major.

    The quadtree analog of R-tree leaf registration (rtree.ml:90-121).
    Pure JVM: JVM keys route, numpy decides — the row span is padded by
    ``_CELL_PAD_ROWS`` to contain the span numpy registers.  One
    generator per axis, so a polygon's x×y cells stream as rows and
    never form one array.
    """
    lat = "flatten(transform(rings, r -> r.lat))"
    lon = "flatten(transform(rings, r -> r.lon))"
    xs = (f"sequence({tile_x_sql(f'array_min({lon})', z)}, "
          f"{tile_x_sql(f'array_max({lon})', z)})")
    return polys.selectExpr(
        "*", f"explode({xs}) AS cx",
        # north edge = min row
        f"{tile_y_sql(f'array_max({lat})', z, -_CELL_PAD_ROWS)} AS _cy_min",
        f"{tile_y_sql(f'array_min({lat})', z, _CELL_PAD_ROWS)} AS _cy_max",
    ).selectExpr("*", "explode(sequence(_cy_min, _cy_max)) AS cy").drop(
        "_cy_min", "_cy_max")


# ---------------------------------------------------------------------------
# CSR cell index + flattened PIP kernel (broadcast and partitioned paths)


# A ``rings`` payload as flat primitive columns (``selectExpr``
# strings): ``roles`` and ``lens`` (vertices) per ring, ``flat_lat`` /
# ``flat_lon`` per vertex.  JVM-side array ops; the index build and the
# geometry mappers consume these.
RING_SQL = (
    "transform(rings, r -> r.role) AS roles",
    "transform(rings, r -> size(r.lat)) AS lens",
    "flatten(transform(rings, r -> r.lat)) AS flat_lat",
    "flatten(transform(rings, r -> r.lon)) AS flat_lon",
)


def flat_values(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated int64 values, per-row lengths) of a list column."""
    parts = col.to_list()
    n = np.fromiter(map(len, parts), np.int64, len(parts))
    return (np.concatenate(parts).astype(np.int64, copy=False) if n.sum()
            else np.empty(0, np.int64)), n


def _unpack_rings(pdf: pd.DataFrame, min_len: int):
    """A batch's ``RING_SQL`` columns as flat arrays, rings of fewer
    than ``min_len`` vertices dropped: (lat, lon) per vertex, (lens,
    roles, feat) per ring, and ``live``, the rows left with a ring;
    ``feat`` indexes ``live``, and each feature's rings stay
    contiguous."""
    lens, n_rings = flat_values(pdf["lens"])
    roles, _ = flat_values(pdf["roles"])
    lat, _ = flat_values(pdf["flat_lat"])
    lon, _ = flat_values(pdf["flat_lon"])
    feat = np.repeat(np.arange(len(pdf)), n_rings)
    ok = lens >= min_len
    if not ok.all():
        vkeep = np.repeat(ok, lens)
        lat, lon = lat[vkeep], lon[vkeep]
        lens, roles, feat = lens[ok], roles[ok], feat[ok]
    live, feat = np.unique(feat, return_inverse=True)
    return lat, lon, lens, roles, feat, live


class CellIndex(NamedTuple):
    """CSR cell index of a polygon layer at zoom ``z``; every vertex is
    stored once, whatever the number of cells its polygon covers.

    Cell ``keys[c]`` (``cx * CKEY_SCALE + cy``, sorted) registers the
    polygons ``cell_poly[cell_off[c]:cell_off[c + 1]]`` (bbox
    registration); polygon ``p`` owns rings ``poly_ring[p]:poly_ring[p +
    1]``; ring ``r`` owns vertices ``ring_vert[r]:ring_vert[r + 1]`` of
    ``lat`` / ``lon``, its edges join consecutive vertices, and
    ``ring_hole[r]`` marks a non-outer role.  ``lat_min`` / ``lat_max``
    / ``lon_max`` bound each polygon's vertices.  Zero-edge rings and
    polygons left without rings are not stored: they match nothing.
    Pickled size (a ring of v vertices has v - 1 edges): 16 B/edge +
    25 B/ring + 40 B/polygon + 8 B/(cell, polygon) registration +
    16 B/cell, plus ~1 kB of framing."""
    z: int
    keys: np.ndarray
    cell_off: np.ndarray
    cell_poly: np.ndarray
    poly_ring: np.ndarray
    ring_vert: np.ndarray
    ring_hole: np.ndarray
    lat: np.ndarray
    lon: np.ndarray
    fids: np.ndarray
    lat_min: np.ndarray
    lat_max: np.ndarray
    lon_max: np.ndarray


def _build_group_index_packed(polys_pdf: pd.DataFrame, z: int) -> CellIndex:
    """CSR cell index of a polygon layer from its ``feature_id`` and
    ``RING_SQL`` columns: one ``_unpack_rings``, bboxes by reduceat,
    and the (cell, polygon) registrations expanded and sorted once — no
    per-polygon or per-cell Python."""
    # a zero-edge (0/1-vertex) ring carries no area, and its empty
    # reduceat segment would take crossings from its neighbour
    lat, lon, lens, roles, ring_poly, live = _unpack_rings(polys_pdf, 2)
    fids = polys_pdf["feature_id"].to_numpy(np.int64)[live]
    n_poly = len(fids)
    poly_ring = np.concatenate(
        ([0], np.cumsum(np.bincount(ring_poly, minlength=n_poly))))
    ring_vert = np.concatenate(([0], np.cumsum(lens)))
    # bbox cells: each polygon registers the cx0..cx1 x cy0..cy1 block
    pv = ring_vert[poly_ring[:-1]]
    box = [f.reduceat(a, pv) if n_poly else pv for f, a in (
        (np.minimum, lon), (np.maximum, lon),
        (np.minimum, lat), (np.maximum, lat))]
    cx0, cx1 = K.tile_x(box[0], z), K.tile_x(box[1], z)
    cy0, cy1 = K.tile_y_float(box[3], z), K.tile_y_float(box[2], z)
    ny = cy1 - cy0 + 1
    n_cells = (cx1 - cx0 + 1) * ny
    reg = np.repeat(np.arange(n_poly), n_cells)
    k = K.concat_ranges(np.zeros(n_poly, np.int64), n_cells)
    key = (cx0[reg] + k // ny[reg]) * CKEY_SCALE + cy0[reg] + k % ny[reg]
    order = np.argsort(key, kind="stable")
    keys, first = np.unique(key[order], return_index=True)
    return CellIndex(
        z=int(z), keys=keys,
        cell_off=np.append(first, len(key)).astype(np.int64),
        cell_poly=reg[order], poly_ring=poly_ring, ring_vert=ring_vert,
        ring_hole=roles != 0, lat=lat, lon=lon, fids=fids,
        lat_min=box[2], lat_max=box[3], lon_max=box[1])


# elements per vectorized chunk: (point, polygon) pairs and (pair, ring)
# segments per point chunk, (pair, edge) slots per crossing-test chunk;
# ~10 int64 temporaries of this length stay a few tens of MB
PIP_CHUNK = 1 << 18


def _chunks(sizes: np.ndarray):
    """``[s, e)`` runs of consecutive items whose ``sizes`` sum to at
    most ``PIP_CHUNK``; an item larger than that runs alone."""
    ends = np.cumsum(sizes)
    s = 0
    while s < len(sizes):
        e = max(s + 1, int(np.searchsorted(ends, ends[s] - sizes[s] + PIP_CHUNK,
                                           side="right")))
        yield s, e
        s = e


def _pip_pack(index: CellIndex, la: np.ndarray, lo: np.ndarray):
    """Exact PIP of one point batch against a CSR cell index, as one
    flattened pass: points sort by cell and ``searchsorted`` into the
    keys, then run in chunks of at most ``PIP_CHUNK`` candidate (point,
    ring) segments — their cells' polygons' rings — so every temporary
    is bounded by the chunk, not by the batch.  Per chunk, (point,
    candidate polygon) pairs within the polygon's bbox and their (pair,
    ring) segments gather through the CSR offsets; over sub-chunks of
    whole segments, the edges a point's row crosses take the crossing
    test with the reference's tie rules (osm/geometry.ml:157-174:
    ``py >= y``, ``d >= 0``) and their toggles count into ring parity
    per segment; a ``reduceat`` over each pair's rings applies the holes
    rule (inside = in some outer ring of the polygon and in none of its
    holes).  Returns (point_idx, feature_id) match arrays."""
    empty = np.empty(0, np.int64)
    if not len(index.keys) or not len(la):
        return empty, empty
    key = K.tile_x(lo, index.z) * CKEY_SCALE + K.tile_y_float(la, index.z)
    order = np.argsort(key, kind="stable")
    key = key[order]
    c = np.minimum(np.searchsorted(index.keys, key), len(index.keys) - 1)
    found = index.keys[c] == key
    pts, c = order[found], c[found]
    cell_rings = np.add.reduceat(np.diff(index.poly_ring)[index.cell_poly],
                                 index.cell_off[:-1])
    hits, fids = [empty], [empty]
    for s, e in _chunks(cell_rings[c]):
        h, f = _pip_points(index, la, lo, pts[s:e], c[s:e])
        hits.append(h)
        fids.append(f)
    return np.concatenate(hits), np.concatenate(fids)


def _pip_points(index: CellIndex, la, lo, pts, c):
    """``_pip_pack`` of the points ``pts`` found in index cells ``c``."""
    # (point, polygon) candidate pairs inside the polygon's bbox: a point
    # above, below or east of every vertex toggles no edge
    n = index.cell_off[c + 1] - index.cell_off[c]
    pair_pt = np.repeat(pts, n)
    pair_poly = index.cell_poly[K.concat_ranges(index.cell_off[c], n)]
    y, x = la[pair_pt], lo[pair_pt]
    near = ((y >= index.lat_min[pair_poly]) & (y <= index.lat_max[pair_poly])
            & (x <= index.lon_max[pair_poly]))
    pair_pt, pair_poly = pair_pt[near], pair_poly[near]
    if not len(pair_poly):
        return pair_pt, pair_poly
    # (pair, ring) segments and their edge counts
    nr = index.poly_ring[pair_poly + 1] - index.poly_ring[pair_poly]
    ring = K.concat_ranges(index.poly_ring[pair_poly], nr)
    seg_pt = np.repeat(pair_pt, nr)
    v0 = index.ring_vert[ring]
    ne = index.ring_vert[ring + 1] - v0 - 1
    odd = np.empty(len(ring), dtype=np.uint8)
    for s, e in _chunks(ne):
        m = ne[s:e]
        v = K.concat_ranges(v0[s:e], m)
        y = np.repeat(la[seg_pt[s:e]], m)
        yi, yj = index.lat[v], index.lat[v + 1]
        pi = yi >= y
        # only an edge the point's row crosses can toggle
        cross = np.flatnonzero(pi != (yj >= y))
        seg = np.searchsorted(np.cumsum(m) - m, cross, side="right") - 1
        v, y, yi, yj, pi = v[cross], y[cross], yi[cross], yj[cross], pi[cross]
        x = lo[seg_pt[s + seg]]
        xi, xj = index.lon[v], index.lon[v + 1]
        d = (xj - xi) * (y - yi) - (x - xi) * (yj - yi)
        odd[s:e] = np.bincount(seg[(d >= 0) != pi], minlength=e - s) & 1
    # per pair: bit 0 = in an outer ring, bit 1 = in a hole
    code = odd << index.ring_hole[ring].astype(np.uint8)
    inside = np.bitwise_or.reduceat(code, np.cumsum(nr) - nr) == 1
    return pair_pt[inside], index.fids[pair_poly[inside]]


# the join mappers' output: (page key as ``k``, feature_id)
_MATCH_SCHEMA = StructType([StructField("k", LongType()),
                            StructField("feature_id", LongType())])


def _point_batch(batch):
    """(keys, lat, lon, valid) of a (key, lat, lon) Arrow batch; a row
    with a NULL coordinate is not valid and matches nothing."""
    la, lo = batch.column(1), batch.column(2)
    valid = pc.and_(la.is_valid(), lo.is_valid()).to_numpy(
        zero_copy_only=False)
    return (batch.column(0),
            pc.fill_null(la, 0).to_numpy().astype(np.int64, copy=False),
            pc.fill_null(lo, 0).to_numpy().astype(np.int64, copy=False),
            valid)


def _match_emit(index: CellIndex | None, batch, how: str):
    """One (key, lat, lon) Arrow batch -> its (k, feature_id) rows;
    ``how='left'`` appends every unmatched key with a NULL feature_id."""
    keys, la, lo, valid = _point_batch(batch)
    hits = fids = np.empty(0, np.int64)
    if index is not None:
        ok = np.flatnonzero(valid)
        hits, fids = _pip_pack(index, la[ok], lo[ok])
        hits = ok[hits]
    null = np.zeros(len(hits), dtype=bool)
    if how == "left":
        miss = np.ones(len(keys), dtype=bool)
        miss[hits] = False
        miss = np.flatnonzero(miss)
        hits = np.concatenate((hits, miss))
        fids = np.concatenate((fids, np.zeros(len(miss), np.int64)))
        null = np.concatenate((null, np.ones(len(miss), dtype=bool)))
    return pa.RecordBatch.from_arrays(
        [keys.take(pa.array(hits)).cast(pa.int64()),
         pa.array(fids, type=pa.int64(), mask=null)],
        names=["k", "feature_id"])


# ---------------------------------------------------------------------------
# broadcast path: one mapInArrow pass over a broadcast CellIndex


def _broadcast_join_mapper(bc, how: str):
    def fn(batches):
        index = bc.value
        for batch in batches:
            yield _match_emit(index, batch, how)

    return fn


# ---------------------------------------------------------------------------
# top-level joins


MAX_SALT = 64             # suggest_salt's upper clamp


def suggest_salt(pages: DataFrame,
                 z: int = DEFAULT_CELL_ZOOM - COARSE_SHIFT) -> int:
    """Salt factor from the measured cell histogram (SURVEY.md §7: hot
    cells are cities by construction; the factor is computed, not
    guessed): replicate enough that the hottest cell's share lands near
    the p95 cell.  Measure at the zoom the salt will apply to — the
    default is the partitioned layer's coarse zoom.  Clamped to
    [1, ``MAX_SALT``]; AQE skew-join remains the runtime backstop.  One
    JVM aggregate: the cells only count rows, so no Python runs."""
    counts = pages.groupBy(F.expr(f"{tile_x_sql('lon', z)} AS cx"),
                           F.expr(f"{tile_y_sql('lat', z)} AS cy")).count()
    row = counts.selectExpr("max(count) AS mx",
                            "percentile_approx(count, 0.95) AS p95").first()
    if not row or not row.mx or not row.p95:
        return 1
    return max(1, min(MAX_SALT, math.ceil(row.mx / max(row.p95, 1))))


def broadcast_polygon_index(polys: DataFrame):
    """Collect + cell-index a polygon layer and broadcast it.  Build once
    per layer version and reuse across joins — at 10^12 pages the build
    cost amortizes to zero (the reference builds its R-tree once the
    same way, rtree.ml:90-134).  One collect of the flat ring columns,
    then the vectorized CSR build."""
    cols = polys.selectExpr("feature_id", *RING_SQL)
    pdf = pd.DataFrame(cols.collect(), columns=cols.columns)
    return polys.sparkSession.sparkContext.broadcast(
        _build_group_index_packed(pdf, DEFAULT_CELL_ZOOM))


# polygon layers up to this many total vertices broadcast (CSR index:
# 16 B/vertex + small per-ring/per-cell terms → ≈40 MB); larger layers
# take the partitioned disk-index path
BROADCAST_MAX_VERTS = 2_000_000


# ---------------------------------------------------------------------------
# partitioned disk-index path: the Spark analog of the reference's
# ON-DISK R-tree (database/rtree.ml memory-maps the tree and range-reads
# leaf pages per query).  The polygon layer is written cell-sorted in
# parquet; pages hash-partition on the coarse cell key (a pure JVM
# columnar exchange); every worker then range-reads ONLY its partition's
# cells from the layer file with row-group statistics pruning.  No
# polygon replication, no grouped-map sort of the pages side, layer size
# bounded by disk not executor memory.


_LAYER_META = "_osm_layer_meta.json"


def _meta_path(path: str) -> str:
    return f"{path.rstrip('/')}/{_LAYER_META}"


def is_written_layer(path: str) -> bool:
    """Whether ``path`` holds a ``write_partitioned_layer`` output (its
    key-geometry sidecar is there)."""
    return R.exists(_meta_path(path))


def _write_layer_meta(path: str, z: int, zc: int) -> None:
    R.write_text(_meta_path(path), json.dumps({"z": z, "zc": zc}))


def _read_layer_meta(path: str) -> dict:
    if not is_written_layer(path):
        raise ValueError(
            f"{path} has no {_LAYER_META}: not a write_partitioned_layer "
            "output")
    return json.loads(R.read_text(_meta_path(path)))


def write_partitioned_layer(polys: DataFrame, path: str,
                            n_files: int = 32) -> str:
    """One-time layer build (the R-tree bulk load, rtree.ml:90-134):
    explode polygons to covering COARSE cells, sort by the coarse key,
    write parquet so per-partition isin reads prune by row-group
    statistics.  Amortized across every join against this layer
    version."""
    z = DEFAULT_CELL_ZOOM
    zc = z - COARSE_SHIFT
    cells = polygon_cells(polys.selectExpr("feature_id", "rings"), zc).selectExpr(
        f"cx * {CKEY_SCALE} + cy AS gkey", "feature_id", *RING_SQL)
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
# Python worker.  Read on the driver when the mapper is built.
PJOIN_BATCH_BYTES = 64 << 20


def _partitioned_join_mapper(layer_path: str, z: int, zc: int, how: str,
                             page_key: str):
    budget = PJOIN_BATCH_BYTES

    def fn(batches):
        import pyarrow.dataset as pads

        fsys, rel = R._pa_fs(layer_path)
        dataset = pads.dataset(rel, format="parquet", filesystem=fsys)
        # lazy per-partition layer-index cache: the exchange routed
        # whole coarse cells here; the first span group reads (and prunes
        # by row-group stats on the gkey-sorted file) the numpy coarse
        # cells of its points, later groups only read cells not yet seen.
        seen_gk: set[int] = set()
        have_fid = np.empty(0, np.int64)
        layer_parts: list[pd.DataFrame] = []
        index = None

        def ensure_index(gk: np.ndarray):
            nonlocal index, have_fid
            miss = [int(v) for v in np.unique(gk) if int(v) not in seen_gk]
            if miss:
                seen_gk.update(miss)
                tbl = dataset.to_table(
                    filter=pads.field("gkey").isin(miss))
                if tbl.num_rows:
                    # a polygon spanning k cells appears k times in the
                    # file (and across successive range reads); keep one
                    # copy per feature — the build registers every
                    # covering cell itself
                    fid = tbl.column("feature_id").to_numpy()
                    u, first = np.unique(fid, return_index=True)
                    new = ~np.isin(u, have_fid)
                    if new.any():
                        have_fid = np.concatenate((have_fid, u[new]))
                        layer_parts.append(
                            tbl.take(pa.array(first[new])).to_pandas())
                        index = None
            if index is None and layer_parts:
                lpdf = (layer_parts[0] if len(layer_parts) == 1
                        else pd.concat(layer_parts, ignore_index=True))
                index = _build_group_index_packed(lpdf, z)
            return index

        def flush(group: list) -> pa.RecordBatch:
            batch = (group[0] if len(group) == 1 else
                     pa.Table.from_batches(group).combine_chunks()
                     .to_batches()[0])
            _, la, lo, valid = _point_batch(batch)
            gk = (K.tile_x(lo[valid], zc) * CKEY_SCALE
                  + K.tile_y_float(la[valid], zc))
            return _match_emit(ensure_index(gk) if len(gk) else None,
                               batch, how)

        group: list = []
        gbytes = 0
        for b in batches:
            if not b.num_rows:
                continue
            group.append(b)
            gbytes += b.nbytes
            if gbytes >= budget:
                yield flush(group)
                group, gbytes = [], 0
        if group:
            yield flush(group)

    return fn


def spatial_join_partitioned(
    pages: DataFrame,
    layer_path: str,
    how: str = "inner",
    page_key: str = "page_id",
    salt: int = 1,
    pages_clustered: bool = False,
) -> DataFrame:
    """PIP-join against a ``write_partitioned_layer`` output: pages
    hash-partition on the coarse cell key (one JVM columnar exchange,
    no range-sampling job, no Python before it; AQE
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
    _check_how(how)
    meta = _read_layer_meta(layer_path)
    z = DEFAULT_CELL_ZOOM
    if meta["z"] != z:
        raise ValueError(
            f"layer at {layer_path} was written for z={meta['z']}, "
            f"the join reads z={z} — cell keys would not align")
    zc = meta["zc"]
    pts = pages.selectExpr(sql_name(page_key), "lat", "lon")
    if not pages_clustered:
        # routing only: the mapper recomputes the cells it reads
        keys = [F.expr(cell_key_sql(zc))]
        if salt > 1:
            keys.append(F.expr(f"pmod(xxhash64({sql_name(page_key)}), {salt})"))
        pts = pts.repartition(*keys)
    return pts.mapInArrow(
        _partitioned_join_mapper(layer_path, z, zc, how, page_key),
        _MATCH_SCHEMA,
    ).withColumnRenamed("k", page_key)


def _check_how(how: str) -> None:
    if how not in ("inner", "left"):
        raise ValueError(
            f"how={how!r}: a spatial join is 'inner' or 'left'")


def spatial_join(
    pages: DataFrame,
    polys: DataFrame,
    how: str = "inner",
    page_key: str = "page_id",
    index=None,
) -> DataFrame:
    """PIP-join pages (with lat/lon columns) to a polygon layer.

    Returns (page_key, feature_id); ``how='left'`` keeps unmatched pages
    with NULL feature_id (outer-default semantics, database/join.ml:35-57).
    ``how`` is ``'inner'`` or ``'left'``; anything else raises
    ``ValueError``.

    Strategy (a passed ``index`` — a ``broadcast_polygon_index`` —
    always broadcasts; otherwise one cheap aggregate over the polygon
    side measures the layer size):

    - **broadcast**: ships a CSR cell index to every executor once
      and PIP-tags pages in a single mapInArrow pass —
      zero shuffles, zero joins.  Right whenever the CSR index fits
      comfortably in executor memory (``BROADCAST_MAX_VERTS``).
    - **partitioned disk-index** (every other case): the layer is
      written once per call with ``write_partitioned_layer`` to a new
      ``osm_layer_*`` directory under the session's
      ``spark.sql.warehouse.dir`` (the executors read it, so the
      warehouse must be a filesystem they share; it is deleted when the
      driver exits, so collect the join before that), then joined by
      ``spatial_join_partitioned``.  To reuse a layer across joins, or
      to salt hot (city) cells (``suggest_salt``), write the layer once
      and call ``spatial_join_partitioned`` directly.
    """
    _check_how(how)
    if index is None:
        nv = polys.selectExpr(
            "sum(aggregate(transform(rings, r -> size(r.lat)), 0L, (a, x) -> a + x))"
            " AS v").first()
        if int(nv.v or 0) <= BROADCAST_MAX_VERTS:
            index = broadcast_polygon_index(polys)

    if index is not None:
        return pages.selectExpr(sql_name(page_key), "lat", "lon").mapInArrow(
            _broadcast_join_mapper(index, how), _MATCH_SCHEMA,
        ).withColumnRenamed("k", page_key)

    # the returned join is lazy: its scratch layer lives until exit
    layer_path = R.scratch_dir(
        pages.sparkSession.conf.get("spark.sql.warehouse.dir"), "osm_layer_")
    write_partitioned_layer(polys, layer_path)
    return spatial_join_partitioned(pages, layer_path, how=how,
                                    page_key=page_key)

"""Reference implementations the engine's fast forms are tested against.

The engine runs one batched pass per Arrow batch
(``kernels.simplify_ring_int``, ``spatial_join._pip_pack``); the
per-ring / per-cell formulations they replaced live here.  So do the
``Column``-chain forms of the JVM keys and the regexp geocoder, which
the engine now writes as one SQL expression per derived column, a
plain Dijkstra the contraction hierarchy's distances are held to, and
the per-point, all-pairs and batch twins no query runs: the Mercator
and Morton kernels, the quorum ring containment, the all-pairs cosine
near-dup, the batch sessionizer and the driver-side WARC record index.
The physical-plan readers the plan-shape tests and the cost ledger
share close the file.
"""

from __future__ import annotations

import heapq
import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark import fixtures as FX
from osm_spark.fixtures import GEO_A, GEO_B, LAT0, LON0, SPAN
from osm_spark.geo import kernels as K


def flat_layer(polys) -> pd.DataFrame:
    """[(feature_id, [(role, lat, lon), ...]), ...] as the flat ring
    columns (``spatial_join.RING_SQL``) the CSR index build reads."""

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


# ---------------------------------------------------------------------------
# Column-chain forms of the JVM expressions


def tile_y_col_chain(lat_col: str, z: int, pad: float = 0.0):
    """Mercator tile row ``floor(y + pad)`` as a chain of Column calls
    (``spatial_join.tile_y_sql`` is the one-expression form)."""
    t = F.tan(F.col(lat_col) * F.lit(float(K.CONV)))
    asinh = F.signum(t) * F.log(F.abs(t) + F.sqrt(t * t + F.lit(1.0)))
    y = (F.lit(1.0) - asinh / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(1 << z))
    if pad:
        y = y + F.lit(pad)
    return F.floor(y).cast("long")


def page_tiles_chain(pages_geo, zooms, key: str = "page_id"):
    """``tiles.page_tiles`` as Column calls: x/y at the finest zoom,
    coarser zooms by shifts, exploded from an array of structs."""
    zooms = tuple(zooms)
    zmax = max(zooms)
    base = pages_geo.select(
        F.col(key),
        F.expr(f"CAST(((lon + {K.LON_OFFSET}L) * {1 << zmax}L) DIV "
               f"{K.LON_WORLD}L AS BIGINT)").alias("_x"),
        tile_y_col_chain("lat", zmax).alias("_y"),
    )
    structs = [
        F.struct(
            F.lit(z).alias("z"),
            F.shiftright("_x", zmax - z).alias("x"),
            F.shiftright("_y", zmax - z).alias("y"),
        )
        for z in zooms
    ]
    return (
        base.select(F.col(key), F.explode(F.array(*structs)).alias("t"))
        .select(key, "t.z", "t.x", "t.y")
    )


_GEO_RE = r"/geo/(-?\d+)/(-?\d+)/"


def geocode_pages_regexp(df, url_col: str = "url"):
    """``geocode.geocode_pages`` as ``Column`` calls, three
    ``regexp_extract``: the page id is ``page(\\d+)$``, lat/lon the first
    ``/geo/<lat>/<lon>/`` match, else the hash geocode of the page id."""
    page_id = F.regexp_extract(F.col(url_col), r"page(\d+)$", 1).try_cast("long")
    lat_s = F.regexp_extract(F.col(url_col), _GEO_RE, 1)
    lon_s = F.regexp_extract(F.col(url_col), _GEO_RE, 2)
    m = F.pmod(page_id, F.lit(SPAN))
    lat_h = (F.lit(LAT0) + F.pmod(m * F.lit(GEO_A % SPAN), F.lit(SPAN))).cast("long")
    lon_h = (F.lit(LON0) + F.pmod(m * F.lit(GEO_B % SPAN), F.lit(SPAN))).cast("long")
    return (
        df.withColumn("page_id", page_id)
        .withColumn("lat", F.when(lat_s != "", lat_s.try_cast("long")).otherwise(lat_h))
        .withColumn("lon", F.when(lon_s != "", lon_s.try_cast("long")).otherwise(lon_h))
    )


def polygon_cells_chain(polys, z: int, pad_rows: float):
    """``spatial_join.polygon_cells`` as Column calls: bbox columns,
    padded cell spans, then one explode per axis."""
    lats = F.flatten(F.expr("transform(rings, r -> r.lat)"))
    lons = F.flatten(F.expr("transform(rings, r -> r.lon)"))

    def tile_x(c):
        return F.expr(f"CAST((({c} + {K.LON_OFFSET}L) * {1 << z}L) DIV "
                      f"{K.LON_WORLD}L AS BIGINT)")

    boxed = (polys.withColumn("lat_min", F.array_min(lats))
             .withColumn("lat_max", F.array_max(lats))
             .withColumn("lon_min", F.array_min(lons))
             .withColumn("lon_max", F.array_max(lons))
             .withColumn("cx_min", tile_x("lon_min"))
             .withColumn("cx_max", tile_x("lon_max"))
             .withColumn("cy_min", tile_y_col_chain("lat_max", z, -pad_rows))
             .withColumn("cy_max", tile_y_col_chain("lat_min", z, pad_rows)))
    return (boxed.withColumn("cx", F.explode(F.sequence("cx_min", "cx_max")))
            .withColumn("cy", F.explode(F.sequence("cy_min", "cy_max")))
            .drop("cx_min", "cx_max", "cy_min", "cy_max",
                  "lat_min", "lat_max", "lon_min", "lon_max"))


def dijkstra_ref(edge_rows: list[tuple], s: int) -> dict[int, float]:
    """Plain Dijkstra over (src, dst, weight) rows: node -> distance
    from ``s`` on the original graph.  Its own loop, independent of
    ``routing._dijkstra``."""
    adj: dict[int, list[tuple[int, float]]] = {}
    for src, dst, w in edge_rows:
        adj.setdefault(int(src), []).append((int(dst), float(w)))
    dist = {int(s): 0.0}
    pq = [(0.0, int(s))]
    while pq:
        d0, x = heapq.heappop(pq)
        if d0 > dist.get(x, np.inf):
            continue
        for y, w in adj.get(x, ()):
            nd = d0 + w
            if nd < dist.get(y, np.inf):
                dist[y] = nd
                heapq.heappush(pq, (nd, y))
    return dist


# ---------------------------------------------------------------------------
# Per-point and all-pairs twins of the engine's batch forms


def pages_df(spark, n: int):
    """The first ``n`` fixture pages as a driver-built DataFrame."""
    return spark.createDataFrame(FX.generate_pages_range(0, n))


def distance_m(lat1, lon1, lat2, lon2):
    """Haversine in whole meters (floor of the reference's mm value)."""
    return K.distance(lat1, lon1, lat2, lon2) // 1000


_COEFF_1 = 180.0 / np.pi * K.FIXED_POINT
_COEFF_2 = np.pi / 180.0 / K.FIXED_POINT / 2.0
_PI_4 = np.pi / 4.0


def lat_to_y(lat_fp):
    """Mercator y in fixed-point units (osm/geometry.ml:44-48)."""
    lat = np.asarray(lat_fp, np.float64)
    return _COEFF_1 * np.log(np.tan(_PI_4 + lat * _COEFF_2))


def y_to_lat(y):
    y = np.asarray(y, np.float64)
    return (np.arctan(np.exp(y / _COEFF_1)) - _PI_4) / _COEFF_2


def ring_mostly_in_ring(qx, qy, px, py, quorum: float = 0.7) -> bool:
    """Quorum containment: >= quorum of (qx,qy) vertices inside ring
    (px,py) — the overlap-arbitration rule of
    osm/geometry.ml:314-346 (polygon_mostly_in_polygon,
    70% threshold used by multipolygons.ml:551-572)."""
    qx = np.asarray(qx, np.int64)[:-1]  # drop closing dup
    qy = np.asarray(qy, np.int64)[:-1]
    inside = K.points_in_ring(qx, qy, px, py)
    return bool(inside.sum() >= quorum * len(qx))


def dilate(x):
    """Bit-dilation (insert a 0 between every bit); geometry.ml:529-536."""
    x = np.asarray(x, np.uint64)
    for shift, mask in K._DILATE_MASKS:
        x = (x | (x << np.uint64(shift))) & np.uint64(mask)
    return x


def z_order(x, y):
    """Morton interleave of two 32-bit values (geometry.ml:538)."""
    return ((dilate(x) << np.uint64(1)) | dilate(y)).astype(np.int64)


def douglas_peucker_int(eps: int, x, y):
    """Keep-mask of one polyline: ``simplify_ring_int`` on a batch of one."""
    return K.simplify_ring_int(eps, x, y, [len(x)])


def cosine_near_dup(emb, threshold: float = 0.95):
    """All-pairs twin of ``similarity.cosine_near_dup_bucketed``: every
    (id_a < id_b) pair through the same exact quantized cosine."""
    from osm_spark.operators import similarity as SIM

    comp = SIM._quantized_components(emb)
    a = comp.select(F.col("vec_id").alias("id_a"), "idx", F.col("q").alias("qa"))
    b = comp.select(F.col("vec_id").alias("id_b"), "idx", F.col("q").alias("qb"))
    dots = (
        a.join(b, "idx")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    return (
        SIM._with_cosine(dots, SIM._norms(comp), "id_a", "id_b")
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def sessionize_batch(events, gap_s: int = 1800):
    """Batch twin of ``streaming.events.sessionize`` (lag + cumulative
    session id): (user_id, session_start, n_events, sum_cents)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = events.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
         > gap_s * 1_000_000)
        .cast("int").alias("is_new"),
    ).fillna({"is_new": 1})
    sess = gapped.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("session_start"),
             F.count("*").cast("int").alias("n_events"),
             F.sum("cents").alias("sum_cents"))
        .select("user_id", "session_start", "n_events", "sum_cents")
    )


def iter_warc_index(path: str) -> list[tuple[int, int, bool]]:
    """(offset, size, compressed) per WARC record of ``path`` on the
    driver: from the cdx side file when it is trusted, else from the
    serial walk (``warc_index``'s sources without Spark)."""
    from osm_spark.sources import warc

    rows = warc._cdx_rows(path)
    return list(warc._walk(path)) if rows is None else rows


# ---------------------------------------------------------------------------
# Physical plans


def executed_plan(df) -> str:
    """``df``'s executed physical plan as Spark prints it, one node per
    line; an adaptive plan that has not run shows its initial plan."""
    return df._jdf.queryExecution().executedPlan().toString()


def new_plans(spark, action) -> list[str]:
    """Physical plan descriptions (``explain("formatted")`` text, final
    after adaptive re-planning) of the SQL executions ``action`` runs,
    oldest first.  The status store lists executions by id and evicts
    the oldest, so new ones are picked by id, not by list position."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = execs.last().executionId() if execs.size() else -1
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    plans = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return plans[::-1]


def call_plans(spark, fn) -> list[str]:
    """The plans of one operator call: those of the executions ``fn()``
    runs, plus the executed plan of the DataFrame it returns, if any."""
    out = []
    plans = new_plans(spark, lambda: out.append(fn()))
    if isinstance(out[0], DataFrame):
        plans.append(executed_plan(out[0]))
    return plans


# a node line: tree prefix, optional whole-stage-codegen mark ("* " in
# formatted text, "*(1) " in executed_plan's), then the node name
_NODE = re.compile(r"[ :|+-]*(?:\*(?:\(\d+\))? *)?(\w+)")
_PYTHON = re.compile(r"Python|Pandas|InArrow")


def _node_names(plan: str) -> list[str]:
    """The node names of ``plan``'s tree (either text form).  Formatted
    text stops at the blank line before its per-node details; an
    adaptive plan's ``== Initial Plan ==`` branch is skipped, so a
    re-planned node counts once."""
    lines = plan.splitlines()
    if lines and lines[0].startswith("== Physical Plan =="):
        lines = lines[1:lines.index("", 1)] if "" in lines[1:] else lines[1:]
    names, skip_below = [], None
    for line in lines:
        depth = len(line) - len(line.lstrip(" :|"))
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if "== Initial Plan ==" in line else None
        m = _NODE.match(line)     # "== ... Plan ==" lines match no name
        if m:
            names.append(m.group(1))
    return names


def plan_node_counts(plans) -> dict[str, int]:
    """Shuffle ``Exchange``, ``BroadcastExchange`` and Python-worker
    (``ArrowEvalPython``, ``MapInPandas``, ``MapInArrow``, ...) nodes
    over ``plans``."""
    names = [n for p in plans for n in _node_names(p)]
    return {"exchange": names.count("Exchange"),
            "broadcast": names.count("BroadcastExchange"),
            "python": sum(bool(_PYTHON.search(n)) for n in names)}

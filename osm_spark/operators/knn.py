"""kNN nearest-feature join.

Spark-first re-expression of the reference's best-first R-tree kNN
(/root/reference/database/rtree.ml:209-258): candidate generation via
cell neighborhoods + exact re-check, instead of a priority queue.

Metric: squared planar fixed-point distance
``d2 = (lat-flat)^2 + (lon-flon)^2`` (int64, exact — so results are
reproducible bit-for-bit across engines).  A haversine re-rank UDF can
be layered on top when a metric in meters is needed.  A point or
feature with a NULL ``lat`` or ``lon`` matches nothing.

Two scale paths, chosen from the measured feature count:

- up to ``BROADCAST_FEATURE_LIMIT`` features, the layer itself is the
  broadcast (three int64 arrays, ≤ 4.8 MB) and points stream through
  one numpy block kernel (``_knn_block``);
- above it, the cell-ring path: rounds at radius R, 2R, 4R, … in which
  the still-uncertified POINTS explode into the cells within Chebyshev
  radius r of their own and left-join the features keyed at their own
  cell (the feature side never explodes), until a round certifies
  every point it is given: one ranked frame per round.

Memory bound: no path force-broadcasts anything that grows with the
feature layer.  The driver holds at most the probe's
``BROADCAST_FEATURE_LIMIT`` + 1 collected feature rows and the last
round's ``BRUTE_RESIDUE_LIMIT`` + 1 residue points (an earlier round
collects one row, to see whether any point is left); any other broadcast is
the planner's (or AQE's) own, under ``autoBroadcastJoinThreshold``.

Exactness guarantee of the cell path: a query point whose k-th
candidate lies strictly closer than ``r * cell_min`` (the smallest cell
dimension in fixed-point units) cannot be beaten by any feature outside
its ring (those are ≥ r cells away).  Points that fail that bound — or
found fewer than k candidates — go to the next round (radius doubles,
reference rtree.ml best-first analog).  Only a guarded-small final
residue takes a brute pass, and that pass broadcasts the RESIDUE POINTS
(at most ``BRUTE_RESIDUE_LIMIT``) and streams features through the same
block kernel with per-batch partial top-k.  The caller picks
``cell_zoom``/``radius`` so that the residue stays small.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import tile_x_sql, tile_y_sql
from osm_spark.operators.sqlexpr import sql_name

# Planar fixed-point dist²; dlon wrapped to <=180° — both the
# geographically right metric at the antimeridian and the int64
# overflow guard (unwrapped dlon up to 3.6e9 squares past 2^63).
_DLON = "abs(lon - flon)"
_DIST2_SQL = (f"(lat - flat) * (lat - flat) + least({_DLON}, {K.LON_WORLD} - {_DLON})"
              f" * least({_DLON}, {K.LON_WORLD} - {_DLON})")


def _by_dist(key: str) -> str:
    """A window of each key's rows by (dist2, feature_id), NULLs last."""
    return f"PARTITION BY {sql_name(key)} ORDER BY dist2 NULLS LAST, feature_id"


def _top_k(df: DataFrame, key: str, k: int) -> DataFrame:
    """The rows of ``df`` ranked 1..k per ``key`` by (dist2,
    feature_id), with their ``rank``."""
    return df.selectExpr("*", f"row_number() OVER ({_by_dist(key)}) AS rank"
                         ).filter(f"rank <= {k}")


def _cell_min_extent(cell_zoom: int, lat_min_fp: int, lat_max_fp: int,
                     radius: int) -> int:
    """Smallest cell dimension (fp units) over the latitude range,
    padded ``radius`` rows each way: the separating band between a point
    and the nearest feature outside its ring spans up to ``radius`` rows
    beyond the point's own, and mercator rows shrink (in latitude units)
    toward the poles, so a smaller pad would overestimate the bound and
    falsely certify."""
    rows, bounds = K.tile_y_boundaries(cell_zoom, lat_min_fp, lat_max_fp,
                                       pad=radius)
    h = min(hi - lo for hi, lo in zip(bounds, bounds[1:]))
    w = K.LON_WORLD // (1 << cell_zoom)
    return min(h, w)


BROADCAST_FEATURE_LIMIT = 200_000
MAX_EXPANSIONS = 3          # ring-doubling retry rounds before the residue pass
BRUTE_RESIDUE_LIMIT = 10_000  # max uncertified points the brute pass accepts

_BLOCK_SCHEMA = StructType([
    StructField("k", LongType()), StructField("feature_id", LongType()),
    StructField("dist2", LongType()), StructField("rank", IntegerType())])


def _topk_block(d2: np.ndarray, f_id: np.ndarray, kk: int):
    """Deterministic top-k along axis 1 of a distance block.

    Returns (part, pd2): column indices into ``f_id`` and their
    distances, each row ordered by the global (dist2, feature_id) rule —
    argpartition picks arbitrarily among distances tied AT the k-th
    boundary, so tied rows are redone with a lexsort so every path (and
    the SQL row_number oracle) agrees bit-for-bit, whatever the order of
    the feature arrays."""
    if kk < d2.shape[1]:
        part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
        pd2 = np.take_along_axis(d2, part, axis=1)
        kth = pd2.max(axis=1)
        tied = np.nonzero((d2 <= kth[:, None]).sum(axis=1) > kk)[0]
        for r in tied:
            cand = np.nonzero(d2[r] <= kth[r])[0]
            o2 = np.lexsort((f_id[cand], d2[r][cand]))[:kk]
            part[r] = cand[o2]
            pd2[r] = d2[r][part[r]]
    else:
        part = np.broadcast_to(np.arange(d2.shape[1]),
                               (d2.shape[0], d2.shape[1])).copy()
        pd2 = np.take_along_axis(d2, part, axis=1)
    ordk = np.lexsort((f_id[part], pd2), axis=1)
    part = np.take_along_axis(part, ordk, axis=1)
    pd2 = np.take_along_axis(pd2, ordk, axis=1)
    return part, pd2


def _knn_block(q_key, q_la, q_lo, f_id, f_la, f_lo, k: int):
    """The k nearest of the features (f_id, f_la, f_lo) to each query
    point (q_key, q_la, q_lo), as one pandas frame of ``_BLOCK_SCHEMA``
    (``k`` holds the query key).  The one brute-force kernel: both the
    broadcast pass (features broadcast, points stream) and the residue
    pass (residue points broadcast, features stream) call it."""
    import pandas as pd

    kk = min(k, len(f_id))
    outs = []
    if len(q_key) and kk:
        # antimeridian wrap is only possible when the joint lon span
        # exceeds 180°; otherwise skip the fold (and its bool block)
        wrap = (max(int(q_lo.max()), int(f_lo.max()))
                - min(int(q_lo.min()), int(f_lo.min())) > K.LON_WORLD // 2)
        # keep each distance block ~2 MB so concurrent workers stay
        # cache-resident instead of fighting for memory bandwidth; and
        # |residue| × |arrow batch| unchunked would be 800 MB at the
        # residue sizes the guard permits
        step = max(256, (2 << 20) // (8 * len(f_id)))
        for s in range(0, len(q_key), step):
            e = min(s + step, len(q_key))
            # allocation-lean: 2 int64 blocks (+1 bool when wrapping)
            # instead of ~5 — the block kernel is DRAM-bound
            d2 = q_la[s:e, None] - f_la[None, :]
            d2 *= d2
            dlon = q_lo[s:e, None] - f_lo[None, :]
            np.abs(dlon, out=dlon)
            if wrap:
                np.subtract(K.LON_WORLD, dlon, out=dlon,
                            where=dlon > K.LON_WORLD // 2)
            dlon *= dlon
            d2 += dlon
            part, pd2 = _topk_block(d2, f_id, kk)
            outs.append(pd.DataFrame({
                "k": np.repeat(q_key[s:e], kk),
                "feature_id": f_id[part].ravel(),
                "dist2": pd2.ravel(),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), e - s),
            }))
    return pd.concat(outs) if outs else pd.DataFrame({
        "k": pd.array([], dtype="int64"),
        "feature_id": pd.array([], dtype="int64"),
        "dist2": pd.array([], dtype="int64"),
        "rank": pd.array([], dtype="int32"),
    })


def _cols(pdf, *names):
    return (pdf[c].to_numpy(np.int64) for c in names)


def _knn_broadcast_frame(points: DataFrame, feats, k: int,
                         key: str) -> DataFrame:
    """Exact kNN in one mapInPandas pass over a collected (feature_id,
    lat, lon) frame: the feature arrays ship to each executor once and
    every point batch runs ``_knn_block`` against them.  Zero shuffles,
    zero joins."""
    bc = points.sparkSession.sparkContext.broadcast(tuple(_cols(
        feats.dropna(subset=["lat", "lon"]), "feature_id", "lat", "lon")))

    def fn(batches):
        for pdf in batches:
            pdf = pdf.dropna(subset=["lat", "lon"])
            yield _knn_block(pdf.iloc[:, 0].to_numpy(),
                             *_cols(pdf, "lat", "lon"), *bc.value, k)

    return points.selectExpr(sql_name(key), "lat", "lon").mapInPandas(
        fn, _BLOCK_SCHEMA).withColumnRenamed("k", key)


def _residue_brute(features: DataFrame, residue_rows, k: int,
                   key: str) -> DataFrame:
    """Exact kNN for a guarded-small point residue WITHOUT broadcasting
    the feature layer: the residue points (already collected, bounded by
    BRUTE_RESIDUE_LIMIT) ship to executors; features stream through one
    mapInPandas pass emitting a per-batch partial top-k per point; a
    final window merges the partials.  Candidate rows shuffled =
    n_batches × |residue| × k — tiny, and no CartesianProduct /
    BroadcastNestedLoopJoin appears in the plan."""
    bc = features.sparkSession.sparkContext.broadcast(
        tuple(np.array(c, np.int64) for c in zip(*residue_rows)))

    def fn(batches):
        for pdf in batches:
            yield _knn_block(*bc.value,
                             *_cols(pdf, "feature_id", "lat", "lon"), k)

    partials = features.selectExpr("feature_id", "lat", "lon").mapInPandas(
        fn, _BLOCK_SCHEMA).withColumnRenamed("k", key)
    return _top_k(partials.drop("rank"), key, k)


def _ring(df: DataFrame, radius: int, cell_zoom: int) -> DataFrame:
    """Each row of ``df`` once per cell (cx, cy) within Chebyshev
    ``radius`` of the cell of its (lat, lon).  cx wraps at the
    antimeridian (dist2 already wraps dlon); cy does not (no pole wrap)
    — out-of-range rows never match.  Needs 2*radius+1 < 2**cell_zoom,
    so wrapped cx values stay distinct (no duplicate candidates)."""
    off = f"sequence({-radius}, {radius})"
    return df.selectExpr(
        "*", *_cell(cell_zoom), f"inline(flatten(transform({off}, dx -> "
        f"transform({off}, dy -> named_struct('dx', dx, 'dy', dy)))))",
    ).selectExpr(*map(sql_name, df.columns),
                 f"pmod(cx + dx, {1 << cell_zoom}) AS cx", "cy + dy AS cy")


def _located(df: DataFrame) -> DataFrame:
    """The rows of ``df`` with both coordinates set."""
    return df.where("lat IS NOT NULL AND lon IS NOT NULL")


def _cell(cell_zoom: int) -> tuple[str, str]:
    """The (cx, cy) cell of a row's (lat, lon).  pmod folds a coordinate
    at exactly +180° (cx == 2^z) onto cell 0, as ``_ring`` wraps."""
    return (f"pmod({tile_x_sql('lon', cell_zoom)}, {1 << cell_zoom}) AS cx",
            f"{tile_y_sql('lat', cell_zoom)} AS cy")


def knn_join(
    points: DataFrame,
    features: DataFrame,
    k: int = 1,
    cell_zoom: int = 8,
    radius: int = 2,
    key: str = "page_id",
) -> DataFrame:
    """Exact k nearest features (feature_id, lat, lon) for each point.

    Returns (key, feature_id, dist2, rank), ranked by (dist2,
    feature_id).  One bounded columnar collect sizes the layer: up to
    ``BROADCAST_FEATURE_LIMIT`` features, those rows are the broadcast
    payload of the shuffle-free block kernel; above it, the cell-ring
    path (reference rtree.ml:209-258 analog) certifies each point's
    result against the cell bound and retries uncertified points at
    doubled radius (up to ``MAX_EXPANSIONS`` rounds).  A final residue
    larger than ``BRUTE_RESIDUE_LIMIT`` raises (pick a larger radius /
    coarser cell_zoom) instead of risking a quadratic pass — the residue
    brute itself never broadcasts the feature layer (see
    _residue_brute).  ``2*radius + 1 < 2**cell_zoom`` is required (else
    ``ValueError``): a wider ring wraps onto itself at the antimeridian
    and would pair a point with the same feature twice; so is ``k >= 1``."""
    if k < 1:
        raise ValueError(f"knn_join: k={k} must be at least 1")
    if 2 * radius + 1 >= (1 << cell_zoom):
        raise ValueError(
            f"knn_join: radius={radius} needs 2*radius + 1 < 2**cell_zoom, "
            f"but cell_zoom={cell_zoom} has {1 << cell_zoom} cells per row")
    # Columnar (Arrow), so overshooting a large layer costs about what a
    # JVM limit().count() does — no per-row Python objects
    probe = features.selectExpr("feature_id", "lat", "lon").limit(
        BROADCAST_FEATURE_LIMIT + 1).toPandas()
    if len(probe) <= BROADCAST_FEATURE_LIMIT:
        return _knn_broadcast_frame(points, probe, k, key)

    points, features = _located(points), _located(features)
    pts = points.selectExpr(sql_name(key), "lat", "lon")
    feats = features.selectExpr("feature_id", "lat AS flat", "lon AS flon",
                                *_cell(cell_zoom))
    # certification bound (see module docstring): the global lat range
    # shrinks cell_min, never inflates it; with no points, any range does
    lo, hi = pts.selectExpr("min(lat)", "max(lat)").collect()[0]
    lat_lo, lat_hi = (0, 0) if lo is None else (int(lo), int(hi))

    # one round per radius r = radius, 2·radius, … (reference
    # rtree.ml:209-258 best-first analog).  The left join gives every
    # point a row (NULL dist2 for an empty ring cell); the k-th dist2 of
    # its top k (NULL: fewer than k candidates) decides ``ok``.  From one
    # checkpoint, the ok points' top k is the round's part and the others'
    # rank-1 rows the next round's points.  Ranking first cuts each
    # point's rows to k before the shuffle (WindowGroupLimit).
    kth = (f"nth_value(dist2, {k}) OVER ({_by_dist(key)} ROWS BETWEEN"
           " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
    parts, remaining = [], pts
    for i in range(1 + MAX_EXPANSIONS):
        r = radius << i
        # the last round: no expansions left, or the next ring would
        # wrap onto itself (the residue pass is exact)
        last = i == MAX_EXPANSIONS or 2 * (r << 1) + 1 >= (1 << cell_zoom)
        bound = r * _cell_min_extent(cell_zoom, lat_lo, lat_hi, r)
        cand = _ring(remaining, r, cell_zoom).join(feats, ["cx", "cy"], "left")
        ranked = _top_k(cand.selectExpr(sql_name(key), "lat", "lon", "feature_id",
                                        f"{_DIST2_SQL} AS dist2"), key, k).selectExpr(
            "*", f"coalesce({kth} < {bound * bound}, false) AS ok"
        ).localCheckpoint(eager=False)
        parts.append(ranked.where("ok"))
        remaining = ranked.where("NOT ok AND rank = 1").selectExpr(
            sql_name(key), "lat", "lon")
        # an earlier round only asks whether any point is left
        residue_rows = remaining.limit(
            BRUTE_RESIDUE_LIMIT + 1 if last else 1).collect()
        if last or not residue_rows:
            break
    if len(residue_rows) > BRUTE_RESIDUE_LIMIT:
        raise ValueError(
            f"knn_join: >{BRUTE_RESIDUE_LIMIT} points still uncertified "
            f"after {MAX_EXPANSIONS} ring expansions (radius {radius}->{r}, "
            f"cell_zoom {cell_zoom}); pick a larger radius or coarser "
            "cell_zoom instead of risking a quadratic brute pass")
    if residue_rows:
        parts.append(_residue_brute(features, residue_rows, k, key))
    out_cols = (sql_name(key), "feature_id", "dist2", "rank")
    out = parts[0].selectExpr(*out_cols)
    for p in parts[1:]:
        out = out.unionByName(p.selectExpr(*out_cols))
    return out


def brute_force_knn(points: DataFrame, features: DataFrame,
                    k: int = 1) -> DataFrame:
    """Baseline: broadcast cross-join + window top-k of ``page_id``
    points (oracle path)."""
    feats = _located(features).selectExpr("feature_id", "lat AS flat", "lon AS flon")
    cand = _located(points).selectExpr("page_id", "lat", "lon").crossJoin(
        F.broadcast(feats)).selectExpr("page_id", "feature_id",
                                       f"{_DIST2_SQL} AS dist2")
    return _top_k(cand, "page_id", k)

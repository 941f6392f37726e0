"""kNN nearest-feature join.

Spark-first re-expression of the reference's best-first R-tree kNN
(/root/reference/database/rtree.ml:209-258): candidate generation via
cell neighborhoods + exact re-check, instead of a priority queue.

Metric: squared planar fixed-point distance
``d2 = (lat-flat)^2 + (lon-flon)^2`` (int64, exact — so results are
reproducible bit-for-bit across engines).  A haversine re-rank UDF can
be layered on top when a metric in meters is needed.

Exactness guarantee: features are registered in every cell within
Chebyshev radius R of their own cell.  A query point whose best
candidate lies strictly closer than ``R * cell_min`` (the smallest cell
dimension in fixed-point units) cannot be beaten by any unregistered
feature (those are ≥ R cells away).  Points that fail that bound — or
found no candidate at all — retry through expanding rings (radius
doubles each round, reference rtree.ml best-first analog): the
still-uncertified POINTS explode into the wider ring and equi-join
features keyed at their own cell, so the feature side never re-explodes
and never broadcasts.  Only a guarded-small final residue takes a brute
pass, and that pass broadcasts the RESIDUE POINTS (never the feature
layer) and streams features through mapInPandas with per-batch partial
top-k — there is no full-layer broadcast on any path.  At production
scale the fallback fraction is tuned to ~0 by picking
``cell_zoom``/``radius`` from the feature density histogram.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import with_cell


def _dist2():
    """Planar fixed-point dist²; dlon wrapped to <=180° — both the
    geographically right metric at the antimeridian and the int64
    overflow guard (unwrapped dlon up to 3.6e9 squares past 2^63)."""
    dlat = F.col("lat") - F.col("flat")
    dlon = F.abs(F.col("lon") - F.col("flon"))
    dlon = F.least(dlon, F.lit(K.LON_WORLD) - dlon)
    return dlat * dlat + dlon * dlon


def _rank_topk(cand: DataFrame, key: str, k: int) -> DataFrame:
    w = Window.partitionBy(key).orderBy("dist2", "feature_id")
    return (
        cand.withColumn("dist2", _dist2())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cell_min_extent(cell_zoom: int, lat_min_fp: int, lat_max_fp: int,
                    pad: int = 1) -> int:
    """Smallest cell dimension (fp units) over the latitude range,
    padded ``pad`` rows each way.  Certification must pass
    ``pad=radius``: the separating band between a point and the nearest
    UNREGISTERED feature spans up to ``radius`` rows beyond the point's
    own, and mercator rows shrink (in latitude units) toward the poles,
    so a 1-row pad would overestimate the bound and falsely certify."""
    rows, bounds = K.tile_y_boundaries(cell_zoom, lat_min_fp, lat_max_fp,
                                       pad=pad)
    h = min(hi - lo for hi, lo in zip(bounds, bounds[1:]))
    w = K.LON_WORLD // (1 << cell_zoom)
    return min(h, w)


BROADCAST_FEATURE_LIMIT = 200_000
MAX_EXPANSIONS = 3          # ring-doubling retry rounds before the residue pass
BRUTE_RESIDUE_LIMIT = 10_000  # max uncertified points the brute pass accepts


def _topk_block(d2: np.ndarray, f_id: np.ndarray, kk: int):
    """Deterministic top-k along axis 1 of a distance block.

    Returns (part, pd2): column indices into ``f_id`` and their
    distances, each row ordered by the global (dist2, feature_id) rule —
    argpartition picks arbitrarily among distances tied AT the k-th
    boundary, so tied rows are redone with a lexsort so every path (and
    the SQL row_number oracle) agrees bit-for-bit."""
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


def knn_broadcast(points: DataFrame, features: DataFrame, k: int = 1,
                  key: str = "page_id", chunk: int = 0) -> DataFrame:
    """Exact kNN in one mapInPandas pass: the feature array ships to each
    executor once; distances + top-k run vectorized in numpy per batch.
    Zero shuffles, zero joins — the right plan whenever the feature layer
    fits in executor memory (~<=200k rows).  Chunked so the distance
    matrix stays ~chunk×n_features int64."""
    feats = features.select("feature_id", "lat", "lon").toPandas()
    return _knn_broadcast_frame(points, feats, k, key, chunk)


def _knn_broadcast_frame(points: DataFrame, feats, k: int, key: str,
                         chunk: int = 0) -> DataFrame:
    """``knn_broadcast`` over a collected (feature_id, lat, lon) frame."""
    import pandas as pd

    fid, fla, flo = (feats[c].to_numpy(np.int64)
                     for c in ("feature_id", "lat", "lon"))
    # deterministic tie-break (dist2, feature_id): pre-sort by id so that
    # stable kind='stable' argsort resolves equal distances by id
    o = np.argsort(fid, kind="stable")
    fid, fla, flo = fid[o], fla[o], flo[o]
    bc = points.sparkSession.sparkContext.broadcast((fid, fla, flo))
    kk = min(k, len(fid))
    if not chunk:
        # keep each distance block ~2 MB so 32 concurrent workers stay
        # cache-resident instead of fighting for memory bandwidth
        chunk = max(256, (2 << 20) // (8 * max(len(fid), 1)))
    # antimeridian wrap is only possible when some page-feature lon span
    # can exceed 180° — precompute the feature extent for the fast path
    f_lo_min, f_lo_max = (int(flo.min()), int(flo.max())) if len(flo) else (0, 0)

    def fn(batches):
        f_id, f_la, f_lo = bc.value
        for pdf in batches:
            keys = pdf.iloc[:, 0].to_numpy()
            la = pdf["lat"].to_numpy(np.int64)
            lo = pdf["lon"].to_numpy(np.int64)
            wrap = len(lo) > 0 and (
                max(int(lo.max()), f_lo_max) - min(int(lo.min()), f_lo_min)
                > K.LON_WORLD // 2)
            outs = []
            for s in range(0, len(keys), chunk):
                e = min(s + chunk, len(keys))
                # allocation-lean: 2 int64 blocks (+1 bool when wrapping)
                # instead of ~5 — the block kernel is DRAM-bound
                d2 = la[s:e, None] - f_la[None, :]
                d2 *= d2
                dlon = lo[s:e, None] - f_lo[None, :]
                np.abs(dlon, out=dlon)
                if wrap:
                    np.subtract(K.LON_WORLD, dlon, out=dlon,
                                where=dlon > K.LON_WORLD // 2)
                dlon *= dlon
                d2 += dlon
                part, pd2 = _topk_block(d2, f_id, kk)
                n = e - s
                outs.append(pd.DataFrame({
                    "k": np.repeat(keys[s:e], kk),
                    "feature_id": f_id[part].ravel(),
                    "dist2": pd2.ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
                }))
            yield pd.concat(outs) if outs else pd.DataFrame({
                "k": pd.array([], dtype="int64"),
                "feature_id": pd.array([], dtype="int64"),
                "dist2": pd.array([], dtype="int64"),
                "rank": pd.array([], dtype="int32"),
            })

    return points.select(key, "lat", "lon").mapInPandas(
        fn, "k long, feature_id long, dist2 long, rank int"
    ).withColumnRenamed("k", key)


def _residue_brute(features: DataFrame, residue_rows, k: int,
                   key: str) -> DataFrame:
    """Exact kNN for a guarded-small point residue WITHOUT broadcasting
    the feature layer: the residue points (already collected, bounded by
    BRUTE_RESIDUE_LIMIT) ship to executors; features stream through one
    mapInPandas pass emitting a per-batch partial top-k per point; a
    final window merges the partials.  Candidate rows shuffled =
    n_batches × |residue| × k — tiny, and no CartesianProduct /
    BroadcastNestedLoopJoin appears in the plan."""
    import pandas as pd

    pid = np.array([r[0] for r in residue_rows], np.int64)
    pla = np.array([r[1] for r in residue_rows], np.int64)
    plo = np.array([r[2] for r in residue_rows], np.int64)
    bc = features.sparkSession.sparkContext.broadcast((pid, pla, plo))
    p_lo_min, p_lo_max = int(plo.min()), int(plo.max())

    def fn(batches):
        q_id, q_la, q_lo = bc.value
        for pdf in batches:
            fid = pdf["feature_id"].to_numpy(np.int64)
            fla = pdf["flat"].to_numpy(np.int64)
            flo = pdf["flon"].to_numpy(np.int64)
            if not len(fid):
                continue
            wrap = (max(int(flo.max()), p_lo_max)
                    - min(int(flo.min()), p_lo_min) > K.LON_WORLD // 2)
            # chunk the query axis so each distance block stays ~2 MB
            # (same bound knn_broadcast uses): |residue| × |arrow batch|
            # can be 10k × 10k = 800 MB per int64 matrix unchunked —
            # an executor-OOM exactly at the residue sizes the guard
            # permits.  The kernel is DRAM-bound, so small blocks also
            # keep it in cache.
            qstep = max(256, (2 << 20) // (8 * len(fid)))
            kk = min(k, len(fid))
            for s in range(0, len(q_id), qstep):
                e = min(s + qstep, len(q_id))
                d2 = q_la[s:e, None] - fla[None, :]
                d2 *= d2
                dlon = q_lo[s:e, None] - flo[None, :]
                np.abs(dlon, out=dlon)
                if wrap:
                    np.subtract(K.LON_WORLD, dlon, out=dlon,
                                where=dlon > K.LON_WORLD // 2)
                dlon *= dlon
                d2 += dlon
                part, pd2 = _topk_block(d2, fid, kk)
                yield pd.DataFrame({
                    "k": np.repeat(q_id[s:e], kk),
                    "feature_id": fid[part].ravel(),
                    "dist2": pd2.ravel(),
                })

    partials = features.select(
        "feature_id", F.col("lat").alias("flat"), F.col("lon").alias("flon")
    ).mapInPandas(
        fn, "k long, feature_id long, dist2 long"
    ).withColumnRenamed("k", key)
    w = Window.partitionBy(key).orderBy("dist2", "feature_id")
    return partials.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def _ring_candidates(pts: DataFrame, feats: DataFrame, radius: int,
                     cell_zoom: int, key: str) -> DataFrame:
    """Retry-round candidate generation: explode the (small, uncertified)
    POINT side into the Chebyshev ring and equi-join features keyed at
    their own cell — same candidate set as feature-side registration at
    the same radius, but the big side never re-explodes or broadcasts.
    Caller guarantees 2*radius+1 < 2**cell_zoom so pmod-wrapped cx values
    stay distinct (no duplicate candidates)."""
    off = F.sequence(F.lit(-radius), F.lit(radius))
    pts_reg = (
        pts.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            key, "lat", "lon",
            F.pmod(F.col("cx") + F.col("dx"), F.lit(1 << cell_zoom)).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    return pts_reg.join(feats, ["cx", "cy"], "inner")


def knn_join(
    points: DataFrame,
    features: DataFrame,
    k: int = 1,
    cell_zoom: int = 8,
    radius: int = 2,
    key: str = "page_id",
    exact: bool = True,
    strategy: str = "auto",
    n_features: int | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    brute_residue_limit: int = BRUTE_RESIDUE_LIMIT,
    checkpoint_rounds: bool = True,
) -> DataFrame:
    """k nearest features (feature_id, flat, flon) for each point.

    Returns (key, feature_id, dist2, rank).  ``strategy='auto'`` picks
    the broadcast-brute mapInPandas kernel when the feature layer is
    small enough to ship (exact, shuffle-free); the cell-ring candidate
    path (reference rtree.ml:209-258 analog) otherwise.  Pass
    ``n_features`` (or an explicit ``strategy``) in production pipelines
    to skip the auto-probe (one bounded columnar collect at plan time,
    reused as the broadcast payload when the layer is small).  ``exact=True``
    certifies each point's result against the cell bound and retries
    uncertified points at doubled radius (up to ``max_expansions``
    rounds); a final residue larger than ``brute_residue_limit`` raises
    (pick a larger radius / coarser cell_zoom) instead of risking a
    quadratic pass — the residue brute itself never broadcasts the
    feature layer (see _residue_brute)."""
    if strategy == "auto" and n_features is not None:
        strategy = "broadcast" if n_features <= BROADCAST_FEATURE_LIMIT else "cells"
    if strategy == "broadcast":
        return knn_broadcast(points, features, k, key)
    if strategy == "auto":
        # one job: the bounded probe's rows ARE the broadcast payload.
        # Columnar (Arrow), so overshooting a large layer costs about
        # what a JVM limit().count() does — no per-row Python objects
        feats = features.select("feature_id", "lat", "lon").limit(
            BROADCAST_FEATURE_LIMIT + 1).toPandas()
        if len(feats) <= BROADCAST_FEATURE_LIMIT:
            return _knn_broadcast_frame(points, feats, k, key)
    # pmod also folds a point at exactly +180° (cx == 2^z) onto cell 0,
    # mirroring the feature-side wrap below — otherwise it could never
    # match a registered cell
    pts = with_cell(points.select(key, "lat", "lon"), cell_zoom).withColumn(
        "cx", F.pmod(F.col("cx"), F.lit(1 << cell_zoom)))
    feats = with_cell(features.select("feature_id", "lat", "lon"), cell_zoom).select(
        "feature_id", F.col("lat").alias("flat"), F.col("lon").alias("flon"), "cx", "cy"
    )
    off = F.sequence(F.lit(-radius), F.lit(radius))
    feats_reg = (
        feats.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            "feature_id", "flat", "flon",
            # cx wraps at the antimeridian (dist2 already wraps dlon);
            # cy does not (no pole wrap) — out-of-range rows never match
            F.pmod(F.col("cx") + F.col("dx"), F.lit(1 << cell_zoom)).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    cand = pts.join(F.broadcast(feats_reg), ["cx", "cy"], "inner")
    ranked = _rank_topk(cand.select(key, "lat", "lon", "feature_id", "flat", "flon"), key, k)

    if not exact:
        return ranked.select(key, "feature_id", "dist2", "rank")

    # the exact path consumes each round's ranked frame three times
    # (certification agg, left_semi keep, left_anti carry-over) and the
    # residue guard below drives the whole cascade eagerly — truncate
    # lineage per round so those uses and the caller's action share one
    # materialization instead of re-running the candidate join 2x(1+rounds)
    # times (same per-round localCheckpoint idiom as CH contraction);
    # checkpoint_rounds=False keeps the full logical tree visible for
    # plan audits (tools/explain_plans.py) — execution semantics identical
    if checkpoint_rounds:
        ranked = ranked.localCheckpoint(eager=False)

    # certification bound (see module docstring)
    stats = points.agg(F.min("lat"), F.max("lat")).collect()[0]
    if stats[0] is None:          # no points: nothing to certify
        return ranked.select(key, "feature_id", "dist2", "rank")
    lat_lo, lat_hi = int(stats[0]), int(stats[1])

    def certified_keys(ranked_df: DataFrame, r: int) -> DataFrame:
        # conservative: global lat range shrinks cell_min, never inflates
        bound = r * cell_min_extent(cell_zoom, lat_lo, lat_hi, pad=r)
        kth = ranked_df.groupBy(key).agg(
            F.max("dist2").alias("kth_d2"), F.count("*").alias("n_cand")
        )
        return kth.filter(
            (F.col("n_cand") >= k) & (F.col("kth_d2") < bound * bound)
        ).select(key)

    # expanding rings (reference rtree.ml:209-258 best-first analog):
    # each round, only still-uncertified points re-enter at doubled
    # radius; the certified-key joins are left to AQE (it broadcasts
    # small runtime sides itself — no forced broadcast of a key set
    # whose size we can't bound at 10^12 pages)
    ck = certified_keys(ranked, radius)
    parts = [ranked.join(ck, key, "left_semi")]
    remaining = pts.join(ck, key, "left_anti")
    r = radius
    for _ in range(max_expansions):
        r *= 2
        if 2 * r + 1 >= (1 << cell_zoom):
            break  # ring would wrap onto itself; residue pass is exact
        ranked_r = _rank_topk(
            _ring_candidates(remaining, feats, r, cell_zoom, key)
            .select(key, "lat", "lon", "feature_id", "flat", "flon"),
            key, k,
        )
        if checkpoint_rounds:
            ranked_r = ranked_r.localCheckpoint(eager=False)
        ck = certified_keys(ranked_r, r)
        parts.append(ranked_r.join(ck, key, "left_semi"))
        remaining = remaining.join(ck, key, "left_anti")

    residue_rows = remaining.select(key, "lat", "lon").limit(
        brute_residue_limit + 1).collect()
    if len(residue_rows) > brute_residue_limit:
        raise ValueError(
            f"knn_join: >{brute_residue_limit} points still uncertified "
            f"after {max_expansions} ring expansions (radius {radius}->{r}, "
            f"cell_zoom {cell_zoom}); pick a larger radius or coarser "
            "cell_zoom instead of risking a quadratic brute pass")
    if residue_rows:
        parts.append(_residue_brute(features, residue_rows, k, key))
    out = parts[0].select(key, "feature_id", "dist2", "rank")
    for p in parts[1:]:
        out = out.unionByName(p.select(key, "feature_id", "dist2", "rank"))
    return out


def brute_force_knn(points: DataFrame, features: DataFrame, k: int = 1,
                    key: str = "page_id") -> DataFrame:
    """Baseline: broadcast cross-join + window top-k (oracle path)."""
    feats = features.select(
        "feature_id", F.col("lat").alias("flat"), F.col("lon").alias("flon")
    )
    cand = points.select(key, "lat", "lon").crossJoin(F.broadcast(feats))
    return _rank_topk(cand, key, k).select(key, "feature_id", "dist2", "rank")


def nearest_feature_m(knn_out: DataFrame, points: DataFrame, features: DataFrame,
                      key: str = "page_id") -> DataFrame:
    """Attach haversine meters to kNN output (vectorized pandas UDF)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def hav_m(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        return pd.Series(
            K.distance_m(
                lat1.to_numpy(np.int64), lon1.to_numpy(np.int64),
                lat2.to_numpy(np.int64), lon2.to_numpy(np.int64),
            )
        )

    feats = features.select("feature_id", F.col("lat").alias("flat"), F.col("lon").alias("flon"))
    j = (
        knn_out.join(points.select(key, "lat", "lon"), key)
        .join(F.broadcast(feats), "feature_id")
    )
    return j.withColumn("dist_m", hav_m("lat", "lon", "flat", "flon")).select(
        key, "feature_id", "dist2", "rank", "dist_m"
    )

"""Column-level geometry operators over the polygon-layer schema.

Thin Arrow-batched wrappers around osm_spark.geo.kernels, registered as
driver-checkable queries (SURVEY.md §2.2 G1/G8/G12).  All arithmetic is
either exact int64 or single-rounding IEEE ops shared bit-for-bit with
the DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import RING_SQL, _unpack_rings


def haversine_col(lat1, lon1, lat2, lon2):
    """Haversine distance column (fixed-point in, int64 mm out) —
    reference-exact (osm/geometry.ml:29-36), vectorized pandas UDF."""

    @F.pandas_udf("long")
    def hav(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series(K.distance(a.to_numpy(), b.to_numpy(),
                                    c.to_numpy(), d.to_numpy()))

    return hav(lat1, lon1, lat2, lon2)


def feature_areas(polys: DataFrame) -> DataFrame:
    """(feature_id, area): signed integer shoelace summed over rings,
    holes (CW) negative — surfaces.ml:655-657 semantics with the
    reference's (a+1)/2 truncating division (geometry.ml:211-226); one
    ``kernels._feature_areas`` pass over every ring of the batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a 0/1-vertex ring has no area
            la, lo, lens, _, feat, live = _unpack_rings(pdf, 2)
            yield pd.DataFrame({
                "feature_id": pdf["feature_id"].to_numpy(np.int64),
                "area": K._feature_areas(lo, la, lens, live[feat], len(pdf))})

    return polys.selectExpr("feature_id", *RING_SQL).mapInPandas(
        fn, "feature_id long, area long")


def feature_dp_counts(polys: DataFrame, ratio: int) -> DataFrame:
    """(feature_id, n_in, n_kept): Douglas-Peucker vertex retention per
    feature at epsilon=ratio (douglas_peucker.ml:73-127 int semantics),
    summed over rings; one batched DP over every ring of the batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            la, lo, lens, _, feat, live = _unpack_rings(pdf, 0)
            keep = K.simplify_ring_int(ratio, lo, la, lens)
            vfeat = np.repeat(live[feat], lens)
            yield pd.DataFrame({
                "feature_id": pdf["feature_id"].to_numpy(np.int64),
                "n_in": np.bincount(vfeat, minlength=len(pdf)),
                "n_kept": np.bincount(vfeat[keep], minlength=len(pdf))})

    return polys.selectExpr("feature_id", *RING_SQL).mapInPandas(
        fn, "feature_id long, n_in long, n_kept long")


# ---------------------------------------------------------------------------
# scalar-kernel probes (G3/G5/G7/G14) — DataFrame plumbing over the same
# vectorized kernels the join/assembly operators use, for driver-checkable
# VALUES-fixture queries.


def segments_intersect_col(x1, y1, x2, y2, x3, y3, x4, y4):
    """G3: segment-intersection flag column (geometry.ml:63-104
    semantics incl. collinear overlap), Arrow-batched."""

    @F.pandas_udf("boolean")
    def fn(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series,
           e: pd.Series, f_: pd.Series, g: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series(K.segments_intersect(
            a.to_numpy(np.int64), b.to_numpy(np.int64),
            c.to_numpy(np.int64), d.to_numpy(np.int64),
            e.to_numpy(np.int64), f_.to_numpy(np.int64),
            g.to_numpy(np.int64), h.to_numpy(np.int64)))

    return fn(x1, y1, x2, y2, x3, y3, x4, y4)


def point_on_ring_col(x, y, ring_x, ring_y):
    """G5: point-on-ring-boundary flag (geometry.ml:148-155); the ring
    (closed vertex arrays) is broadcast inside the UDF closure."""
    rx = np.asarray(ring_x, np.int64)
    ry = np.asarray(ring_y, np.int64)

    @F.pandas_udf("boolean")
    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(K.points_on_ring_boundary(
            a.to_numpy(np.int64), b.to_numpy(np.int64), rx, ry))

    return fn(x, y)


def midpoint_in_ring_col(x1, y1, x2, y2, ring_x, ring_y):
    """G7: segment-midpoint-in-ring flag at doubled coordinates
    (geometry.ml:176-209 — exact, no division)."""
    rx = np.asarray(ring_x, np.int64)
    ry = np.asarray(ring_y, np.int64)

    @F.pandas_udf("boolean")
    def fn(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series(K.midpoints_in_ring(
            a.to_numpy(np.int64), b.to_numpy(np.int64),
            c.to_numpy(np.int64), d.to_numpy(np.int64), rx, ry))

    return fn(x1, y1, x2, y2)


def smooth_polylines(lines: DataFrame, n_sub: int = 4) -> DataFrame:
    """G14: centripetal Catmull-Rom smoothing (line_smoothing.ml:93-211)
    per line, exploded to (line_id, pt_idx, qx, qy) rows with outputs
    quantized to int64 at 1e6 units per coordinate unit (deterministic
    IEEE on identical inputs, so the quantization is stable)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"line_id": [], "pt_idx": [], "qx": [], "qy": []}
            for lid, xs, ys in zip(pdf["line_id"], pdf["xs"], pdf["ys"]):
                ox, oy = K.catmull_rom(np.asarray(xs, np.int64),
                                       np.asarray(ys, np.int64), n_sub=n_sub)
                qx = np.floor(ox * 1_000_000).astype(np.int64)
                qy = np.floor(oy * 1_000_000).astype(np.int64)
                out["line_id"].extend([int(lid)] * len(qx))
                out["pt_idx"].extend(range(len(qx)))
                out["qx"].extend(qx.tolist())
                out["qy"].extend(qy.tolist())
            yield pd.DataFrame(out)

    return lines.select("line_id", "xs", "ys").mapInPandas(
        fn, "line_id long, pt_idx long, qx long, qy long")


def simple_polygon_col(xs_col, ys_col):
    """G4: per-row simple-polygon flag over closed ring array columns
    (geometry.ml:107-136 semantics)."""

    @F.pandas_udf("boolean")
    def fn(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series([
            K.is_simple_polygon(np.asarray(x, np.int64),
                                np.asarray(y, np.int64))
            for x, y in zip(xs, ys)])

    return fn(xs_col, ys_col)

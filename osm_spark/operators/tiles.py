"""Tile assignment: route pages and polygon features to z/x/y map tiles.

Spark-first re-expression of the reference's per-zoom R-tree
materialization (/root/reference/osm/surfaces.ml:625-700):

- per zoom band z: area cutoff ``trunc(8 * (1e7/scale)^2)`` with
  ``scale = 256/360 * 2^z`` (surfaces.ml:633-641), Douglas-Peucker
  simplification at ``ratio = trunc(1e7/scale/2)`` (surfaces.ml:636-637),
- small/large size-class split at the z15.5 cutoff with the building
  exception (surfaces.ml:644-674),
- polygon area = sum of signed ring areas, holes negative
  (surfaces.ml:655-657 folds area over outer::inner rings).

Instead of R-tree leaves, features land in slippy tiles (z, x, y) —
the output is a tile table ready to be written partitioned by
(z, bucket(x, y)); parquet/Iceberg min-max stats on x/y then give the
same pruning the R-tree interior nodes gave (SURVEY.md §2.3).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import tile_x_col, tile_y_col

ZOOM_BANDS = (6, 8, 10, 12)
BUILDING_CAT = 12  # fixture category id used for the building exception


def band_params(z: float) -> tuple[int, int]:
    """(area_cutoff, dp_ratio) for a zoom band (surfaces.ml:633-641)."""
    scale = 256.0 / 360.0 * 2.0**z
    return math.trunc(8.0 * (1e7 / scale) ** 2), math.trunc(1e7 / scale / 2.0)


SMALL_AREA = math.trunc(8.0 * (1e7 / (256.0 / 360.0 * 2.0**15.5)) ** 2)


# ---------------------------------------------------------------------------
# page tiles


def page_tiles(pages_geo: DataFrame, zooms: Iterable[int] = ZOOM_BANDS,
               key: str = "page_id") -> DataFrame:
    """(key, z, x, y) for each zoom — one scan, pure JVM.

    Single mercator evaluation: x/y are computed once at the finest
    requested zoom (as whole-stage-codegen expressions — zero Python in
    the plan) and the coarser zooms derived by bit-shifts — exact,
    because tile ids nest:
    floor(v*2^z) == floor(floor(v*2^zmax) / 2^(zmax-z)) for v >= 0."""
    zooms = tuple(zooms)
    zmax = max(zooms)
    base = pages_geo.select(
        F.col(key),
        tile_x_col("lon", zmax).alias("_x"),
        tile_y_col("lat", zmax).alias("_y"),
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


def tile_y_rows_df(spark: SparkSession, z: int, lat_min_fp: int, lat_max_fp: int) -> DataFrame:
    """Broadcastable tile-row boundary table: (z, y, lat_hi, lat_lo).

    Row y covers lat in (lat_lo, lat_hi] — integer-exact assignment via
    range join; bit-identical across engines (no floats at query time).
    """
    rows, bounds = K.tile_y_boundaries(z, lat_min_fp, lat_max_fp)
    data = [(z, r, hi, lo) for r, hi, lo in zip(rows, bounds, bounds[1:])]
    return spark.createDataFrame(data, "z int, y long, lat_hi long, lat_lo long")


def page_tiles_exact(pages_geo: DataFrame, rows_df: DataFrame, key: str = "page_id") -> DataFrame:
    """Tile assignment via broadcast range-join on integer row boundaries."""
    p = pages_geo.select(key, "lat", "lon")
    j = p.join(
        F.broadcast(rows_df),
        (p.lat > rows_df.lat_lo) & (p.lat <= rows_df.lat_hi),
        "inner",
    )
    x = F.expr(
        f"CAST(((lon + {K.LON_OFFSET}L) * shiftleft(1L, z)) DIV {K.LON_WORLD}L AS BIGINT)"
    )
    return j.select(F.col(key), F.col("z"), x.alias("x"), F.col("y"))


# ---------------------------------------------------------------------------
# feature tiles


def _feature_tiles_pandas(zooms: tuple[int, ...]):
    """Areas and full-resolution bboxes are computed in ONE vectorized
    pass over the batch's packed ring arrays (polygon_areas_packed +
    reduceat bboxes); only DP simplification — inherently per-ring —
    and the post-simplification bboxes stay in the per-feature loop,
    and that loop only runs for features passing a zoom's area cutoff."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        params = [(z, *band_params(z)) for z in zooms]
        empty = {"feature_id": [], "category": [], "band": [], "z": [],
                 "x_min": [], "x_max": [], "y_min": [], "y_max": [], "n_pts": []}
        for pdf in batches:
            # a feature with no rings (or only empty ones) has no
            # geometry and no tiles; dropping it here also keeps the
            # packed searchsorted/reduceat bookkeeping below aligned
            if len(pdf):
                pdf = pdf[pdf["rings"].map(
                    lambda rs: any(len(r["lat"]) for r in rs))]
            nf = len(pdf)
            if nf == 0:
                yield pd.DataFrame(empty)
                continue
            feat_rings: list[list] = []
            ring_feat, las, los = [], [], []
            for fi, rings in enumerate(pdf["rings"]):
                arrs = [
                    (np.asarray(r["lat"], np.int64),
                     np.asarray(r["lon"], np.int64), r["role"])
                    for r in rings
                    if len(r["lat"])
                ]
                feat_rings.append(arrs)
                for la_, lo_, _ in arrs:
                    ring_feat.append(fi)
                    las.append(la_)
                    los.append(lo_)
            lens = np.array([len(x) for x in las], np.int64)
            la = np.concatenate(las)
            lo = np.concatenate(los)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ring_feat = np.asarray(ring_feat, np.int64)

            ring_area = K.polygon_areas_packed(lo, la, starts, lens)
            feat_area = np.zeros(nf, np.int64)
            np.add.at(feat_area, ring_feat, ring_area)

            # full-res per-feature bbox + point count (rings are
            # contiguous per feature in the packed layout)
            feat_first_ring = np.searchsorted(ring_feat, np.arange(nf))
            fp_starts = starts[feat_first_ring]
            lo_min = np.minimum.reduceat(lo, fp_starts)
            lo_max = np.maximum.reduceat(lo, fp_starts)
            la_min = np.minimum.reduceat(la, fp_starts)
            la_max = np.maximum.reduceat(la, fp_starts)
            n_pts = np.add.reduceat(lens, feat_first_ring)

            fids = pdf["feature_id"].to_numpy(np.int64)
            cats = pdf["category"].to_numpy(np.int64)
            is_small = (feat_area <= SMALL_AREA) | (
                (feat_area <= 50_000_000) & (cats == BUILDING_CAT))

            out = {
                "feature_id": fids.tolist(),
                "category": cats.tolist(),
                "band": np.where(is_small, "small", "large").tolist(),
                "z": [14] * nf,
                "x_min": K.tile_x(lo_min, 14).tolist(),
                "x_max": K.tile_x(lo_max, 14).tolist(),
                "y_min": K.tile_y_float(la_max, 14).tolist(),
                "y_max": K.tile_y_float(la_min, 14).tolist(),
                "n_pts": n_pts.tolist(),
            }

            for z, cutoff, ratio in params:
                for fi in np.nonzero(feat_area >= cutoff)[0]:
                    simp = []
                    degenerate = False
                    for la_, lo_, role in feat_rings[fi]:
                        sla, slo = K.simplify_ring_int(ratio, la_, lo_)
                        if role == 0 and len(sla) < 4:
                            degenerate = True
                            break
                        simp.append((sla, slo))
                    if degenerate:
                        continue
                    sla = np.concatenate([r[0] for r in simp])
                    slo = np.concatenate([r[1] for r in simp])
                    out["feature_id"].append(int(fids[fi]))
                    out["category"].append(int(cats[fi]))
                    out["band"].append(str(z))
                    out["z"].append(z)
                    # clamp to [0, 2^z-1]: polar latitudes blow up the
                    # mercator row and lon=+180 gives x=2^z; the span
                    # explode downstream must not fabricate tiles
                    nmax = (1 << z) - 1
                    out["x_min"].append(min(max(int(K.tile_x(slo.min(), z)), 0), nmax))
                    out["x_max"].append(min(max(int(K.tile_x(slo.max(), z)), 0), nmax))
                    out["y_min"].append(min(max(int(K.tile_y_float(sla.max(), z)), 0), nmax))
                    out["y_max"].append(min(max(int(K.tile_y_float(sla.min(), z)), 0), nmax))
                    out["n_pts"].append(int(len(sla)))
            yield pd.DataFrame(out)

    return fn


FEATURE_TILE_SCHEMA = (
    "feature_id long, category int, band string, z int, "
    "x_min long, x_max long, y_min long, y_max long, n_pts long"
)


def feature_tile_spans(polys: DataFrame, zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """Per (feature, band): covering tile span after per-band area filter +
    DP simplification.  One mapInPandas pass over the polygon layer."""
    return polys.select("feature_id", "category", "rings").mapInPandas(
        _feature_tiles_pandas(tuple(zooms)), FEATURE_TILE_SCHEMA
    )


def viewport_range(z: int, lat_min: int, lat_max: int,
                   lon_min: int, lon_max: int) -> tuple[int, int, int, int]:
    """Covering tile range (x0, x1, y0, y1) of a viewport bbox — the
    driver-side half of the reference's draw_map R-tree selection
    (osm/lib/osm_display.ml:1648-1710)."""
    x0 = int(K.tile_x(lon_min, z))
    x1 = int(K.tile_x(lon_max, z))
    y0 = int(K.tile_y_float(lat_max, z))
    y1 = int(K.tile_y_float(lat_min, z))
    return x0, x1, y0, y1


def viewport_query(tile_table: DataFrame, z: int, lat_min: int, lat_max: int,
                   lon_min: int, lon_max: int) -> DataFrame:
    """Select tile-table rows covering the viewport: a pure range filter
    on (z, x, y) that parquet/Iceberg min-max stats prune when the table
    is written partitioned/sorted by tile key (G22)."""
    x0, x1, y0, y1 = viewport_range(z, lat_min, lat_max, lon_min, lon_max)
    return tile_table.filter(
        (F.col("z") == z)
        & F.col("x").between(x0, x1) & F.col("y").between(y0, y1))


def feature_tiles(polys: DataFrame, zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """Exploded (feature_id, band, z, x, y) tile assignment table."""
    spans = feature_tile_spans(polys, zooms)
    return (
        spans.withColumn("x", F.explode(F.sequence("x_min", "x_max")))
        .withColumn("y", F.explode(F.sequence("y_min", "y_max")))
        .select("feature_id", "category", "band", "z", "x", "y")
    )

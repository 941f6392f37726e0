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
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import (RING_SQL, _unpack_rings,
                                              tile_x_sql, tile_y_sql)

ZOOM_BANDS = (6, 8, 10, 12)
BUILDING_CAT = 12  # fixture category id used for the building exception


def band_params(z: float) -> tuple[int, int]:
    """(area_cutoff, dp_ratio) for a zoom band (surfaces.ml:633-641)."""
    scale = 256.0 / 360.0 * 2.0**z
    return math.trunc(8.0 * (1e7 / scale) ** 2), math.trunc(1e7 / scale / 2.0)


SMALL_AREA = math.trunc(8.0 * (1e7 / (256.0 / 360.0 * 2.0**15.5)) ** 2)


# ---------------------------------------------------------------------------
# page tiles


def page_tiles(pages_geo: DataFrame,
               zooms: Iterable[int] = ZOOM_BANDS) -> DataFrame:
    """(page_id, z, x, y) for each zoom — one scan, pure JVM.

    Single mercator evaluation: x/y are computed once at the finest
    requested zoom (as whole-stage-codegen expressions — zero Python in
    the plan) and the coarser zooms derived by bit-shifts — exact,
    because tile ids nest:
    floor(v*2^z) == floor(floor(v*2^zmax) / 2^(zmax-z)) for v >= 0.
    Two selects of SQL strings, one row per zoom from ``inline``."""
    zooms = tuple(zooms)
    zmax = max(zooms)
    base = pages_geo.selectExpr("page_id", f"{tile_x_sql('lon', zmax)} AS _x",
                                f"{tile_y_sql('lat', zmax)} AS _y")
    structs = ", ".join(
        f"named_struct('z', {z}, 'x', shiftright(_x, {zmax - z}), "
        f"'y', shiftright(_y, {zmax - z}))" for z in zooms)
    return base.selectExpr("page_id", f"inline(array({structs}))")


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
    """Flat passes over the batch's packed ring arrays, no per-feature
    or per-ring Python: one ``_unpack_rings``, areas by
    ``kernels._feature_areas``, full-resolution bboxes by reduceat, then
    one ``kernels._dp_spans`` over every (band, feature passing the
    band's area cutoff, ring) at the band's eps, which gives each
    (band, feature) its simplified span and point count; a feature
    whose outer ring keeps < 4 points drops out of the band."""
    cutoffs = np.array([band_params(z)[0] for z in zooms], np.int64)
    ratios = np.array([band_params(z)[1] for z in zooms], np.int64)
    zs = np.asarray(zooms)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # empty rings carry no geometry, and a feature left without
            # rings has no tiles
            la, lo, lens, roles, ring_feat, live = _unpack_rings(pdf, 1)
            fids = pdf["feature_id"].to_numpy(np.int64)[live]
            cats = pdf["category"].to_numpy(np.int64)[live]
            nf = len(fids)
            starts = np.cumsum(lens) - lens
            feat_area = K._feature_areas(lo, la, lens, ring_feat, nf)

            # full-res per-feature bbox + point count (rings are
            # contiguous per feature in the packed layout)
            first_ring = np.searchsorted(ring_feat, np.arange(nf))
            fp = starts[first_ring]
            is_small = (feat_area <= SMALL_AREA) | (
                (feat_area <= 50_000_000) & (cats == BUILDING_CAT))
            parts = [pd.DataFrame({
                "feature_id": fids, "category": cats,
                "band": np.where(is_small, "small", "large"), "z": 14,
                "x_min": K.tile_x(np.minimum.reduceat(lo, fp), 14),
                "x_max": K.tile_x(np.maximum.reduceat(lo, fp), 14),
                "y_min": K.tile_y_float(np.maximum.reduceat(la, fp), 14),
                "y_max": K.tile_y_float(np.minimum.reduceat(la, fp), 14),
                "n_pts": np.add.reduceat(lens, first_ring),
            })]

            # one DP over (band, feature over the band's cutoff, ring);
            # (band, feature) groups are contiguous runs of rings
            sel = [np.flatnonzero(feat_area[ring_feat] >= c) for c in cutoffs]
            ring = np.concatenate(sel)
            if len(ring):
                band = np.repeat(np.arange(len(zooms)), [len(r) for r in sel])
                gid = band * nf + ring_feat[ring]
                g0 = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
                kept, span = K._dp_spans(la, lo, starts[ring], lens[ring],
                                         ratios[band], g0, zs[band[g0]])
                g = ~np.logical_or.reduceat((roles[ring] == 0) & (kept < 4), g0)
                gb, gf = band[g0[g]], ring_feat[ring[g0[g]]]
                parts.append(pd.DataFrame({
                    "feature_id": fids[gf], "category": cats[gf],
                    "band": zs[gb].astype(str), "z": zs[gb],
                    **{c: a[g] for c, a in span.items()}}))
            yield pd.concat(parts, ignore_index=True)

    return fn


FEATURE_TILE_SCHEMA = StructType(
    [StructField("feature_id", LongType()), StructField("category", IntegerType()),
     StructField("band", StringType()), StructField("z", IntegerType())]
    + [StructField(c, LongType())
       for c in ("x_min", "x_max", "y_min", "y_max", "n_pts")])


def feature_tile_spans(polys: DataFrame, zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """Per (feature, band): covering tile span after per-band area filter +
    DP simplification.  One mapInPandas pass over the polygon layer."""
    return polys.selectExpr("feature_id", "category", *RING_SQL).mapInPandas(
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


def _explode_spans(spans: DataFrame, head: tuple[str, ...]) -> DataFrame:
    """``head`` plus one (x, y) row per tile of each row's span.  One
    generator per axis, so a span streams as rows: its x×y tiles are
    never one array (a z14 span can hold millions)."""
    return spans.selectExpr(
        *head, "explode(sequence(x_min, x_max)) AS x", "y_min", "y_max",
    ).selectExpr(*head, "x", "explode(sequence(y_min, y_max)) AS y")


def feature_tiles(polys: DataFrame, zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """Exploded (feature_id, band, z, x, y) tile assignment table."""
    return _explode_spans(feature_tile_spans(polys, zooms),
                          ("feature_id", "category", "band", "z"))

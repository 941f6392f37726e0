"""Linear-feature (polyline) tiling — reference osm/linear.ml parity.

The reference routes roads/waterways into per-zoom R-trees with
category-based zoom filters (large_1/2/3 selections,
/root/reference/osm/linear.ml:437-464, 588-600) and Douglas-Peucker
simplification at the band ratio (linear.ml:513-514 uses a /50 scale of
the surfaces ratio).  Here: one mapInPandas pass over the way table →
(way_id, category, z, covering tile span), exploded to a (z, x, y) tile
table JVM-side, with the ring unpack, DP-to-tile-span kernel and span
explode of ``tiles`` (a way is a one-ring feature).  Clipping features
at tile borders uses the G13 kernel (kernels.clip_polyline_halfplane).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import _unpack_rings
from osm_spark.operators.tiles import ZOOM_BANDS, _explode_spans, band_params

# category -> lowest zoom band that includes it; the analog of the
# reference's large_1/2/3 category filters (linear.ml:437-464):
# trunk categories render at every zoom, minor ones only when zoomed in.
CATEGORY_MIN_ZOOM = {0: 0, 1: 0, 2: 8, 3: 8, 4: 10, 5: 12, 6: 12}
DEFAULT_MIN_ZOOM = 12

LINE_TILE_SCHEMA = (
    "way_id long, category int, z int, "
    "x_min long, x_max long, y_min long, y_max long, n_pts long"
)


def _line_tiles_pandas(zooms: tuple[int, ...]):
    """One ``kernels._dp_spans`` over every (zoom, way passing the
    zoom's category filter) of the batch: each way is a one-ring
    feature, simplified at the zoom's eps to its covering tile span."""
    ratios = np.array([band_params(z)[1] for z in zooms], np.int64)
    zs = np.asarray(zooms)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a degenerate way (< 2 points) has no line
            la, lo, n, _, _, live = _unpack_rings(pdf, 2)
            min_z = (pdf["category"].map(CATEGORY_MIN_ZOOM)
                     .fillna(DEFAULT_MIN_ZOOM).to_numpy(np.int64))[live]
            b, w = np.nonzero(zs[:, None] >= min_z[None, :])
            _, span = K._dp_spans(la, lo, (np.cumsum(n) - n)[w], n[w],
                                  ratios[b], np.arange(len(w)), zs[b])
            yield pd.DataFrame({
                "way_id": pdf["way_id"].to_numpy()[live[w]],
                "category": pdf["category"].to_numpy()[live[w]],
                "z": zs[b], **span})

    return fn


def linear_tile_spans(lines: DataFrame,
                      zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """lines(way_id, category, lats, lons) -> per-(way, zoom) covering
    tile span after category filter + DP simplification."""
    return lines.selectExpr(
        "way_id", "category", "array(0) AS roles", "array(size(lats)) AS lens",
        "lats AS flat_lat", "lons AS flat_lon",
    ).mapInPandas(_line_tiles_pandas(tuple(zooms)), LINE_TILE_SCHEMA)


def linear_tiles(lines: DataFrame,
                 zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """Exploded (way_id, category, z, x, y) tile assignment table."""
    return _explode_spans(linear_tile_spans(lines, zooms),
                          ("way_id", "category", "z"))


CLIP_SCHEMA = ("way_id long, category int, side int, piece int, "
               "lats array<long>, lons array<long>")


def clip_lines_at(lines: DataFrame, lon0: int) -> DataFrame:
    """Split every polyline at the vertical line lon=lon0 (G13 kernel);
    side 0 = west (lon<=lon0), 1 = east.  The coastline-subdivision
    primitive (/root/reference/osm/clipping.ml:149-169)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("way_id", "category", "side", "piece",
                                   "lats", "lons")}
            for wid, cat, lats, lons in zip(
                pdf["way_id"], pdf["category"], pdf["lats"], pdf["lons"]
            ):
                la = np.asarray(lats, np.int64)
                lo = np.asarray(lons, np.int64)
                for side, keep_left in ((0, True), (1, False)):
                    for k, (plo, pla) in enumerate(
                        K.clip_polyline_halfplane(lon0, keep_left, lo, la)
                    ):
                        out["way_id"].append(wid)
                        out["category"].append(cat)
                        out["side"].append(side)
                        out["piece"].append(k)
                        out["lats"].append(pla.tolist())
                        out["lons"].append(plo.tolist())
            yield pd.DataFrame(out)

    return lines.select("way_id", "category", "lats", "lons").mapInPandas(
        fn, CLIP_SCHEMA)

"""Linear-feature (polyline) tiling — reference osm/linear.ml parity.

The reference routes roads/waterways into per-zoom R-trees with
category-based zoom filters (large_1/2/3 selections,
/root/reference/osm/linear.ml:437-464, 588-600) and Douglas-Peucker
simplification at the band ratio (linear.ml:513-514 uses a /50 scale of
the surfaces ratio).  Here: one mapInPandas pass over the way table →
(way_id, category, z, covering tile span), exploded to a (z, x, y) tile
table JVM-side.  Clipping features at tile borders uses the G13 kernel
(kernels.clip_polyline_halfplane).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import kernels as K
from osm_spark.operators.spatial_join import flat_values
from osm_spark.operators.tiles import ZOOM_BANDS, band_params

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
    """One batched Douglas-Peucker over every (way, zoom passing the
    way's category filter) of the batch; spans from reduceat over the
    keep mask."""
    ratios = np.array([band_params(z)[1] for z in zooms], np.int64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            la, n = flat_values(pdf["lats"])
            lo, _ = flat_values(pdf["lons"])
            min_z = (pdf["category"].map(CATEGORY_MIN_ZOOM)
                     .fillna(DEFAULT_MIN_ZOOM).to_numpy(np.int64))
            # a degenerate way (< 2 points) has no line
            w, b = np.nonzero((n[:, None] >= 2)
                              & (np.asarray(zooms)[None, :] >= min_z[:, None]))
            ilen = n[w]
            v = K.concat_ranges((np.cumsum(n) - n)[w], ilen)
            vla, vlo = la[v], lo[v]
            keep = K.simplify_ring_int(ratios[b], vlo, vla, ilen)
            kept = np.add.reduceat(keep, np.cumsum(ilen) - ilen,
                                   dtype=np.int64)
            k0 = np.cumsum(kept) - kept
            sla, slo = vla[keep], vlo[keep]
            bbox = (np.minimum.reduceat(slo, k0), np.maximum.reduceat(slo, k0),
                    np.maximum.reduceat(sla, k0), np.minimum.reduceat(sla, k0))
            parts = []
            for bi, z in enumerate(zooms):
                g = np.flatnonzero(b == bi)
                # clamp to the valid tile range: mercator y diverges at
                # the poles (lat -90 -> row 26836 at z=12) and lon=+180
                # gives x=2^z — without the clamp the explode downstream
                # fabricates thousands of nonexistent tiles per way
                nmax = (1 << z) - 1
                x0, x1, ya, yb = (a[g] for a in bbox)
                parts.append(pd.DataFrame({
                    "way_id": pdf["way_id"].to_numpy()[w[g]],
                    "category": pdf["category"].to_numpy()[w[g]],
                    "z": z,
                    "x_min": np.clip(K.tile_x(x0, z), 0, nmax),
                    "x_max": np.clip(K.tile_x(x1, z), 0, nmax),
                    "y_min": np.clip(K.tile_y_float(ya, z), 0, nmax),
                    "y_max": np.clip(K.tile_y_float(yb, z), 0, nmax),
                    "n_pts": kept[g],
                }))
            yield pd.concat(parts, ignore_index=True)

    return fn


def linear_tile_spans(lines: DataFrame,
                      zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """lines(way_id, category, lats, lons) -> per-(way, zoom) covering
    tile span after category filter + DP simplification."""
    return lines.select("way_id", "category", "lats", "lons").mapInPandas(
        _line_tiles_pandas(tuple(zooms)), LINE_TILE_SCHEMA)


def linear_tiles(lines: DataFrame,
                 zooms: tuple[int, ...] = ZOOM_BANDS) -> DataFrame:
    """Exploded (way_id, category, z, x, y) tile assignment table."""
    spans = linear_tile_spans(lines, zooms)
    return (
        spans.withColumn("x", F.explode(F.sequence("x_min", "x_max")))
        .withColumn("y", F.explode(F.sequence("y_min", "y_max")))
        .select("way_id", "category", "z", "x", "y")
    )


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

"""Raster ↔ vector conversion over an integer cell grid.

The engine's raster is a CELL TABLE — (cx, cy, feature_id, category,
n_nb) rows over an n×n integer grid covering a lat/lon box — the
Spark-idiomatic raster representation: partitionable, joinable, and
exactly reproducible in oracle SQL (plain int64 arithmetic, no
mercator floats).

- ``rasterize_polygons`` (vector → raster): generate the grid's cell
  centers JVM-side (one ``spark.range``, zero shuffle) and reuse the
  broadcast PIP spatial join — fill = crossing-number test of each
  center against the polygon rings (holes respected via the even-odd
  role rule, same kernel as the page join).  Boundary cells fall out
  of a 4-neighbor presence count (one self-join + groupBy).
- ``vectorize_cells`` (raster → vector): per-feature marching-squares
  boundary tracing in ``applyInPandas`` — emit each filled cell's
  exposed edges oriented interior-left, chain corner-to-corner (the
  same endpoint-chaining idea as coastline ring assembly,
  coastline.py), and close rings; outers come out CCW and holes CW by
  construction.  Round trip: the even-odd fill of the traced rings
  equals the input cell set exactly (tests/test_raster.py).

The reference's renderer walks polygon scanlines to paint tiles
(osm/lib/osm_display.ml); this is the analysis-side equivalent over
the same integer geometry, built from the repo's existing PIP kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.operators.spatial_join import spatial_join

RING_SCHEMA = ("feature_id long, ring_idx int, role int, "
               "lat array<long>, lon array<long>")


def grid_df(spark: SparkSession, lat0: int, lon0: int, span: int,
            n: int) -> DataFrame:
    """n×n cell-center grid over the box — one JVM range, no shuffle.

    Cell (cx, cy) spans [lat0 + cy*s, lat0 + (cy+1)*s) × likewise in
    lon with s = span // n (span must divide evenly so both engines
    agree exactly); the center offset is s // 2."""
    if span % n or (span // n) % 2:
        raise ValueError("span must split into n even-sized cells")
    s = span // n
    return spark.range(n * n).select(
        F.col("id").alias("cell_id"),
        (F.col("id") % n).alias("cx"),
        (F.col("id") / n).cast("long").alias("cy"),
    ).select(
        "cell_id", "cx", "cy",
        (F.lit(lat0) + F.col("cy") * s + s // 2).alias("lat"),
        (F.lit(lon0) + F.col("cx") * s + s // 2).alias("lon"),
    )


def rasterize_polygons(polys: DataFrame, lat0: int, lon0: int, span: int,
                       n: int) -> DataFrame:
    """Vector → raster: (feature_id, category, cx, cy, n_nb) filled
    cells; ``n_nb`` counts filled 4-neighbors (< 4 ⇒ boundary cell —
    off-grid neighbors count as unfilled, so box-edge cells are
    boundaries, matching the vectorizer's traced rings)."""
    spark = polys.sparkSession
    g = grid_df(spark, lat0, lon0, span, n)
    hits = spatial_join(
        g.select(F.col("cell_id").alias("page_id"), "lat", "lon"),
        polys, how="inner")
    filled = hits.select(
        "feature_id",
        (F.col("page_id") % n).alias("cx"),
        (F.col("page_id") / n).cast("long").alias("cy"))
    nbr = filled.select(
        "feature_id", "cx", "cy",
        F.explode(F.array(
            F.struct((F.col("cx") + 1).alias("nx"), F.col("cy").alias("ny")),
            F.struct((F.col("cx") - 1).alias("nx"), F.col("cy").alias("ny")),
            F.struct(F.col("cx").alias("nx"), (F.col("cy") + 1).alias("ny")),
            F.struct(F.col("cx").alias("nx"), (F.col("cy") - 1).alias("ny")),
        )).alias("nb")).select(
        "feature_id", "cx", "cy",
        F.col("nb.nx").alias("nx"), F.col("nb.ny").alias("ny"))
    present = nbr.join(
        filled.select(F.col("feature_id").alias("feature_id"),
                      F.col("cx").alias("nx"), F.col("cy").alias("ny")),
        ["feature_id", "nx", "ny"], "inner")
    cnt = present.groupBy("feature_id", "cx", "cy").agg(
        F.count("*").alias("n_nb"))
    cat = polys.select("feature_id", "category")
    return (filled.join(cnt, ["feature_id", "cx", "cy"], "left")
            .withColumn("n_nb", F.coalesce(F.col("n_nb"), F.lit(0)))
            .join(F.broadcast(cat), "feature_id")
            .select("feature_id", "category", "cx", "cy",
                    F.col("n_nb").cast("int").alias("n_nb")))


def _trace_rings(cells: set[tuple[int, int]]) -> list[list[tuple[int, int]]]:
    """Marching-squares boundary tracing: exposed cell edges oriented
    interior-left, chained corner-to-corner into closed rings."""
    # outgoing edges per start corner (a corner can have 2 outgoing at
    # a diagonal pinch; pick by turn preference during the walk)
    out: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def edge(a, b):
        out.setdefault(a, []).append(b)

    for (x, y) in cells:
        if (x, y - 1) not in cells:
            edge((x, y), (x + 1, y))          # bottom, interior above
        if (x + 1, y) not in cells:
            edge((x + 1, y), (x + 1, y + 1))  # right, interior left
        if (x, y + 1) not in cells:
            edge((x + 1, y + 1), (x, y + 1))  # top, interior below
        if (x - 1, y) not in cells:
            edge((x, y + 1), (x, y))          # left, interior right
    rings = []
    while out:
        start = min(out)                      # deterministic
        ring = [start]
        prev_dir = None
        cur = start
        while True:
            cands = out[cur]
            if len(cands) == 1 or prev_dir is None:
                nxt = cands[0]
            else:
                # diagonal pinch: prefer the sharpest LEFT turn so the
                # walk stays on one region boundary
                def turn(c):
                    d = (c[0] - cur[0], c[1] - cur[1])
                    cross = prev_dir[0] * d[1] - prev_dir[1] * d[0]
                    return -cross
                nxt = min(cands, key=turn)
            cands.remove(nxt)
            if not cands:
                del out[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            if cur == start:
                ring.append(start)
                break
            ring.append(cur)
        rings.append(ring)
    return rings


def vectorize_cells(cells: DataFrame, lat0: int, lon0: int, span: int,
                    n: int) -> DataFrame:
    """Raster → vector: closed boundary rings per feature as
    fixed-point corner coordinates.  role 0 = outer (CCW, positive
    shoelace), 1 = hole (CW) — orientation falls out of the
    interior-left edge rule, the role is just the sign."""
    s = span // n

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        fid = int(pdf["feature_id"].iloc[0])
        cset = set(zip(pdf["cx"].astype(int), pdf["cy"].astype(int)))
        rows = []
        for ri, ring in enumerate(_trace_rings(cset)):
            xs = np.array([c[0] for c in ring], dtype=np.int64)
            ys = np.array([c[1] for c in ring], dtype=np.int64)
            area2 = int(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1]))
            rows.append((fid, ri, 0 if area2 > 0 else 1,
                         (lat0 + ys * s).tolist(),
                         (lon0 + xs * s).tolist()))
        return pd.DataFrame(
            rows, columns=["feature_id", "ring_idx", "role", "lat", "lon"])

    return (cells.select("feature_id", "cx", "cy")
            .groupBy("feature_id").applyInPandas(fn, RING_SCHEMA))


# paint-key packing bounds: per-feature raster area < 2^24 cells
# (grid up to 4096x4096), feature_id < 2^24, layer in [-128, 127],
# group rank < 2^7 -- (7+8)+24+24 = 63 bits, pure int64
# (oracle-exact; rank 128 would push (rank*256+255)*2^48 past 2^63).
AREA_CAP = 1 << 24
FID_CAP = 1 << 24
MAX_GROUP_RANK = 127


def composite_cells(cells: DataFrame,
                    group_rank: dict[int, int] | None = None) -> DataFrame:
    """Painter's-order raster compositing: ONE winning (feature_id,
    category) per cell when filled features overlap.

    The reference renderer paints surfaces in ascending
    (group, layer, -area, sequence) order -- a chain of stable sorts
    ending with ``order_by_group`` (osm/lib/osm_display.ml:908-915),
    with area as the secondary key so LARGER features are painted
    FIRST and smaller ones land on top.  The last-painted feature owns
    the pixel, so the winner per cell is simply the max of that sort
    key -- no imperative painting needed:

    - group: rank from ``group_rank[category]`` (the renderer's
      ``SP.add_group`` registration order; unmapped categories rank 0);
    - layer: the OSM layer tag (``layer`` column; defaults to 0);
    - area: per-feature filled-cell count, the integer twin of the
      renderer's float polygon area (osm_display.ml:617-621) --
      computed from the cell table itself, DESCENDING in paint order;
    - feature_id: the total-order tiebreak (``SP.order_totally``).

    All four pack into one int64 paint key (bounds above), so the
    whole operator is two hash aggregations and one broadcast-sized
    join -- map-side partial aggregation on both groupBys, no
    cartesian, no Python workers.  Input: (feature_id, category, cx,
    cy [, layer]) filled cells, distinct per (feature_id, cx, cy) --
    ``rasterize_polygons`` output satisfies this; duplicate rows would
    inflate both the area key and ``n_painted``.  Output one row per
    distinct (cx, cy).

    Real OSM way/relation ids routinely exceed the 24-bit paint-key
    field, so the operator is TOTAL over ids: when any feature_id falls
    outside [0, 2^24) (probed with one column-pruned scan), the
    tiebreak field becomes
    ``dense_rank() over (order by feature_id)`` on the per-feature
    frame instead of the raw id.  The rank preserves the id order, so
    winners are bit-identical to the raw-id semantics, and it always
    fits: distinct painted features <= occupied cells <= 2^24 on the
    largest supported grid.  (The rank window is a single-partition
    sort of the PER-FEATURE frame — bounded by the grid, never by the
    layer size.)  Output rows always carry the original feature_id.
    """
    def _bounded(expr, lo, hi, what):
        # in-plan guard: zero extra passes over the data; an out-of-range
        # value fails the job loudly instead of silently bleeding into a
        # neighboring bit-field of the packed paint key
        return F.when(
            (expr < lo) | (expr > hi),
            F.raise_error(F.concat(
                F.lit(f"composite_cells: {what} out of [{lo},{hi}] for the "
                      f"int64 paint key (remap with dense_rank first): "),
                expr.cast("string")))
        ).otherwise(expr)

    has_layer = "layer" in cells.columns
    lay = (F.coalesce(F.col("layer").cast("long"), F.lit(0))
           if has_layer else F.lit(0)) + 128
    lay = _bounded(lay, 0, 255, "layer+128")
    if group_rank:
        bad = {c: g for c, g in group_rank.items()
               if not 0 <= int(g) <= MAX_GROUP_RANK}
        if bad:
            raise ValueError(
                f"group ranks must be in [0, {MAX_GROUP_RANK}] to fit "
                f"the int64 paint key: {bad}")
        items = [x for c, g in sorted(group_rank.items())
                 for x in (F.lit(int(c)), F.lit(int(g)))]
        grp = F.coalesce(F.element_at(F.create_map(*items),
                                      F.col("category").cast("int")),
                         F.lit(0)).cast("long")
    else:
        grp = F.lit(0).cast("long")
    area = (cells.groupBy("feature_id")
            .agg(F.count("*").alias("area_cells")))
    # probe the id extremes from the tiny per-feature aggregate, not
    # the raw cells frame.  The localCheckpoint only deduplicates the
    # area subtree (this probe and the paint-key join below share
    # it); the join's raw `cells` side still recomputes the upstream
    # lineage (often a full rasterize) in the final action
    area = area.localCheckpoint(eager=False)
    ext = area.agg(F.min("feature_id"), F.max("feature_id")).collect()[0]
    if ext[0] is not None and (int(ext[0]) < 0 or int(ext[1]) >= FID_CAP):
        from pyspark.sql import Window
        area = area.withColumn(
            "fid_key",
            F.dense_rank().over(Window.orderBy("feature_id")).cast("long") - 1)
        fid = _bounded(F.col("fid_key"), 0, FID_CAP - 1, "fid_rank")
    else:
        fid = _bounded(F.col("feature_id").cast("long"), 0, FID_CAP - 1,
                       "feature_id")
    area_cells = _bounded(F.col("area_cells"), 1, AREA_CAP - 1, "area_cells")
    keyed = cells.join(area, "feature_id").select(
        "feature_id", "category", "cx", "cy",
        (((grp * 256 + lay) * AREA_CAP
          + (AREA_CAP - 1 - area_cells)) * FID_CAP
         + fid).alias("paint_key"))
    win = keyed.groupBy("cx", "cy").agg(
        F.max_by(F.struct("feature_id", "category"),
                 F.col("paint_key")).alias("w"),
        F.count("*").alias("n_painted"))
    return win.select(
        "cx", "cy",
        F.col("w.feature_id").alias("feature_id"),
        F.col("w.category").alias("category"),
        F.col("n_painted").cast("int").alias("n_painted"))

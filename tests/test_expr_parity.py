"""The one-SQL-expression forms of the JVM keys equal the Column-call
chains they replaced (``kernel_oracles``), value for value: mercator
rows on random and polar latitudes at z 9/12/20/28 with and without the
polygon row pad, ``page_tiles`` rows, and ``polygon_cells`` rows."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osm_spark import fixtures as FX
from osm_spark.operators import spatial_join as SJ
from osm_spark.operators import tiles as T

from kernel_oracles import page_tiles_chain, polygon_cells_chain, tile_y_col_chain

ZOOMS = (9, 12, 20, 28)
PADS = (0.0, SJ._CELL_PAD_ROWS, -SJ._CELL_PAD_ROWS)


def _lats(n: int = 20_000) -> np.ndarray:
    """Random latitudes plus both poles, the mercator limits and dense
    windows next to each pole (fixed-point)."""
    rng = np.random.default_rng(11)
    return np.concatenate([
        [900_000_000, -900_000_000, 850_511_288, -850_511_288, 0],
        np.arange(-900_000_000, -899_998_000),
        np.arange(899_998_000, 900_000_001),
        rng.integers(-900_000_000, 900_000_001, n),
    ]).astype(np.int64)


def test_tile_y_sql_equals_column_chain(spark):
    lats = _lats()
    df = spark.createDataFrame(pd.DataFrame({"lat": lats}))
    pairs = [(z, p) for z in ZOOMS for p in PADS]
    diff = [F.sum((~F.expr(SJ.tile_y_sql("lat", z, p)).eqNullSafe(
        tile_y_col_chain("lat", z, p))).cast("long")) for z, p in pairs]
    got = df.agg(F.count("*"), *diff).first()
    assert got[0] == len(lats)
    assert dict(zip(pairs, got[1:])) == {zp: 0 for zp in pairs}


def test_page_tiles_equals_column_chain(spark):
    lats = _lats(4_000)
    rng = np.random.default_rng(12)
    df = spark.createDataFrame(pd.DataFrame({
        "page_id": np.arange(len(lats)), "lat": lats,
        "lon": rng.integers(-1_800_000_000, 1_800_000_000, len(lats))}))
    for zooms in (T.ZOOM_BANDS, ZOOMS):
        new = T.page_tiles(df, zooms)
        old = page_tiles_chain(df, zooms)
        assert new.columns == old.columns == ["page_id", "z", "x", "y"]
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0
        assert new.count() == len(lats) * len(zooms)


def test_polygon_cells_equals_column_chain(spark):
    polys = FX.polygons_df(spark, 120)
    for z in (9, 12):
        new = SJ.polygon_cells(polys, z)
        old = polygon_cells_chain(polys, z, SJ._CELL_PAD_ROWS)
        assert new.columns == old.columns
        cols = ["feature_id", "cx", "cy"]
        assert sorted(map(tuple, new.select(cols).collect())) == sorted(
            map(tuple, old.select(cols).collect()))

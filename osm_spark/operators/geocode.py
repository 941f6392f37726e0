"""Geocoding: derive fixed-point (lat, lon) for pages / documents.

Two derivations, both pure JVM-side column expressions (no Python):

- ``geocode_pages``: extract the geo slug embedded in the url path
  (``…/geo/<lat_fp>/<lon_fp>/…``) — regexp_extract, whole-stage codegen.
- ``geocode_ids``: hash-geocode an integer id into the fixture world box
  with exact int64 arithmetic (same formula as the DuckDB oracle SQL):
  lat = LAT0 + (id*GEO_A) % SPAN, lon = LON0 + (id*GEO_B) % SPAN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_spark.fixtures import GEO_A, GEO_B, LAT0, LON0, SPAN

_GEO_RE = r"/geo/(-?\d+)/(-?\d+)/"


def geocode_pages(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``page_id``, ``lat``, ``lon`` derived from the url.

    Falls back to the hash geocode of ``page_id`` when no geo slug exists.
    Whatever cannot be derived is NULL, never a task failure: a url
    without a ``page<digits>`` suffix, or a number that overflows
    ``long`` (``try_cast`` under ANSI casts).
    """
    page_id = F.regexp_extract(F.col(url_col), r"page(\d+)$", 1).try_cast("long")
    lat_s = F.regexp_extract(F.col(url_col), _GEO_RE, 1)
    lon_s = F.regexp_extract(F.col(url_col), _GEO_RE, 2)
    lat_h, lon_h = geocode_id_cols(page_id)
    return (
        df.withColumn("page_id", page_id)
        .withColumn("lat", F.when(lat_s != "", lat_s.try_cast("long")).otherwise(lat_h))
        .withColumn("lon", F.when(lon_s != "", lon_s.try_cast("long")).otherwise(lon_h))
    )


def geocode_id_cols(id_col: Column) -> tuple[Column, Column]:
    # reduce mod SPAN before multiplying (id*GEO_A wraps int64 past
    # ~3.5e9) and use pmod (floored) so negative ids land inside the
    # world box exactly like the numpy fixture and DuckDB twins
    m = F.pmod(id_col, F.lit(SPAN))
    lat = F.lit(LAT0) + F.pmod(m * F.lit(GEO_A % SPAN), F.lit(SPAN))
    lon = F.lit(LON0) + F.pmod(m * F.lit(GEO_B % SPAN), F.lit(SPAN))
    return lat.cast("long"), lon.cast("long")


def geocode_ids(df: DataFrame, id_col: str) -> DataFrame:
    lat, lon = geocode_id_cols(F.col(id_col))
    return df.withColumn("lat", lat).withColumn("lon", lon)

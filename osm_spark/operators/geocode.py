"""Geocoding: derive fixed-point (lat, lon) for pages / documents.

Two derivations, both pure JVM-side column expressions (no Python):

- ``geocode_pages``: extract the geo slug embedded in the url path
  (``…/geo/<lat_fp>/<lon_fp>/…``) — regexp_extract, whole-stage codegen,
  one SQL expression per derived column.
- ``geocode_ids``: hash-geocode an integer id into the fixture world box
  with exact int64 arithmetic (same formula as the DuckDB oracle SQL):
  lat = LAT0 + (id*GEO_A) % SPAN, lon = LON0 + (id*GEO_B) % SPAN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.fixtures import GEO_A, GEO_B, LAT0, LON0, SPAN
from osm_spark.operators.sqlexpr import sql_name, sql_str

_PAGE_RE = r"page(\d+)$"
_GEO_RE = r"/geo/(-?\d+)/(-?\d+)/"


def id_geo_sql(id_sql: str) -> tuple[str, str]:
    """(lat, lon) SQL of the hash geocode of the BIGINT ``id_sql``.
    Reduce mod SPAN before multiplying (id*GEO_A wraps int64 past
    ~3.5e9) and use pmod (floored) so negative ids land inside the
    world box exactly like the numpy fixture and DuckDB twins."""
    m = f"pmod({id_sql}, {SPAN})"
    return (f"CAST({LAT0} + pmod({m} * {GEO_A % SPAN}, {SPAN}) AS BIGINT)",
            f"CAST({LON0} + pmod({m} * {GEO_B % SPAN}, {SPAN}) AS BIGINT)")


def geocode_pages(df: DataFrame) -> DataFrame:
    """Add ``page_id``, ``lat``, ``lon`` derived from the ``url`` column.

    Falls back to the hash geocode of ``page_id`` when no geo slug exists.
    Whatever cannot be derived is NULL, never a task failure: a url
    without a ``page<digits>`` suffix, or a number that overflows
    ``long`` (``try_cast`` under ANSI casts).  The patterns reach the
    SQL parser through ``sql_str``, which keeps their backslashes.
    """
    url = "`url`"
    page_id = f"try_cast(regexp_extract({url}, {sql_str(_PAGE_RE)}, 1) AS BIGINT)"

    def coord(group: int, hashed: str) -> str:
        m = f"regexp_extract({url}, {sql_str(_GEO_RE)}, {group})"
        return f"CASE WHEN {m} != '' THEN try_cast({m} AS BIGINT) ELSE {hashed} END"

    lat_h, lon_h = id_geo_sql("page_id")
    return df.withColumn("page_id", F.expr(page_id)).withColumns(
        {"lat": F.expr(coord(1, lat_h)), "lon": F.expr(coord(2, lon_h))})


def geocode_ids(df: DataFrame, id_col: str) -> DataFrame:
    lat, lon = id_geo_sql(sql_name(id_col))
    return df.withColumn("lat", F.expr(lat)).withColumn("lon", F.expr(lon))

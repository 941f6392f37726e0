"""Adapt the driver's ``documents`` table into the Common-Crawl-style
pages shape (url, warc_ts, html, text, lang) from BASELINE.json's
input_hint — deterministically, so oracle SQL can re-derive every value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.operators.geocode import id_geo_sql


def documents_as_pages(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → pages.

    The geo slug in the url carries the hash geocode of doc_id, so the
    standard url geocoder applies.
    """
    lat, lon = (F.expr(e) for e in id_geo_sql("`doc_id`"))
    url = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 997).cast("string"),
        F.lit(".example/"), F.col("lang"), F.lit("/geo/"),
        lat.cast("string"), F.lit("/"), lon.cast("string"),
        F.lit("/page"), F.col("doc_id").cast("string"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 7)
    return docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )

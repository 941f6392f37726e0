"""Routing profile from raw OSM way tags (§2.5 input stage).

Re-expression of /root/reference/osm/profile_car.ml:27-81 as pure JVM
column expressions over the (way, key, val) tag table:

- not routable (dropped): no highway tag, highway class not in the
  speed table, ``area=yes``, or ``access`` in the blacklist;
- speed [km/h] from the highway class table;
- oneway: ``no/0/false`` → 0, ``-1`` → -1, ``yes/1/true`` → 1,
  otherwise (including a MISSING oneway tag) motorway/motorway_link
  implies 1, everything else 0.  The reference's ``Tags.find`` returns
  ``nil`` for a missing tag (routing_profile.ml:100-108) — it does NOT
  raise — so execution reaches the implied-oneway check in
  profile_car.ml:68-79 and a bare motorway is ONEWAY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CAR_SPEED = {
    "motorway": 90.0, "motorway_link": 75.0,
    "trunk": 85.0, "trunk_link": 70.0,
    "primary": 65.0, "primary_link": 60.0,
    "secondary": 55.0, "secondary_link": 50.0,
    "tertiary": 40.0, "tertiary_link": 30.0,
    "unclassified": 25.0, "residential": 25.0,
    "living_street": 10.0, "service": 15.0,
    "ferry": 5.0, "shuttle_train": 10.0,
    "default": 50.0,
}

ACCESS_BLACKLIST = ["no", "private", "agricultural", "forestry"]
FALSE_SET = ["no", "0", "false"]
TRUE_SET = ["yes", "1", "true"]


def apply_profile(way_tags: DataFrame) -> DataFrame:
    """(way, key, val) tag rows -> (way, speed, oneway) for routable
    ways only, speeds from ``CAR_SPEED``.  One shuffle (the tag pivot);
    everything else is whole-stage-codegen expressions."""

    def tag(name):
        return F.max(F.when(F.col("key") == name, F.col("val")))

    t = way_tags.groupBy("way").agg(
        tag("highway").alias("highway"),
        tag("area").alias("area"),
        tag("access").alias("access"),
        tag("oneway").alias("oneway_tag"),
    )
    speed = F.element_at(
        F.create_map(*[F.lit(x) for kv in CAR_SPEED.items() for x in kv]),
        F.col("highway"),
    )
    routable = (
        F.col("highway").isNotNull()
        & speed.isNotNull()
        & (F.coalesce(F.col("area"), F.lit("")) != "yes")
        & ~F.coalesce(F.col("access"), F.lit("")).isin(ACCESS_BLACKLIST)
    )
    # NULL oneway must fall through to the implied-oneway motorway
    # branch, exactly like the reference's nil sentinel ('' is in no
    # recognized value set, so it behaves identically).
    ow = F.coalesce(F.col("oneway_tag"), F.lit(""))
    oneway = (
        F.when(ow.isin(FALSE_SET), F.lit(0))
        .when(ow == "-1", F.lit(-1))
        .when(
            ow.isin(TRUE_SET)
            | F.col("highway").isin("motorway", "motorway_link"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    return (
        t.filter(routable)
        .select("way", speed.alias("speed"), oneway.alias("oneway"))
    )


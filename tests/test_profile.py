"""Routing profile from raw way tags (profile_car.ml:27-81 semantics)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from osm_spark.operators import profile as P

FIXTURE = Path(__file__).resolve().parent.parent / "data" / "fixtures" / "sample.osm.pbf"


def _tags(spark, rows):
    return spark.createDataFrame(rows, "way long, key string, val string")


def test_profile_rules(spark):
    rows = [
        (1, "highway", "motorway"),                       # no oneway tag
        (2, "highway", "motorway"), (2, "oneway", "xyz"), # implied oneway
        (3, "highway", "residential"), (3, "oneway", "-1"),
        (4, "highway", "primary"), (4, "oneway", "no"),
        (5, "highway", "service"), (5, "area", "yes"),    # skipped
        (6, "highway", "trunk"), (6, "access", "private"),  # skipped
        (7, "highway", "weird_class"),                    # not in table
        (8, "name", "untagged"),                          # no highway
        (9, "highway", "residential"), (9, "oneway", "sometimes"),
    ]
    got = {r.way: (r.speed, r.oneway)
           for r in P.apply_profile(_tags(spark, rows)).collect()}
    assert got == {
        1: (90.0, 1),   # missing oneway on motorway => implied oneway
        2: (90.0, 1),   # unrecognized oneway on motorway => implied oneway
        3: (25.0, -1),
        4: (65.0, 0),
        9: (25.0, 0),   # unrecognized oneway elsewhere => bidirectional
    }


@pytest.fixture(scope="module")
def pbf_tables(spark):
    from osm_spark.sources import pbf, pbf_fixture

    FIXTURE.parent.mkdir(parents=True, exist_ok=True)
    pbf_fixture.write_sample_pbf(str(FIXTURE))
    return pbf.read_pbf(spark, str(FIXTURE))


def test_profile_on_pbf_fixture(spark, pbf_tables):
    got = {r.way: (r.speed, r.oneway)
           for r in P.apply_profile(pbf_tables["way_tags"]).collect()}
    want = {9_000 + w: (25.0 if w % 2 == 0 else 65.0, 1 if w % 4 == 0 else 0)
            for w in range(40)}
    assert got == want


def test_profile_to_edges_end_to_end(spark, pbf_tables):
    """PBF tags -> profile -> extract_edges(speed_col): oneway ways get
    single-direction edges, weight = length/speed."""
    from osm_spark.operators import routing as RT

    prof = P.apply_profile(pbf_tables["way_tags"])
    refs = pbf_tables["way_refs"].join(prof, "way").selectExpr(
        "way AS way_id", "seq", "node AS node_id", "speed", "oneway")
    nodes = pbf_tables["nodes"].selectExpr("node AS node_id", "lat", "lon")
    edges = RT.extract_edges(refs, nodes, speed_col="speed")
    rows = [(r.src, r.dst, r.weight) for r in edges.collect()]
    assert len(rows) > 100
    pairs = {(s, d) for s, d, _ in rows}
    asym = [(s, d) for (s, d) in pairs if (d, s) not in pairs]
    assert asym                       # oneway ways produce asymmetric edges
    assert min(w for _, _, w in rows) > 0

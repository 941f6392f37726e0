"""North-rule per-row invariant: extracted ``text`` (and the ``html``
payload) per url stays byte-identical through the engine — geocode,
shuffle, spatial join, checkpoint write/read included."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from osm_spark import fixtures as FX
from osm_spark.metrics import Pipeline
from osm_spark.operators.geocode import geocode_pages
from osm_spark.operators.spatial_join import spatial_join

from kernel_oracles import pages_df


def _digests(df):
    rows = df.select("url", "text", "html").collect()
    return {
        r.url: (hashlib.sha256(r.text.encode()).hexdigest(),
                hashlib.sha256(bytes(r.html)).hexdigest())
        for r in rows
    }


def test_text_and_html_byte_identity_through_pipeline(spark, tmp_path):
    pages = pages_df(spark, 500)
    want = _digests(pages)

    pl = Pipeline(spark, str(tmp_path / "pl"), "invariant")
    geo = pl.stage("geocode", lambda: geocode_pages(pages))
    polys = spark.createDataFrame(
        [(p["feature_id"], p["category"], p["layer"],
          [(r["role"], r["lat"], r["lon"]) for r in p["rings"]])
         for p in FX.city_polygons()],
        FX.POLYGON_SCHEMA,
    )

    def tag():
        m = spatial_join(geo, polys, how="left")
        return geo.join(m, "page_id", "left").repartition(7, "feature_id")

    tagged = pl.stage("tag", tag, inputs=["geocode"])
    got = _digests(tagged)
    assert got == want  # byte-identical text+html per url, post-checkpoint

    # lineage recorded for both stages with partition row detail
    recs = [r for r in pl.lineage() if not r.get("resumed")]
    assert {r["stage"] for r in recs} == {"geocode", "tag"}


def test_tag_classifier_dsl_semantics(spark):
    """category.ml:83-122 semantics: Any maps values, Not blocks values
    AND sets the key default, later rules replace, unknown key -> none."""
    from osm_spark.operators import category as CAT

    dsl = [
        ("etype", [("any", ["click", "view"], 1), ("not", ["purchase"], 2)]),
        ("vband", [("any", ["hi"], 3)]),
        ("etype", [("any", ["view"], 9)]),   # replaces the earlier view->1
    ]
    rows = [("etype", "click", 1), ("etype", "view", 9),
            ("etype", "purchase", -1),        # blocked outranks key default
            ("etype", "signup", 2),           # key default from Not
            ("vband", "hi", 3), ("vband", "lo", -1),
            ("nokey", "x", -1)]
    df = spark.createDataFrame([(k, v) for k, v, _ in rows], "key string, val string")
    got = df.select("key", "val",
                    CAT.classify_tags("key", "val", dsl).alias("cat")).collect()
    want = {(k, v): c for k, v, c in rows}
    for r in got:
        assert want[(r.key, r.val)] == r.cat, (r.key, r.val, r.cat)


def test_connected_components_hand_graph(spark):
    """Large-star/small-star on a hand graph: chains merge, singletons
    keep their own id."""
    from osm_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    got = {r.doc_id: r.comp
           for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_long_chain(spark):
    """A 1,000-node path graph (diameter 999) converges in O(log n)
    round pairs — the adversarial case plain label propagation handles
    in O(D) rounds — with every node labelled by the chain minimum."""
    from osm_spark.operators.dedup import connected_components

    n = 1000
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    # max_iter=15 round pairs bounds the evidence: log2(1000) ~ 10;
    # plain propagation would need 999 rounds and raise here
    got = {r.doc_id: r.comp
           for r in connected_components(nodes, edges, max_iter=15).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_nonconvergence_raises(spark):
    from osm_spark.operators.dedup import connected_components
    import pytest as _pytest

    nodes = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, edges, max_iter=1)

"""Plan shape: the physical-plan properties the scale design rests on,
one table row each — pushdown at the scan, no exchange on the broadcast
and decode paths, no forced broadcast in a kNN ring round, no cartesian
or nested-loop join anywhere.  A row is (name, plan builder,
``must_contain``, ``must_not``); a failing row prints its plan.

Plain substring checks over ``executed_plan`` text, except the kNN rows:
``knn_join`` runs its rounds inside the call and returns a frame that
reads their checkpoints, so those rows read every plan the call runs
(``call_plans``), planned with ``autoBroadcastJoinThreshold=-1`` so
that only a forced broadcast can show.

Held elsewhere on the same call: the PBF, WARC and shapefile decode
plans (``MapInPandas``, no ``Exchange``) by
``test_warc::test_decode_plan_has_no_exchange``; the partitioned join's
one ``MapInArrow``, ``REPARTITION_BY_COL`` and no ``EvalPython`` by
``test_spatial_join::test_cell_keys_run_no_python_before_exchange``.
"""

from __future__ import annotations

import pytest

from osm_spark import fixtures as FX
from osm_spark.operators import knn as KNN
from osm_spark.operators import raster as RZ
from osm_spark.operators import tiles as T
from osm_spark.operators.geocode import geocode_ids
from osm_spark.operators.similarity import cosine_near_dup_bucketed
from osm_spark.operators.spatial_join import (spatial_join,
                                             spatial_join_partitioned,
                                             write_partitioned_layer)
from osm_spark.sources import warc, warc_fixture

from kernel_oracles import call_plans, executed_plan

SF = "/root/testdata/sf0.001"
BRUTE = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _docs(spark):
    """The sf0.001 documents, geocoded by id: (doc_id, lat, lon)."""
    return geocode_ids(spark.read.parquet(f"{SF}/documents.parquet")
                       .select("doc_id"), "doc_id")


def _scan(spark, tmp_path, monkeypatch):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    return executed_plan(li.filter("l_returnflag = 'R'")
                         .select("l_orderkey", "l_quantity"))


def _broadcast_join(spark, tmp_path, monkeypatch):
    return executed_plan(spatial_join(_docs(spark), FX.polygons_df(spark, 50),
                                      how="left", page_key="doc_id"))


def _partitioned_join(**kw):
    def build(spark, tmp_path, monkeypatch):
        layer = write_partitioned_layer(FX.polygons_df(spark, 500),
                                        str(tmp_path / "layer"))
        return executed_plan(spatial_join_partitioned(
            _docs(spark), layer, page_key="doc_id", **kw))
    return build


def _near_dup(spark, tmp_path, monkeypatch):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return executed_plan(cosine_near_dup_bucketed(emb, threshold=0.4))


def _warc_text(spark, tmp_path, monkeypatch):
    p = warc_fixture.write_sample(str(tmp_path / "sample.warc.gz"))
    return executed_plan(warc.read_warc_pages_text(spark, p))


def _webtext_chain(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "DATA", tmp_path)   # the WARC fixture's home
    return executed_plan(entry.q_e2e_warc_geo(spark, SF))


def _knn(monkeypatch_limits, **kw):
    """Every plan one ``knn_join`` call runs, on the cell path."""
    def build(spark, tmp_path, monkeypatch):
        feats = geocode_ids(spark.range(64).withColumnRenamed(
            "id", "feature_id"), "feature_id")
        docs = _docs(spark)
        monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
        for name, value in monkeypatch_limits.items():
            monkeypatch.setattr(KNN, name, value)
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            return "\n".join(call_plans(spark, lambda: KNN.knn_join(
                docs, feats, k=1, key="doc_id", **kw)))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    return build


def _viewport(spark, tmp_path, monkeypatch):
    tiles = T.page_tiles_exact(
        _docs(spark), T.tile_y_rows_df(spark, 12, FX.LAT0, FX.LAT0 + FX.SPAN),
        key="doc_id")
    out = str(tmp_path / "tiles")
    tiles.write.partitionBy("z").parquet(out)
    clat, clon = FX.CITY_CENTERS[0]
    return executed_plan(T.viewport_query(
        spark.read.parquet(out), 12, clat - 10**6, clat + 10**6,
        clon - 10**6, clon + 10**6))


def _raster(spark):
    return RZ.rasterize_polygons(FX.polygons_df(spark, 5).limit(5),
                                 FX.LAT0, FX.LON0, FX.SPAN, 128)


def _raster_fill(spark, tmp_path, monkeypatch):
    return executed_plan(_raster(spark))


def _raster_composite(spark, tmp_path, monkeypatch):
    return executed_plan(RZ.composite_cells(_raster(spark)))


ROWS = [
    # Catalyst pushdown: the filter reaches the parquet scan, and the
    # JVM operators run as whole-stage generated code ("*(1) ")
    ("scan_pushdown", _scan, ("PushedFilters", "*(1) "), ()),
    # one MapInArrow over the pages; the CSR index is a TorrentBroadcast
    # outside the plan, so the pages never shuffle
    ("spatial_join_broadcast", _broadcast_join, (), ("Exchange",)),
    # pages hash-partition on the coarse cell key: one JVM exchange
    ("spatial_join_partitioned", _partitioned_join(salt=2), ("Exchange",), ()),
    # Hilbert-clustered pages are already cell-local: no exchange at all
    ("spatial_join_clustered", _partitioned_join(pages_clustered=True),
     (), ("Exchange",)),
    # candidates come from the (table, bucket) equi-join, never all pairs
    ("near_dup_bucketed", _near_dup, (), BRUTE),
    # html -> text runs inside the decode mapper: no html column crosses
    # the Arrow boundary
    ("warc_text", _warc_text, ("MapInPandas",), ("html",)),
    ("webtext_chain", _webtext_chain, ("AdaptiveSparkPlan",),
     ("CartesianProduct",)),
    # every ring round explodes the points (Generate) and equi-joins the
    # features at their own cell; nothing sized by the layer is
    # force-broadcast
    ("knn_ring_round", _knn({}, cell_zoom=8, radius=2), ("Generate",),
     BRUTE + ("BroadcastExchange",)),
    # rings too narrow to certify send the points to the residue pass,
    # which broadcasts the residue and streams the features through one
    # MapInPandas
    ("knn_residue", _knn({"MAX_EXPANSIONS": 0}, cell_zoom=14, radius=1),
     ("MapInPandas",), BRUTE),
    # x/y range predicates reach the scan: row-group stats skip tiles
    ("viewport", _viewport, ("PushedFilters",), ()),
    # the grid is one JVM Range; the fill is the broadcast PIP mapper
    ("raster_fill", _raster_fill, ("Range",), ("CartesianProduct",)),
    # the painter's-order winner is one max_by aggregation with a
    # map-side partial before its exchange
    ("raster_composite", _raster_composite, ("partial_max_by",),
     ("CartesianProduct",)),
]


@pytest.mark.parametrize("name, build, must_contain, must_not", ROWS,
                         ids=[r[0] for r in ROWS])
def test_plan(spark, tmp_path, monkeypatch, name, build, must_contain,
              must_not):
    plan = build(spark, tmp_path, monkeypatch)
    missing = [s for s in must_contain if s not in plan]
    present = [s for s in must_not if s in plan]
    assert not missing and not present, (
        f"{name}: missing {missing}, present {present}\n{plan}")

"""Driver cost ledger: how many py4j round trips, driver collects and
Spark jobs each geo_tag operator call, the same ``knn_join`` call on
its large-layer cell-ring path (``knn_join_cells``), each routing call
(``contract`` with one distributed round, ``ch_batch_routes``), the
ingest_warc chain (``ingest_warc``) and each byte-range source decode
(``decode_blocks``, ``read_shp``, each with its ``count()``) costs on
the driver, and the shape of the plans it runs.

Every ``Column``/``DataFrame`` method call is at least one Python->JVM
round trip, and building a plan out of hundreds of them was most of the
driver time between geo_tag's steps.  Among those round trips, a call
of ``collectToPython``, ``collectAsArrowToPython`` or
``toPythonIterator`` is a driver collect: it pulls rows to the driver,
so each is a memory bound to state.  All three counts are deterministic
for a given call on a given input, so they are held exactly by
``tests/data/cost_ledger.json``:

- a count above its ledger entry fails (a plan got more expensive);
- a count below it fails too, asking for the ledger to be lowered, so
  the ledger always states today's cost.

Round trips are those the calling thread sends through
``ClientServerConnection.send_command`` (py4j's object finalizer thread
is not counted).  Jobs are counted per job group through
``statusTracker``.  Every call runs once unmeasured first, so one-time
lookups do not depend on test order.  PySpark caches, per process, the
first answer to "is DataFrame debugging on" (each ``functions.*`` /
``Column`` call then records its call site over py4j), and a call made
with no active session caches "off"; the test clears that cache so the
counts follow the session's setting (Spark's default, on).  ``contract``
runs one distributed round's stages per round (40 jobs on grid 6), and
``knn_join_cells`` runs its ring rounds inside the call (each round's
carry-over probe collects), so each count waits for the listener bus to
drain before reading the job group.

A second pass counts each call's plan nodes: shuffle ``Exchange``,
``BroadcastExchange`` and Python-worker nodes (``ArrowEvalPython``,
``MapInPandas``, ``MapInArrow``, ...), over the plans of the SQL
executions the call runs plus the executed plan of the frame it
returns — each a unit of cost of the kind CIDR 2022's Python-UDF cost
model counts.  The pass runs after the round trips and jobs are read,
so reading plans moves neither count.
"""

from __future__ import annotations

import json
import threading
from pathlib import Path

import pytest
import pyspark.errors.utils
from py4j.clientserver import ClientServerConnection

from osm_spark import fixtures as FX
from osm_spark.operators import knn as KNN
from osm_spark.operators import textops as TX
from osm_spark.operators import routing as RT
from osm_spark.operators import tiles as T
from osm_spark.operators.geocode import geocode_ids, geocode_pages
from osm_spark.operators.knn import knn_join
from osm_spark.operators.spatial_join import (COARSE_SHIFT, DEFAULT_CELL_ZOOM,
                                             broadcast_polygon_index,
                                             spatial_join,
                                             spatial_join_partitioned,
                                             suggest_salt,
                                             write_partitioned_layer)
from osm_spark.sources import pbf, pbf_fixture, shapefile, shp_fixture
from osm_spark.sources import warc_fixture
from osm_spark.sources.warc import read_warc_pages_text

from kernel_oracles import call_plans, pages_df, plan_node_counts

LEDGER = Path(__file__).parent / "data" / "cost_ledger.json"
N_PAGES = 400
N_SMALL = 120
N_FEATS = 64


# the JVM methods behind DataFrame.collect, toPandas and toLocalIterator
COLLECTS = {"collectToPython", "collectAsArrowToPython", "toPythonIterator"}


class _Meter:
    """Counts the round trips the measuring thread sends while on, and
    among them the driver collects."""

    def __init__(self, monkeypatch):
        self.n = self.collects = 0
        self.on = False
        self.thread = threading.get_ident()
        send = ClientServerConnection.send_command
        meter = self

        def counted(conn, command):
            if meter.on and threading.get_ident() == meter.thread:
                meter.n += 1
                # a call command is "c", target id, method name, args...
                head = command.split("\n", 3)
                meter.collects += head[0] == "c" and head[2] in COLLECTS
            return send(conn, command)

        monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def measure(self, sc, group: str, fn) -> dict[str, int]:
        """Round trips, Spark jobs and driver collects of ``fn()``."""
        sc.setJobGroup(group, group)
        self.n, self.collects, self.on = 0, 0, True
        try:
            fn()
        finally:
            self.on = False
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker learns of a job from the listener bus, which
        # may lag behind a call's last job
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {"py4j": self.n, "collects": self.collects,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group))}


def _contract(edges, monkeypatch):
    """``contract`` on the grid-6 network with a threshold low enough
    for at least one distributed round before the local finish."""
    with monkeypatch.context() as m:
        m.setattr(RT, "LOCAL_THRESHOLD", 120)
        return RT.contract(edges)


def _knn_cells(geo, feats, monkeypatch):
    """geo_tag's ``knn_join`` call with the broadcast limit just under
    the layer, so the cell-ring path answers it."""
    with monkeypatch.context() as m:
        m.setattr(KNN, "BROADCAST_FEATURE_LIMIT", N_FEATS - 1)
        return knn_join(geo, feats, k=1, cell_zoom=8, radius=2)


def _ingest_warc(spark, warc: str, out: str) -> None:
    """perfbench's ingest_warc chain: text pages, quality columns and
    fingerprint, written to parquet."""
    from pyspark.sql import functions as F

    pages = read_warc_pages_text(spark, warc)
    TX.with_quality(pages).withColumn(
        "fp", TX.fingerprint_udf()(F.col("text"))).write.mode(
        "overwrite").parquet(out)


def _calls(spark, tmp: Path, monkeypatch) -> dict:
    """The geo_tag steps (``perfbench/workloads.py``), its ``knn_join``
    step on the cell-ring path, the routing calls, the ingest_warc chain
    and the PBF and shapefile decodes, each as a thunk over the small
    fixtures; inputs are built outside the thunks."""
    pages = pages_df(spark, N_PAGES)
    polys = FX.polygons_df(spark, N_SMALL)
    geo = geocode_pages(pages).select("page_id", "lat", "lon")
    feats = geocode_ids(spark.range(N_FEATS).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    index = broadcast_polygon_index(polys)
    layer = str(tmp / "layer")
    write_partitioned_layer(polys, layer, n_files=8)
    zc = DEFAULT_CELL_ZOOM - COARSE_SHIFT
    nodes, refs = FX.road_network_dfs(spark, grid=6)
    edges = spark.createDataFrame(
        RT.extract_edges(refs, nodes).select("src", "dst", "weight").collect(),
        "src long, dst long, weight double")
    ch = RT.contract(edges).edges.localCheckpoint()
    pairs = spark.createDataFrame([(i, (i * 7 + 11) % 36) for i in range(36)],
                                  "src long, dst long")
    warc = warc_fixture.write_sample(str(tmp / "sample.warc.gz"))
    osm = str(tmp / "sample.osm.pbf")
    pbf_fixture.write_sample_pbf(osm)
    shp = str(tmp / "coastline.shp")
    shp_fixture.write_sample_shp(shp)
    return {
        "geocode_pages": lambda: geocode_pages(pages),
        "spatial_join": lambda: spatial_join(geo, polys, how="left", index=index),
        "page_tiles": lambda: T.page_tiles(geo),
        "knn_join": lambda: knn_join(geo, feats, k=1, cell_zoom=8, radius=2),
        "knn_join_cells": lambda: _knn_cells(geo, feats, monkeypatch),
        "feature_tiles": lambda: T.feature_tiles(polys),
        "write_partitioned_layer": lambda: write_partitioned_layer(
            polys, str(tmp / "layer_w"), n_files=8),
        "suggest_salt": lambda: suggest_salt(geo, z=zc),
        "spatial_join_partitioned": lambda: spatial_join_partitioned(
            geo, layer, how="left", salt=2),
        "contract": lambda: _contract(edges, monkeypatch),
        "ch_batch_routes": lambda: RT.ch_batch_routes(pairs, ch),
        "ingest_warc": lambda: _ingest_warc(spark, warc, str(tmp / "pages")),
        "decode_blocks": lambda: pbf.decode_blocks(spark, osm).count(),
        "read_shp": lambda: shapefile.read_shp(spark, shp).count(),
    }


def test_cost_ledger(spark, tmp_path, monkeypatch):
    want = json.loads(LEDGER.read_text())["calls"]
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    calls = _calls(spark, tmp_path, monkeypatch)
    assert sorted(calls) == sorted(want)
    for fn in calls.values():
        fn()
    meter = _Meter(monkeypatch)
    sc = spark.sparkContext
    got = {}
    for name, fn in calls.items():
        got[name] = meter.measure(sc, f"cost-ledger-{name}", fn)
    for name, fn in calls.items():
        got[name].update(plan_node_counts(call_plans(spark, fn)))
    table = json.dumps(got, indent=1)
    for name, g in got.items():
        for metric in ("py4j", "collects", "jobs", "exchange", "broadcast",
                       "python"):
            w = want[name][metric]
            assert g[metric] <= w, (
                f"{name}: {g[metric]} {metric} > ledger {w}; measured:\n{table}")
            assert g[metric] == w, (
                f"{name}: {g[metric]} {metric} < ledger {w}: lower the ledger "
                f"entry ({LEDGER.name}); measured:\n{table}")

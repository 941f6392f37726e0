"""Physical-plan review: capture .explain('formatted') for the headline
operators and assert the plan properties the 100 TB design depends on
(PushedFilters at the scan, broadcast joins for small sides, whole-stage
codegen for JVM paths).  Writes PLANS.md.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F

    from osm_spark import fixtures as FX
    from osm_spark.operators import tiles as T
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.knn import knn_join
    from osm_spark.operators.spatial_join import spatial_join
    from osm_spark.session import get_spark

    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    geo = geocode_ids(docs.select("doc_id"), "doc_id")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")

    sections = []
    checks = []

    def section(title, df, notes, must_contain=()):
        plan = fmt(df)
        for needle in must_contain:
            ok = needle in plan
            checks.append((title, needle, ok))
        sections.append(f"## {title}\n\n{notes}\n\n```\n{plan.strip()}\n```\n")

    # 1. predicate pushdown + column pruning at the parquet scan
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    section(
        "Filter + projection -> parquet scan",
        q,
        "The filter reaches the scan (`PushedFilters`) and only 3 of 16 "
        "columns are read (`ReadSchema`) — Catalyst pushdown working; at "
        "100 TB this is the difference between scanning 3 columns' pages "
        "and the whole table.",
        must_contain=("PushedFilters", "codegen id"),
    )

    # 2. spatial join, broadcast path: single mapInArrow, NO shuffle
    sj = spatial_join(geo, FX.polygons_df(spark, 50), how="left", page_key="doc_id")
    plan = fmt(sj)
    has_no_exchange = "Exchange" not in plan
    checks.append(("Spatial join (broadcast path)", "no Exchange", has_no_exchange))
    sections.append(
        "## Spatial join — broadcast cell-index path\n\n"
        "One `MapInArrow` over the pages scan; the CSR polygon index ships "
        "via TorrentBroadcast (outside the plan). ZERO Exchange operators "
        "— pages are never shuffled, which is what makes the 10^12-row "
        "side cheap: cost = one scan + vectorized PIP.\n\n"
        f"```\n{plan.strip()}\n```\n")

    # 3. partitioned disk-index path: hash exchange variant + the
    # zero-shuffle clustered variant
    from osm_spark.operators.spatial_join import (spatial_join_partitioned,
                                                 write_partitioned_layer)

    layer_path = REPO / "data" / "plans_layer"
    if not (layer_path / "_osm_layer_meta.json").exists():
        write_partitioned_layer(FX.polygons_df(spark, 500), str(layer_path))
    sjp = spatial_join_partitioned(geo, str(layer_path), page_key="doc_id",
                                   salt=2)
    section(
        "Spatial join — partitioned disk-index path (huge layers)",
        sjp,
        "The on-disk R-tree analog (database/rtree.ml): the layer lives "
        "cell-sorted in parquet (one-time `write_partitioned_layer` bulk "
        "load); pages hash-partition on the coarse cell key — ONE JVM "
        "columnar Exchange, no range-sampling job, "
        "no Python before it (the key is a JVM expression that only "
        "routes; the mapper's numpy kernels decide the cell), and no "
        "fixed partition count, so AQE sizes the reduce side — and each "
        "task range-reads only its cells from the layer file via "
        "row-group pruning.  The polygon side never shuffles and is "
        "bounded by disk, not executor memory; salt spreads hot cells "
        "at the cost of duplicate layer reads, never shuffle bytes.  "
        "Layers above the broadcast limit (`broadcast_polys=None` "
        "measures the vertex count and broadcasts below ~2M vertices) "
        "take this path; without a `layer_path`, `spatial_join` first "
        "writes the layer to a scratch directory.",
        must_contain=("Exchange", "MapInArrow", "REPARTITION_BY_COL"),
    )
    checks.append(("Spatial join — partitioned disk-index path (huge layers)",
                   "no EvalPython", "EvalPython" not in fmt(sjp)))
    sjp0 = spatial_join_partitioned(geo, str(layer_path), page_key="doc_id",
                                    pages_clustered=True)
    plan0 = fmt(sjp0)
    checks.append(("Spatial join — partitioned, clustered pages",
                   "no Exchange", "Exchange" not in plan0))
    sections.append(
        "## Spatial join — partitioned path, spatially-clustered pages\n\n"
        "When the pages table is stored Hilbert-clustered "
        "(`cluster.cluster_by_hilbert` — the natural Iceberg layout), "
        "input splits are already cell-local and the join needs NO "
        "exchange at all: scan → per-split layer range-read → PIP.  The "
        "zero-shuffle spatial join; measured within ~1.2x of the "
        "broadcast path (and ahead of it under co-tenant load).\n\n"
        f"```\n{plan0.strip()}\n```\n")

    # 3b. bucketed embedding near-dup: LSH bucket equi-join, no all-pairs
    from osm_spark.operators.similarity import cosine_near_dup_bucketed

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    nd = cosine_near_dup_bucketed(emb, threshold=0.4)
    plan_nd = fmt(nd)
    checks.append(("Embedding near-dup (bucketed)", "no CartesianProduct",
                   "CartesianProduct" not in plan_nd))
    checks.append(("Embedding near-dup (bucketed)", "no BroadcastNestedLoopJoin",
                   "BroadcastNestedLoopJoin" not in plan_nd))
    sections.append(
        "## Embedding near-dup — LSH-bucketed path\n\n"
        "Candidates come from an equi-join on (table, bucket) — the plan "
        "contains hash joins only, no CartesianProduct / nested-loop "
        "join, so the self-join cost scales with bucket occupancy, not "
        "N^2.  The exact quantized verify runs on candidate pairs only.\n\n"
        f"```\n{plan_nd.strip()}\n```\n")

    # 3c. PBF source: parallel blob decode is a MapInPandas over the index
    from osm_spark.sources import pbf

    pbf_path = REPO / "data" / "fixtures" / "sample.osm.pbf"
    if pbf_path.exists():
        dec = pbf.decode_blocks(spark, str(pbf_path))
        section(
            "PBF decode — parallel blob ranges",
            dec,
            "The blob index (tiny) shuffles once to spread blobs across "
            "executors; decode itself is one `MapInPandas` — parallelism "
            "== blob count, no data shuffle of the decoded rows.",
            must_contain=("MapInPandas",),
        )

    # 3d. WARC source + the composed webtext chain
    from osm_spark.sources import warc

    import __spark_entry__ as entrymod

    warc_path = entrymod._warc_fixture_path()
    wdec = warc.read_warc_pages(spark, warc_path)
    section(
        "WARC decode — parallel record ranges",
        wdec,
        "Same two-pass shape as PBF: the record index (tiny — in "
        "production read from cdx side files) spreads ranges across "
        "executors; decode is one `MapInPandas` doing ranged reads + "
        "per-member gunzip — parallelism == record count, decoded pages "
        "are never shuffled.",
        must_contain=("MapInPandas",),
    )
    wtxt = warc.read_warc_pages_text(spark, warc_path)
    plan_wtxt = fmt(wtxt)
    checks.append(("WARC decode — text-only projection", "MapInPandas",
                   "MapInPandas" in plan_wtxt))
    checks.append(("WARC decode — text-only projection", "no html column",
                   "html" not in plan_wtxt))
    sections.append(
        "## WARC decode — text-only projection\n\n"
        "`read_warc_pages_text`: html→text runs INSIDE the decode "
        "mapper (the byte-identical python twin of the JVM extractor), "
        "so html bytes never cross the Arrow boundary — the plan "
        "carries no `html` column at all.  This halves the mapper's "
        "Arrow transfer for text-only pipelines; the full reader keeps "
        "the byte-identity contract.\n\n"
        f"```\n{plan_wtxt.strip()}\n```\n")
    e2e = entrymod.q_e2e_warc_geo(spark, sf)
    plan_e2e = fmt(e2e)
    checks.append(("Composed WARC->geo chain", "no CartesianProduct",
                   "CartesianProduct" not in plan_e2e))
    checks.append(("Composed WARC->geo chain", "AdaptiveSparkPlan",
                   "AdaptiveSparkPlan" in plan_e2e))
    sections.append(
        "## Composed webtext chain — WARC → text → geocode → PIP join → tiles\n\n"
        "The north-star program as one plan: html→text and the url "
        "geocode are whole-stage-codegen expressions over the decode "
        "output; the polygon PIP index broadcasts (outside the plan); "
        "tile assignment is a broadcast range-join on integer row "
        "boundaries fused into the page select (zero exchange over "
        "pages for text/geocode/tiles).  No CartesianProduct anywhere; "
        "the single wide op is the page_id equi-join of the PIP match "
        "leg — statically SortMergeJoin because `MapInPandas` output "
        "carries no size stats, converted by AQE at runtime when a "
        "side is small.\n\n"
        f"```\n{plan_e2e.strip()}\n```\n")

    # 4. kNN cell path: broadcast of the registered feature cells
    feats = geocode_ids(spark.range(64).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    knn = knn_join(geo, feats, k=1, cell_zoom=10, radius=1, key="doc_id",
                   strategy="cells", exact=False)
    section(
        "kNN — cell-ring candidate path",
        knn,
        "Feature cells broadcast (`BroadcastExchange` + BroadcastHashJoin); "
        "pages never shuffle for candidate generation; the only wide op is "
        "the per-point top-k window.",
        must_contain=("BroadcastHashJoin",),
    )

    # 4b. kNN exact path: expanding rings + residue — the fallback must
    # never broadcast the feature layer (r4 finding: the old brute pass
    # was crossJoin(broadcast(ALL features)) = BroadcastNestedLoopJoin)
    # checkpoint_rounds=False: production checkpoints each round (so the
    # executed plan per round is exactly the sub-tree audited here); the
    # audit wants the full unfolded tree, not Scan ExistingRDD stubs
    knn_exact = knn_join(geo, feats, k=1, cell_zoom=8, radius=1,
                         key="doc_id", strategy="cells", exact=True,
                         checkpoint_rounds=False)
    plan = fmt(knn_exact)
    checks.append(("kNN — exact fallback (expanding rings + residue)",
                   "no CartesianProduct", "CartesianProduct" not in plan))
    checks.append(("kNN — exact fallback (expanding rings + residue)",
                   "no BroadcastNestedLoopJoin",
                   "BroadcastNestedLoopJoin" not in plan))
    sections.append(
        "## kNN — exact fallback: expanding rings + reverse-broadcast "
        "residue\n\n"
        "Uncertified points retry through point-side ring explosion "
        "(the feature layer never re-explodes or broadcasts); the final "
        "guarded-small residue streams the features through MapInPandas "
        "with the residue POINTS broadcast — so the plan contains no "
        "CartesianProduct and no BroadcastNestedLoopJoin anywhere, i.e. "
        "no full-layer broadcast on any kNN path.\n\n"
        f"```\n{plan.strip()}\n```\n")

    # 5. viewport tile pruning
    tiles = T.page_tiles_exact(
        geo, T.tile_y_rows_df(spark, 12, FX.LAT0, FX.LAT0 + FX.SPAN),
        key="doc_id")
    out = Path(REPO / "data" / "plans_tiles")
    tiles.write.mode("overwrite").partitionBy("z").parquet(str(out))
    tt = spark.read.parquet(str(out))
    clat, clon = FX.CITY_CENTERS[0]
    vq = T.viewport_query(tt, 12, clat - 10**6, clat + 10**6,
                          clon - 10**6, clon + 10**6)
    section(
        "Viewport query over the tile table",
        vq,
        "z is a partition column (`PartitionFilters` prunes directories); "
        "x/y range predicates reach the scan as `PushedFilters`, so parquet "
        "row-group min/max stats skip non-covering tiles — the R-tree "
        "interior-node walk, done by the storage format.",
        must_contain=("PushedFilters",),
    )

    # 6. raster fill: JVM-generated grid + broadcast PIP, no cartesian
    from osm_spark.operators import raster as RZ

    rz = RZ.rasterize_polygons(FX.polygons_df(spark, 5).limit(5),
                               FX.LAT0, FX.LON0, FX.SPAN, 128)
    plan_rz = fmt(rz)
    checks.append(("Raster fill (vector->raster)", "Range",
                   "Range" in plan_rz))
    checks.append(("Raster fill (vector->raster)", "no CartesianProduct",
                   "CartesianProduct" not in plan_rz))
    sections.append(
        "## Raster fill — vector → cell grid\n\n"
        "The grid is one JVM `Range` (never materialized to storage, "
        "splits generated per-task); the fill is the broadcast PIP "
        "`MapInPandas` — so rasterizing an n×n grid against a layer "
        "costs one codegen'd scan of n² synthetic rows, no cartesian "
        "grid×polygon join.  The only exchanges belong to the 4-neighbor "
        "boundary count (an equi-join + groupBy on cell keys), which "
        "runs on the filled subset, not the full grid.\n\n"
        f"```\n{plan_rz.strip()}\n```\n")

    # 7. raster compositing: two partial-agg hash aggregations, no cartesian
    comp = RZ.composite_cells(rz)
    plan_comp = fmt(comp)
    checks.append(("Raster compositing (painter's order)", "no CartesianProduct",
                   "CartesianProduct" not in plan_comp))
    checks.append(("Raster compositing (painter's order)", "partial max_by",
                   plan_comp.count("max_by") >= 2))  # partial + final agg
    sections.append(
        "## Raster compositing — painter's-order per-cell winner\n\n"
        "The renderer's paint order (group, layer, -area, seq) packs "
        "into one int64 key, so the winner is a single `max_by` hash "
        "aggregation on (cx, cy) — partial map-side combine before the "
        "exchange (the `partial_max_by` operator in the plan), so the "
        "shuffle carries at most one row per (cell, map task), not one "
        "per painted layer.  The per-feature area is a count aggregation "
        "joined back; with features ≪ cells AQE turns it into a "
        "broadcast join.  No cartesian, no Python workers.\n\n"
        f"```\n{plan_comp.strip()}\n```\n")

    md = ["# Physical plans — scale-design review\n",
          "Captured by tools/explain_plans.py; the properties asserted "
          "below are checked on every run.\n"]
    md.append("| plan | property | holds |\n|---|---|---|")
    for t, n, ok in checks:
        md.append(f"| {t} | `{n}` | {'yes' if ok else 'NO'} |")
    md.append("")
    md.extend(sections)
    (REPO / "PLANS.md").write_text("\n".join(md))
    bad = [c for c in checks if not c[2]]
    print(f"checks: {len(checks) - len(bad)}/{len(checks)} hold; PLANS.md written")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Benchmark harness: spatial-join + tile-assignment throughput (pages/sec).

Runs the headline pipelines at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": seconds, "unit": "sec", "queries": {...}, "sf": ...}

Noise protocol: $SPARK_GRAFT_REPS (default 3) INTERLEAVED repetitions —
the rep loop is outermost (q1,q2,q3,q4, q1,q2,...), so a co-tenant load
spike on this shared host lands on one rep of each query instead of
poisoning one query's only sample; the reported per-query time is the
MIN across reps (the same protocol tools/scaling.py uses).  An untimed
warm-up precedes the timed reps.

The pages table is synthesized deterministically from osm_spark.fixtures
at a row count proportional to sf (2M rows/sf-unit) and cached as parquet
under data/ so generation cost never pollutes timings.  The polygon layer
is the full fixture layer (~1500 features incl. hot city cells).

Scaling evidence (BASELINE.md protocol): tools/scaling.py runs this same
job at local[8] and local[32] and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

PAGES_PER_SF = 2_000_000
N_SMALL_POLYS = int(os.environ.get("SPARK_GRAFT_POLYS", 1500))
N_KNN_FEATS = int(os.environ.get("SPARK_GRAFT_KNN_FEATS", 256))


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def ensure_pages(spark, sf: float) -> str:
    """Deterministic pages parquet for this sf (cached), generated on the
    executors (mapInPandas over spark.range — no driver materialization).
    $SPARK_GRAFT_PAGES overrides the row count (scaling runs use a
    larger, compute-dominated size on the same sf input)."""
    n = int(os.environ.get("SPARK_GRAFT_PAGES", 0)) or max(int(PAGES_PER_SF * sf), 1000)
    out = Path(__file__).resolve().parent / "data" / f"bench_pages_{n}"
    marker = out / "_SUCCESS"
    if not marker.exists():
        from osm_spark import fixtures as FX

        parts = max(n // 50_000, 8)
        FX.pages_df_distributed(spark, n, parts).write.mode("overwrite").parquet(str(out))
    return str(out)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_of(sf_dir)

    from osm_spark import fixtures as FX
    from osm_spark.operators import tiles as T
    from osm_spark.operators.geocode import geocode_ids, geocode_pages
    from osm_spark.operators.knn import knn_join
    from osm_spark.operators.spatial_join import (
        broadcast_polygon_index, is_written_layer, spatial_join,
        spatial_join_partitioned, write_partitioned_layer)
    from osm_spark.session import get_spark

    cpus_n = os.cpu_count() if cpus == "*" else int(cpus)
    spark = get_spark("osm_spark_bench", cores=cpus,
                      shuffle_partitions=max(cpus_n * 2, 8))
    pages_path = ensure_pages(spark, sf)
    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    # polygon layer stored as a table (realistic: layers live in parquet/
    # Iceberg, not a driver-local relation)
    polys_path = Path(__file__).resolve().parent / "data" / f"bench_polys_{N_SMALL_POLYS}"
    if not (polys_path / "_SUCCESS").exists():
        FX.polygons_df(spark, N_SMALL_POLYS).repartition(64).write.mode(
            "overwrite").parquet(str(polys_path))
    polys = spark.read.parquet(str(polys_path))

    only = os.environ.get("SPARK_GRAFT_QUERIES", "")
    only_set = {q.strip() for q in only.split(",") if q.strip()}
    reps = max(int(os.environ.get("SPARK_GRAFT_REPS", 3)), 1)

    from pyspark.sql import functions as F

    geo = geocode_pages(pages).select("page_id", "url", "lat", "lon")

    # layer index: built once per layer version (amortized at scale) — untimed
    poly_index = broadcast_polygon_index(polys)

    # q4's feature layer (tiny; built once, untimed)
    feats = geocode_ids(
        spark.range(N_KNN_FEATS).withColumnRenamed("id", "feature_id"), "feature_id"
    )

    # q5's partitioned disk layer (one-time bulk load per layer version —
    # amortized at scale, untimed here like the broadcast index build);
    # only built when q5 is actually selected — scaling.py children that
    # restrict to other queries must not pay the layer write
    layer_path = str(Path(__file__).resolve().parent / "data" /
                     f"bench_player_{N_SMALL_POLYS}")
    if ((not only_set or "spatial_join_partitioned" in only_set)
            and not is_written_layer(layer_path)):
        write_partitioned_layer(polys, layer_path)

    queries = [
        # q1: spatial join (broadcast PIP) — count matches
        ("spatial_join",
         lambda: spatial_join(geo, polys, how="left", index=poly_index).count()),
        # q2: page tile assignment, 4 zoom bands (sum forces the mercator
        # exprs — a bare count() lets Catalyst prune the tile columns away)
        ("tile_assign_pages",
         lambda: T.page_tiles(geo).agg(F.sum(F.col("x") + F.col("y"))).first()),
        # q3: feature tile assignment (area cutoffs + DP per band)
        ("tile_assign_features", lambda: T.feature_tiles(polys).count()),
        # q4: kNN nearest feature (k=1)
        ("knn", lambda: knn_join(geo, feats, k=1, cell_zoom=8, radius=2).count()),
        # q5: partitioned disk-index spatial join — the 100 TB path for
        # layers beyond executor memory (write amortized across layer
        # versions, untimed); regression-guards the scale path in BENCH_rN
        ("spatial_join_partitioned",
         lambda: spatial_join_partitioned(
             geo, layer_path, how="left").count()),
    ]
    known = {n for n, _ in queries}
    unknown = only_set - known
    if unknown:
        raise SystemExit(f"unknown SPARK_GRAFT_QUERIES names: "
                         f"{sorted(unknown)} (known: {sorted(known)})")
    queries = [(n, fn) for n, fn in queries if not only_set or n in only_set]

    # untimed warm-up: spin up python workers + JIT on a small slice of
    # EVERY selected query (scaling.py runs with reps=1, so a query
    # left cold would fold its first-batch cost into its only sample)
    small = geo.limit(2000)
    small_polys = polys.limit(50)
    warmups = {
        "spatial_join": lambda: spatial_join(
            small, polys, how="left", index=poly_index).count(),
        "tile_assign_pages": lambda: T.page_tiles(small).agg(
            F.sum(F.col("x") + F.col("y"))).first(),
        "tile_assign_features": lambda: T.feature_tiles(small_polys).count(),
        "knn": lambda: knn_join(small, feats, k=1, cell_zoom=8,
                                radius=2).count(),
        "spatial_join_partitioned": lambda: spatial_join_partitioned(
            small, layer_path, how="left").count(),
    }
    for n, _ in queries:
        warmups[n]()

    samples: dict[str, list[float]] = {n: [] for n, _ in queries}
    for _ in range(reps):                      # interleaved rep loop
        for name, fn in queries:
            t0 = time.time()
            fn()
            samples[name].append(time.time() - t0)
    timings = {n: round(min(s), 3) for n, s in samples.items()}

    total = round(sum(timings.values()), 3)
    e2e_rate = round(n_pages / timings["spatial_join"], 1) \
        if "spatial_join" in timings else None
    result = {
        "metric": "spatial_join_tile_assign_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "cpus": cpus_n,
        "reps": reps,
        "pages_per_sec_spatial_join": e2e_rate,
        "polys": N_SMALL_POLYS,
        "knn_feats": N_KNN_FEATS,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

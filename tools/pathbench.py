"""Compare the spatial-join physical paths on the same inputs —
evidence for the strategy choice (PLANS.md):

- broadcast index (layer fits executor memory; zero shuffle),
- partitioned disk-index (write_partitioned_layer parquet + hash
  exchange + per-partition range reads),
- partitioned zero-shuffle (pages already Hilbert-clustered in
  storage: no exchange at all).

Usage: python tools/pathbench.py [--pages 2000000] [--polys 20000]
       [--cores 8] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2_000_000)
    ap.add_argument("--polys", type=int, default=20_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from osm_spark import fixtures as FX
    from osm_spark.operators.cluster import cluster_by_hilbert
    from osm_spark.operators.geocode import geocode_pages
    from osm_spark.operators.spatial_join import (broadcast_polygon_index,
                                                 spatial_join,
                                                 spatial_join_partitioned,
                                                 write_partitioned_layer)
    from osm_spark.session import get_spark

    spark = get_spark("pathbench", cores=args.cores,
                      shuffle_partitions=args.cores * 2)
    base = Path(__file__).resolve().parent.parent / "data"
    pages_path = base / f"bench_pages_{args.pages}"
    if not (pages_path / "_SUCCESS").exists():
        FX.pages_df_distributed(spark, args.pages,
                                max(args.pages // 50_000, 8)).write.mode(
            "overwrite").parquet(str(pages_path))
    polys_path = base / f"bench_polys_{args.polys}"
    if not (polys_path / "_SUCCESS").exists():
        FX.polygons_df(spark, args.polys).repartition(64).write.mode(
            "overwrite").parquet(str(polys_path))
    geo = geocode_pages(spark.read.parquet(str(pages_path))).select(
        "page_id", "lat", "lon")
    polys = spark.read.parquet(str(polys_path))

    # one-time layer artifacts (untimed, like the broadcast index build):
    # the partitioned-path parquet layer and a Hilbert-clustered pages copy
    layer = str(base / f"layer_{args.polys}_z12")
    write_partitioned_layer(polys, layer)
    clp = base / f"bench_pages_{args.pages}_hilbert"
    if not (clp / "_SUCCESS").exists():
        cluster_by_hilbert(geo, 32).drop("hkey").write.mode(
            "overwrite").parquet(str(clp))
    geo_clustered = spark.read.parquet(str(clp))

    idx = broadcast_polygon_index(polys)
    spatial_join(geo.limit(2000), polys, index=idx).count()  # warm-up
    spatial_join_partitioned(geo.limit(2000), layer).count()

    def t_broadcast():
        return spatial_join(geo, polys, index=idx).count()

    def t_partitioned():
        return spatial_join_partitioned(geo, layer, salt=2).count()

    def t_partitioned_clustered():
        return spatial_join_partitioned(
            geo_clustered, layer, pages_clustered=True).count()

    paths = [("broadcast", t_broadcast), ("partitioned", t_partitioned),
             ("partitioned_clustered", t_partitioned_clustered)]
    best: dict = {n: [float("inf"), None] for n, _ in paths}
    for _ in range(args.reps):         # interleaved reps (noise protocol)
        for name, fn in paths:
            t0 = time.time()
            rows = fn()
            best[name] = [min(best[name][0], time.time() - t0), rows]
    out = {n: {"sec": round(b, 3), "rows": r,
               "pages_per_sec": round(args.pages / b)}
           for n, (b, r) in best.items()}
    b = out["broadcast"]["sec"]
    out["ratio_partitioned_over_broadcast"] = round(
        out["partitioned"]["sec"] / b, 2)
    out["ratio_partitioned_clustered_over_broadcast"] = round(
        out["partitioned_clustered"]["sec"] / b, 2)
    out["match_sets_equal"] = (
        len({o["rows"] for o in out.values() if isinstance(o, dict)}) == 1)
    out.update(pages=args.pages, polys=args.polys, cores=args.cores)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())

"""Deterministic synthetic fixtures: Common-Crawl-style pages + OSM-style
polygon/way layers (FIXTURES.md).

Everything here is seed-fixed and pure-arithmetic so that (a) reruns are
byte-identical, (b) the DuckDB oracle SQL in ``__spark_entry__`` can
re-derive the same values from the same integer constants.

World box: lat ∈ [40°, 44°), lon ∈ [0°, 4°) in fixed-point 1e-7° units
(the reference's coordinate convention, osm/parser.ml:228-233).

Skew: 70% of pages cluster in 5 "city" polygons (hot tile cells), 30%
uniform background — per FIXTURES.md §1 — so the spatial join exercises
salting + AQE skew handling.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

FIXED_POINT = 10_000_000
LAT0 = 40 * FIXED_POINT  # south edge of the world box
LON0 = 0
SPAN = 4 * FIXED_POINT  # 4 degrees

# Knuth multiplicative hash constants — shared with oracle SQL (exact int64)
GEO_A = 2654435761
GEO_B = 1597334677

# city centers (lat_fp, lon_fp) and radii — hot cells by construction
CITY_CENTERS = [
    (41_0000000, 8000000),
    (41_5000000, 30000000),
    (42_5000000, 12000000),
    (43_2000000, 33000000),
    (42_0000000, 21000000),
]
CITY_RADII = [2_500_000, 3_500_000, 3_000_000, 2_800_000, 4_500_000]

LANGS = ["en", "de", "fr", "es", "other"]
LANG_CUM = [60, 72, 84, 92, 100]  # percent cumulative


def geocode_ints(ids):
    """Hash-geocode ids → (lat_fp, lon_fp), exact int64 arithmetic.

    Identical formula is used in Spark expressions and DuckDB oracle SQL:
    lat = LAT0 + ((id%SPAN) * (GEO_A%SPAN)) % SPAN (floored mod, and
    likewise for lon) — mathematically (id*GEO_A) % SPAN, but exact in
    int64 for ANY id and identical across engines for negative ids
    (floored everywhere; a raw truncated % would flip sign).
    """
    ids = np.asarray(ids, np.int64)
    m = ids % SPAN        # reduce FIRST: (id%S)*(A%S) fits int64 for
    return (LAT0 + (m * (GEO_A % SPAN)) % SPAN,   # any id (no wrap),
            LON0 + (m * (GEO_B % SPAN)) % SPAN)   # == (id*A)%S exactly


def star_ring(cx, cy, r, n, seed):
    """Deterministic simple star-shaped closed ring (CCW), integer coords.

    No axis-aligned edges; vertex radii vary in [r/2, r).
    Returns (lat_list, lon_list) with first == last.
    """
    lats, lons = [], []
    for i in range(n):
        ang = 2 * math.pi * i / n + 0.1
        h = ((seed * 1_000_003 + i) * GEO_A) % 1000
        rad = r * (0.5 + 0.5 * h / 1000.0)
        lats.append(cy + int(rad * math.sin(ang)))
        lons.append(cx + int(rad * math.cos(ang)))
    lats.append(lats[0])
    lons.append(lons[0])
    return lats, lons


def city_polygons():
    """The 5 deterministic city polygons (hot cells). feature_id 0..4."""
    polys = []
    for fid, ((clat, clon), r) in enumerate(zip(CITY_CENTERS, CITY_RADII)):
        n = 10 + (fid * 3) % 7
        lats, lons = star_ring(clon, clat, r, n, seed=fid + 1)
        rings = [{"role": 0, "lat": lats, "lon": lons}]
        if fid == 2:  # one city with a hole (park)
            hlats, hlons = star_ring(clon, clat, r // 4, 8, seed=99)
            hlats, hlons = hlats[::-1], hlons[::-1]  # holes CW (surfaces.ml:758-764)
            rings.append({"role": 1, "lat": hlats, "lon": hlons})
        polys.append(
            {"feature_id": fid, "category": 1 + fid, "layer": 0, "rings": rings}
        )
    return polys


def small_polygons(n_small=1500):
    """Small building/park polygons (ids from 5, after the cities);
    70% near city centers (hot cells), includes 2 cell-straddlers and 1
    very large polygon (size-class test)."""
    polys = []
    for k in range(n_small):
        fid = 5 + k
        h1 = (k * GEO_A) % SPAN
        h2 = (k * GEO_B) % SPAN
        if k % 10 < 7:  # clustered
            c = k % 5
            clat, clon = CITY_CENTERS[c]
            r_c = CITY_RADII[c]
            lat_c = clat + (h1 % (2 * r_c)) - r_c
            lon_c = clon + (h2 % (2 * r_c)) - r_c
        else:
            lat_c = LAT0 + h1
            lon_c = LON0 + h2
        if k % 3 == 0:  # building-scale (~10-40 m) → "small" size class
            radius = 1_000 + (h1 % 3_000)
            category = 12  # building (tiles.BUILDING_CAT)
        else:  # park/landuse scale
            radius = 20_000 + (h1 % 60_000)  # ~2-8 e-3 degrees
            category = 10 + k % 13
        nv = 5 + k % 8
        lats, lons = star_ring(lon_c, lat_c, radius, nv, seed=1000 + k)
        rings = [{"role": 0, "lat": lats, "lon": lons}]
        if k % 97 == 1:  # a few with holes
            hl, ho = star_ring(lon_c, lat_c, radius // 3, 5, seed=2000 + k)
            rings.append({"role": 1, "lat": hl[::-1], "lon": ho[::-1]})
        polys.append(
            {"feature_id": fid, "category": category, "layer": (k % 11) - 5, "rings": rings}
        )
    # 2 polygons straddling z12 tile-x boundaries (tile width = 360/4096 deg)
    tile_w = 360 * FIXED_POINT // 4096
    for j, fid in enumerate([5 + n_small, 6 + n_small]):
        # lon tile boundaries sit at -180deg + k*tile_w: shift into the
        # 0-based tile grid BEFORE flooring, then shift back — snapping
        # each straddler onto the distinct boundary nearest SPAN*(j+1)/3
        edge_lon = ((LON0 + SPAN // 3 * (j + 1) + 180 * FIXED_POINT)
                    // tile_w) * tile_w - 180 * FIXED_POINT
        edge_lon = max(edge_lon, LON0 + tile_w)
        lats, lons = star_ring(edge_lon, LAT0 + SPAN // 2 + j * 1_000_000, 400_000, 9, seed=fid)
        polys.append({"feature_id": fid, "category": 7, "layer": 0, "rings": [{"role": 0, "lat": lats, "lon": lons}]})
    # 1 very large polygon (> small-area cutoff, surfaces.ml:653-657)
    fid = 7 + n_small
    lats, lons = star_ring(LON0 + SPAN // 2, LAT0 + SPAN // 2, 15_000_000, 14, seed=fid)
    polys.append({"feature_id": fid, "category": 3, "layer": 0, "rings": [{"role": 0, "lat": lats, "lon": lons}]})
    return polys


def all_polygons(n_small=1500):
    return city_polygons() + small_polygons(n_small)


POLYGON_SCHEMA = (
    "feature_id long, category int, layer int, "
    "rings array<struct<role:int, lat:array<long>, lon:array<long>>>"
)


def polygons_df(spark, n_small=1500):
    return spark.createDataFrame(
        [
            (p["feature_id"], p["category"], p["layer"],
             [(r["role"], r["lat"], r["lon"]) for r in p["rings"]])
            for p in all_polygons(n_small)
        ],
        POLYGON_SCHEMA,
    )


# ---------------------------------------------------------------------------
# pages


def _page_coords(i):
    """Vectorized deterministic page coordinates with city skew."""
    i = np.asarray(i, dtype=np.int64)
    m = i % SPAN                      # reduce first: i*GEO_A wraps
    h1 = (m * (GEO_A % SPAN)) % SPAN  # int64 past ~3.5e9 ids
    h2 = (m * (GEO_B % SPAN)) % SPAN
    h3 = (i * 40503) % 100
    city = (i * 31) % 5
    clat = np.array([c[0] for c in CITY_CENTERS])[city]
    clon = np.array([c[1] for c in CITY_CENTERS])[city]
    crad = np.array(CITY_RADII)[city]
    # clustered: offset within ±0.8 r of the city center (mostly inside)
    lat_city = clat + (h1 % (2 * crad)) * 8 // 10 - crad * 8 // 10
    lon_city = clon + (h2 % (2 * crad)) * 8 // 10 - crad * 8 // 10
    lat_bg = LAT0 + h1
    lon_bg = LON0 + h2
    skewed = h3 < 70
    return np.where(skewed, lat_city, lat_bg), np.where(skewed, lon_city, lon_bg)


_WORDS = (
    "map tile join page spark polygon river road city forest water index "
    "query range filter batch vector stream merge window group"
).split()


def generate_pages_range(start: int, stop: int):
    """Deterministic pages table as a pandas DataFrame (page ids
    [start, stop) — chunkable: the row for page i never depends on the
    requested range).

    Columns exactly per BASELINE.json input_hint:
    (url string, warc_ts timestamp, html binary, text string, lang string).
    Coordinates are embedded in the url path (geo slug) so the engine's
    geocoder derives them rather than reading stored columns.
    """
    import pandas as pd

    i = np.arange(start, stop, dtype=np.int64)
    lat, lon = _page_coords(i)
    lang_h = (i * 48271) % 100
    langs = np.select(
        [lang_h < c for c in LANG_CUM], LANGS
    )
    urls = [
        f"https://site{k % 997}.example/{lg}/geo/{la}/{lo}/page{k}"
        for k, lg, la, lo in zip(i.tolist(), langs.tolist(), lat.tolist(), lon.tolist())
    ]
    ts = pd.to_datetime("2025-01-01T00:00:00Z") + pd.to_timedelta(i * 7, unit="s")
    htmls, texts = [], []
    for u in urls:
        dig = hashlib.sha1(u.encode()).digest()
        length = 256 + dig[0] * 15
        htmls.append((b"<html>" + dig * (length // 20 + 1))[:length])
        idx = np.frombuffer(hashlib.sha256(u.encode()).digest(), dtype=np.uint8)
        texts.append(" ".join(_WORDS[b % len(_WORDS)] for b in idx[: 8 + idx[0] % 20]))
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts.tz_localize(None), "html": htmls,
         "text": texts, "lang": langs}
    )


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")


def pages_df_distributed(spark, n: int, partitions: int = 64):
    """Deterministic pages table generated ON THE EXECUTORS: mapInPandas
    over spark.range — no driver-side materialization, scales to any n.
    Row i is identical to generate_pages_range(i, i+1)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                lo, hi = int(ids.min()), int(ids.max())
                full = generate_pages_range(lo, hi + 1)
                yield full.iloc[ids - lo]

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, PAGES_SCHEMA)
    )


# ---------------------------------------------------------------------------
# multipolygon relations (normalized base tables, reference schema)


def relation_tables():
    """Split the city polygons into member ways over shared nodes.

    Returns (relation_members, way_refs, nodes) row lists in the
    reference's normalized base schema (SURVEY.md §1.2):
    relation_members(relation, way, role_str), way_refs(way, seq, node),
    nodes(node, lat, lon).  Each ring is cut into 2-4 ways at
    deterministic points; every 3rd way is direction-reversed so the
    assembler's endpoint chaining is exercised both ways.
    """
    members, refs, nodes = [], [], []
    node_id = 0
    way_id = 0
    for p in city_polygons():
        rel = p["feature_id"]
        for r in p["rings"]:
            la, lo = r["lat"][:-1], r["lon"][:-1]  # open ring, n unique verts
            n = len(la)
            ring_node_ids = list(range(node_id, node_id + n))
            for nid, a, b in zip(ring_node_ids, la, lo):
                nodes.append((nid, a, b))
            node_id += n
            n_ways = 2 + (rel + r["role"]) % 3
            cuts = sorted({(k * n) // n_ways for k in range(n_ways)})
            cuts.append(n)
            role_str = "outer" if r["role"] == 0 else "inner"
            for k in range(len(cuts) - 1):
                seg = list(range(cuts[k], cuts[k + 1] + 1))
                seg_nodes = [ring_node_ids[i % n] for i in seg]
                if way_id % 3 == 2:
                    seg_nodes = seg_nodes[::-1]
                for s, nid in enumerate(seg_nodes):
                    refs.append((way_id, s, nid))
                members.append((rel, way_id, role_str))
                way_id += 1
    return members, refs, nodes


def relation_tables_dfs(spark):
    members, refs, nodes = relation_tables()
    return (
        spark.createDataFrame(members, "relation long, way long, role string"),
        spark.createDataFrame(refs, "way long, seq int, node long"),
        spark.createDataFrame(nodes, "node long, lat long, lon long"),
    )


# ---------------------------------------------------------------------------
# road network (routing fixtures)


def road_network(grid: int = 8):
    """Deterministic grid road network.

    Returns (nodes, way_refs):
    - nodes: rows (node_id, lat, lon) — fixed-point 1e-7°, jittered grid;
    - way_refs: rows (way_id, seq, node_id, category, oneway) — one way
      per grid row (east-west) and per column (north-south); categories
      cycle through the speed profile; every 5th way is one-way.
    Plus a handful of diagonal shortcut ways so witness searches have
    real alternatives.
    """
    step = SPAN // (grid + 1)
    nodes = []
    for r in range(grid):
        for c in range(grid):
            nid = r * grid + c
            jl = ((nid * GEO_A) % 200_001) - 100_000
            jo = ((nid * GEO_B) % 200_001) - 100_000
            nodes.append((nid, LAT0 + (r + 1) * step + jl, LON0 + (c + 1) * step + jo))
    refs = []
    wid = 0
    for r in range(grid):  # east-west ways
        cat = wid % 7
        ow = 1 if wid % 5 == 4 else 0
        for c in range(grid):
            refs.append((wid, c, r * grid + c, cat, ow))
        wid += 1
    for c in range(grid):  # north-south ways
        cat = wid % 7
        ow = -1 if wid % 5 == 4 else 0
        for r in range(grid):
            refs.append((wid, r, r * grid + c, cat, ow))
        wid += 1
    for k in range(grid // 2):  # diagonals
        cat = 2
        for d in range(grid - k):
            refs.append((wid, d, (d + k) * grid + d, cat, 0))
        wid += 1
    return nodes, refs


def roads_df(spark, grid: int = 8):
    """Linear-feature table (way_id, category, layer, lats, lons) from
    the road-network fixture (one polyline per way)."""
    nodes, refs = road_network(grid)
    coords = {nid: (la, lo) for nid, la, lo in nodes}
    ways: dict[int, dict] = {}
    for wid, seq, nid, cat, _ow in refs:
        w = ways.setdefault(wid, {"cat": cat, "pts": []})
        w["pts"].append((seq, *coords[nid]))
    rows = []
    for wid, w in sorted(ways.items()):
        pts = sorted(w["pts"])
        rows.append((wid, w["cat"], wid % 5 - 2,
                     [p[1] for p in pts], [p[2] for p in pts]))
    return spark.createDataFrame(
        rows,
        "way_id long, category int, layer int, lats array<long>, lons array<long>",
    )


def road_network_dfs(spark, grid: int = 8):
    nodes, refs = road_network(grid)
    nodes_df = spark.createDataFrame(nodes, "node_id long, lat long, lon long")
    refs_df = spark.createDataFrame(
        refs, "way_id long, seq int, node_id long, category int, oneway int"
    )
    return nodes_df, refs_df

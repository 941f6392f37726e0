"""Shared SQL fragments for the DuckDB oracle queries.

Every fragment is generated from the same Python constants the Spark
operators use (osm_spark.fixtures / geo.kernels), in exact int64
arithmetic, so value hashes match bit-for-bit across engines.
"""

from __future__ import annotations

import numpy as np

from osm_spark import fixtures as FX
from osm_spark.geo import kernels as K

# documents geocode CTE — mirrors operators.geocode.id_geo_sql
PTS_CTE = (
    "pts AS (SELECT doc_id, "
    f"{FX.LAT0} + ((((doc_id % {FX.SPAN}) + {FX.SPAN}) % {FX.SPAN})"
    f" * CAST({FX.GEO_A % FX.SPAN} AS BIGINT)) % {FX.SPAN} AS lat, "
    f"{FX.LON0} + ((((doc_id % {FX.SPAN}) + {FX.SPAN}) % {FX.SPAN})"
    f" * CAST({FX.GEO_B % FX.SPAN} AS BIGINT)) % {FX.SPAN} AS lon FROM documents)"
)


def city_edges_values() -> str:
    """Polygon edges of the 5 city polygons as a VALUES literal:
    (feature_id, role, x1, y1, x2, y2) with x=lon, y=lat."""
    rows = []
    for p in FX.city_polygons():
        for r in p["rings"]:
            for i in range(len(r["lat"]) - 1):
                rows.append(
                    f"({p['feature_id']},{r['role']},{r['lon'][i]},{r['lat'][i]},"
                    f"{r['lon'][i + 1]},{r['lat'][i + 1]})"
                )
    return ",".join(rows)


def pip_hits_chain(pts: str = "pts", id_col: str = "doc_id") -> str:
    """CTE chain (edges → cross_counts → hits) computing
    (id_col, feature_id) PIP hits of the ``pts`` relation against the
    city polygons with the reference crossing-number conventions
    (osm/geometry.ml:157-174): toggle when (y1>=y)!=(y2>=y) and
    (d>=0)!=(y1>=y).  ``pts`` must expose (id_col, lat, lon)."""
    return f"""
edges(feature_id, role, x1, y1, x2, y2) AS (VALUES {city_edges_values()}),
cross_counts AS (
  SELECT p.{id_col}, e.feature_id, e.role, count(*) AS c
  FROM {pts} p JOIN edges e
    ON ((e.y1 >= p.lat) <> (e.y2 >= p.lat))
   AND ((((e.x2 - e.x1) * (p.lat - e.y1) - (p.lon - e.x1) * (e.y2 - e.y1)) >= 0) <> (e.y1 >= p.lat))
  GROUP BY 1, 2, 3
),
hits AS (
  SELECT {id_col}, feature_id FROM cross_counts
  GROUP BY {id_col}, feature_id
  HAVING max(CASE WHEN role = 0 THEN c % 2 ELSE 0 END) = 1
     AND max(CASE WHEN role = 1 THEN c % 2 ELSE 0 END) = 0
)"""


def pip_hits_sql() -> str:
    """documents-geocode instance of :func:`pip_hits_chain`."""
    return f"""
{PTS_CTE},{pip_hits_chain()}"""


def tile_rows_values(zooms=(8, 12)) -> str:
    """(z, y, lat_hi, lat_lo) VALUES literal of tile-row boundaries
    covering the fixture world box (integer-exact, from the same
    kernels.tile_y_boundaries the Spark side broadcasts)."""
    rows = []
    for z in zooms:
        rs, bs = K.tile_y_boundaries(z, FX.LAT0, FX.LAT0 + FX.SPAN)
        for y, hi, lo in zip(rs, bs, bs[1:]):
            rows.append(f"({z},{y},{hi},{lo})")
    return ",".join(rows)


def tile_x_sql(zooms=(8, 12)) -> str:
    branches = " ".join(
        f"WHEN r.z = {z} THEN ((p.lon + {K.LON_OFFSET}) * {1 << z}) // {K.LON_WORLD}"
        for z in zooms
    )
    return f"CASE {branches} END"


def knn_features(n: int = 32):
    ids = np.arange(n, dtype=np.int64)
    lat, lon = FX.geocode_ints(ids + 7777)
    return list(zip(ids.tolist(), lat.tolist(), lon.tolist()))


def knn_features_values(n: int = 32) -> str:
    return ",".join(f"({f},{la},{lo})" for f, la, lo in knn_features(n))


# --- z-order bit-dilation steps: THE kernel's table, not a copy — the
# oracle's validity rests on bit-matching that table, so a second
# hand-maintained (shift, mask) list would be a silent drift hazard
_DILATE = K._DILATE_MASKS


def zorder_ctes_duckdb() -> tuple[str, str]:
    """(ctes, last_cte_name): CTE chain dilating u,v (15-bit cell
    coords).  The final CTE exposes (doc_id, u, v) — the caller
    interleaves with ((u << 1) | v)."""
    steps = [
        f"uv AS (SELECT doc_id, (lat - {FX.LAT0}) // 2048 AS u, "
        f"(lon - {FX.LON0}) // 2048 AS v FROM pts)"
    ]
    prev = "uv"
    for n, (s, m) in enumerate(_DILATE):
        steps.append(
            f"d{n} AS (SELECT doc_id, ((u | (u << {s})) & {m}) AS u, "
            f"((v | (v << {s})) & {m}) AS v FROM {prev})"
        )
        prev = f"d{n}"
    return ",\n".join(steps), prev


HAVERSINE_CONV = K.CONV  # np.pi/180/1e7, exact float shared with SQL


def haversine_sql(lat1="lat", lon1="lon", lat2="lat2", lon2="lon2") -> str:
    """trunc(2 R asin(sqrt(...))) in mm — bit-matches kernels.distance
    (verified 0/20000 mismatch vs numpy on the fixture geocode)."""
    c = repr(HAVERSINE_CONV)
    return (
        f"CAST(trunc(2.0 * {K.EARTH_R_MM!r} * asin(sqrt("
        f"pow(sin(({lat2}-{lat1})*{c}/2.0),2) + "
        f"cos({lat1}*{c})*cos({lat2}*{c})*pow(sin(({lon2}-{lon1})*{c}/2.0),2)"
        f"))) AS BIGINT)"
    )


def polygon_verts_values(n_small: int = 100) -> str:
    """Ring vertices of city + first n_small fixture polygons as VALUES
    (feature_id, ridx, seq, x, y) with x=lon, y=lat (closed rings)."""
    rows = []
    for p in FX.city_polygons() + FX.small_polygons(n_small):
        for ridx, r in enumerate(p["rings"]):
            for s, (la, lo) in enumerate(zip(r["lat"], r["lon"])):
                rows.append(f"({p['feature_id']},{ridx},{s},{lo},{la})")
    return ",".join(rows)


def shoelace_sql(n_small: int = 100) -> str:
    """CTE chain computing per-feature signed area: anchored shoelace per
    ring with the reference's (a+1)/2 truncating division
    (geometry.ml:211-226), holes (CW rings) negative."""
    return f"""
verts0(feature_id, ridx, seq, x, y) AS (VALUES {polygon_verts_values(n_small)}),
verts AS (SELECT feature_id, ridx, seq, x::BIGINT AS x, y::BIGINT AS y FROM verts0),
firsts AS (SELECT feature_id, ridx, x AS x0, y AS y0 FROM verts WHERE seq = 0),
pairs AS (
  SELECT a.feature_id, a.ridx, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM verts a JOIN verts b
    ON a.feature_id = b.feature_id AND a.ridx = b.ridx AND b.seq = a.seq + 1),
ringsum AS (
  SELECT p.feature_id, p.ridx,
         sum((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0)) AS a2
  FROM pairs p JOIN firsts f USING (feature_id, ridx) GROUP BY 1, 2),
ringarea AS (
  SELECT feature_id,
         CASE WHEN a2 + 1 >= 0 THEN (a2 + 1) // 2
              ELSE -((-(a2 + 1)) // 2) END AS a
  FROM ringsum)"""


MINHASH_TOKS_CTE = (
    "toks AS (SELECT DISTINCT doc_id, tok FROM "
    "(SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok "
    "FROM documents) "
    "WHERE tok <> '')"
)

TOKEN_HASH_DUCKDB = "(('0x' || substr(md5(tok), 1, 8))::BIGINT)"


def hilbert_ctes_duckdb() -> tuple[str, str]:
    """Unrolled xy2d Hilbert rotation (kernels.hilbert_d, the standard
    public algorithm) as a DuckDB CTE chain over `pts` — one (h, g) CTE
    pair per bit level.  Returns (ctes, last_cte_name); the final CTE
    carries columns (doc_id, d)."""
    parts = [
        f"g0 AS (SELECT doc_id, (lat + {K.LAT_OFFSET}) >> 1 AS x, "
        f"(lon + {K.LON_OFFSET}) >> 1 AS y, CAST(0 AS BIGINT) AS d FROM pts)"
    ]
    k = 0
    s = 1 << 30                        # kernels.hilbert_d: 31 bits per axis
    while s > 0:
        parts.append(
            f"h{k} AS (SELECT doc_id, x, y, d, "
            f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx, "
            f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry FROM g{k})")
        parts.append(
            f"g{k + 1} AS (SELECT doc_id, "
            f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END) ELSE x END AS x, "
            f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END) ELSE y END AS y, "
            f"d + CAST({s * s} AS BIGINT) * xor(3 * rx, ry) AS d FROM h{k})")
        k += 1
        s >>= 1
    return ",\n".join(parts), f"g{k}"

"""Deterministic shapefile fixture for the S3 driver query: coastline
segments (antimeridian pieces, an Antarctica chain, closed rings), and
the .shp/.shx writer it is written with."""

from __future__ import annotations

import struct
from pathlib import Path

from osm_spark.sources import shapefile as SHP


def sample_shapes():
    """[(shape_type, [part, ...])] with parts in (lon_deg, lat_deg)."""
    west_a = [(-179.99995, 10.0 + i * 0.01) for i in range(5)]
    west_b = [west_a[-1]] + [(-179.5 - i * 0.05, 10.1 + i * 0.01)
                             for i in range(4)]
    west_b.append((-179.99992, 10.2))
    antarctica = [(-180.0, -70.0), (-90.0, -71.0), (0.0, -70.5),
                  (90.0, -71.2), (180.0, -70.0)]
    square = [(5.0, 5.0), (5.0, 6.0), (6.0, 6.0), (6.0, 5.0), (5.0, 5.0)]
    two_part = [
        [(20.0, 20.0), (20.0, 21.0), (21.0, 21.0), (20.0, 20.0)],
        [(30.0, 30.0), (30.0, 31.0), (31.0, 31.0), (30.0, 30.0)],
    ]
    return [
        (SHP.POLYLINE, [west_a]),
        (SHP.POLYLINE, [west_b]),
        (SHP.POLYLINE, [antarctica]),
        (SHP.POLYGON, [square]),
        (SHP.POLYGON, two_part),
    ]


def write_shp(path: str, shapes: list[tuple[int, list[list[tuple[float, float]]]]]):
    """Shapefile writer, independent of the reader (struct-packed by
    spec).  shapes: [(shape_type, [part=[(lon_deg, lat_deg), ...], ...])].
    Writes .shp and the matching .shx index."""
    if not shapes:
        raise ValueError("write_shp needs at least one shape")
    records = []
    for num, (typ, parts) in enumerate(shapes, start=1):
        flat = [p for part in parts for p in part]
        if not flat:
            raise ValueError(f"shape {num} has no points")
        xs = [x for x, _ in flat]
        ys = [y for _, y in flat]
        bbox = struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        xy = struct.pack(f"<{2 * len(flat)}d", *(c for pt in flat for c in pt))
        content = struct.pack("<i", typ)
        if typ == SHP.POINT:                 # x, y only — no bbox, no parts
            if len(flat) != 1:
                raise ValueError(
                    f"shape {num}: POINT holds exactly one point, got "
                    f"{len(flat)} (use MULTIPOINT)")
            content += xy
        elif typ == SHP.MULTIPOINT:          # bbox + count + points
            content += bbox + struct.pack("<i", len(flat)) + xy
        else:                                # bbox, counts, part starts
            starts = [sum(map(len, parts[:i])) for i in range(len(parts))]
            content += (bbox + struct.pack("<ii", len(parts), len(flat))
                        + struct.pack(f"<{len(parts)}i", *starts) + xy)
        records.append((num, content))

    def header(total_words: int) -> bytes:
        h = struct.pack(">i", SHP.MAGIC) + b"\x00" * 20
        h += struct.pack(">i", total_words)
        h += struct.pack("<ii", 1000, shapes[0][0])
        h += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
        return h

    body = b""
    shx_body = b""
    off_words = 50
    for num, content in records:
        body += struct.pack(">ii", num, len(content) // 2) + content
        shx_body += struct.pack(">ii", off_words, len(content) // 2)
        off_words += 4 + len(content) // 2
    Path(path).write_bytes(header(50 + len(body) // 2) + body)
    Path(path[:-4] + ".shx").write_bytes(header(50 + len(shx_body) // 2)
                                         + shx_body)


def write_sample_shp(path: str) -> None:
    write_shp(path, sample_shapes())


def expected_rings():
    """Ground-truth rings: fixed-point conversion of the shapes run
    through the pure-python ring builder (no file, no Spark) in the
    same seg order the Spark query sorts to."""
    import numpy as np

    from osm_spark.operators import coastline as CL

    segs = []
    for num, (_, parts) in enumerate(sample_shapes(), start=1):
        for p_idx, part in enumerate(parts):
            lo = np.rint(np.array([x for x, _ in part]) * SHP.FIXED).astype(np.int64)
            la = np.rint(np.array([y for _, y in part]) * SHP.FIXED).astype(np.int64)
            segs.append((num * 100 + p_idx, lo, la))
    segs.sort(key=lambda t: t[0])
    rings = CL.build_rings([(lo, la) for _, lo, la in segs])
    return [(i, len(lo), int(la[0]), int(lo[0]))
            for i, (lo, la) in enumerate(rings)]

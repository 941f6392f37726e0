"""ESRI shapefile source: record index + parallel range-read decode.

Paths are opened with plain ``open()`` — local or fuse/NFS-mounted
storage; for object stores, mount or plug an fsspec-style opener.

Re-expression of the reference's coastline reader
(/root/reference/osm/coastline.ml:36-169) from the public shapefile
spec, generalized: the reference handles only single-part PolyLine
(type 3); this source reads PolyLine (3) and Polygon (5) with any part
count.  Same two-stage shape as the PBF source:

1. ``shp_index`` — sequential metadata pass over record headers
   (8 bytes each, content skipped by seek) -> (rec_num, offset, length)
   DataFrame; uses the .shx offset index instead when present (one
   read, no seeking).
2. ``read_shp`` — mapInPandas over the index: executors range-read
   and decode their own records into (rec_num, part, lats, lons) rows.

Coordinates are degrees×1e7 fixed-point int64 (reference multiplies by
1e7 and stays in floats, coastline.ml:135-140; we round to the
engine's integer unit at load)."""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MAGIC = 9994
POINT, POLYLINE, POLYGON, MULTIPOINT = 1, 3, 5, 8
# Z/M variants share the xy layout with their base type; the trailing
# z/m arrays sit AFTER the xy block and are simply not read
POINT_TYPES = {1, 11, 21}
MULTIPOINT_TYPES = {8, 18, 28}
POLY_TYPES = {3, 5, 13, 15, 23, 25}
FIXED = 10_000_000.0


def _read_header(f) -> int:
    hdr = f.read(100)
    magic = struct.unpack(">i", hdr[0:4])[0]
    if magic != MAGIC:
        raise ValueError(f"not a shapefile (magic {magic})")
    return struct.unpack("<i", hdr[32:36])[0]      # shape type


def iter_record_index(path: str):
    """(rec_num, content_offset, content_bytes) per record —
    header-only sequential pass."""
    shx = path[:-4] + ".shx" if path.endswith(".shp") else None
    import os

    if shx and os.path.exists(shx):
        with open(shx, "rb") as f:
            _read_header(f)
            data = f.read()
        # distrust a suspicious side file (same contract as warc.py's
        # empty-cdx rule): an empty or truncated .shx next to a
        # non-trivial .shp is a partial write — fall through to the
        # .shp record walk rather than silently dropping records
        if len(data) % 8 == 0 and (
                len(data) > 0 or os.path.getsize(path) <= 100):
            for i in range(0, len(data), 8):
                off_w, len_w = struct.unpack(">ii", data[i:i + 8])
                yield i // 8 + 1, off_w * 2 + 8, len_w * 2
            return
    with open(path, "rb") as f:
        _read_header(f)
        while True:
            rh = f.read(8)
            if len(rh) < 8:
                return
            num, clen_w = struct.unpack(">ii", rh)
            off = f.tell()
            yield num, off, clen_w * 2
            f.seek(off + clen_w * 2)


def shp_index(spark: SparkSession, path: str) -> DataFrame:
    rows = list(iter_record_index(path))
    return spark.createDataFrame(rows, "rec_num int, offset long, length long")


def decode_record(content: bytes) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """One record content -> [(part_idx, lat_fp, lon_fp)]."""
    typ = struct.unpack("<i", content[0:4])[0]
    if typ == 0:                                   # null shape
        return []
    if typ in POINT_TYPES:                         # x, y at offset 4
        x, y = struct.unpack("<2d", content[4:20])
        return [(0, np.array([round(y * FIXED)], np.int64),
                 np.array([round(x * FIXED)], np.int64))]
    if typ in MULTIPOINT_TYPES:                    # bbox, n, points
        n = struct.unpack("<i", content[36:40])[0]
        pts = np.frombuffer(content, "<f8", n * 2, 40)
        return [(0, np.rint(pts[1::2] * FIXED).astype(np.int64),
                 np.rint(pts[0::2] * FIXED).astype(np.int64))]
    if typ not in POLY_TYPES:
        raise ValueError(f"unsupported shape type {typ}")
    num_parts, num_points = struct.unpack("<ii", content[36:44])
    parts = np.frombuffer(content, "<i4", num_parts, 44)
    pts = np.frombuffer(content, "<f8", num_points * 2, 44 + 4 * num_parts)
    lon = np.rint(pts[0::2] * FIXED).astype(np.int64)
    lat = np.rint(pts[1::2] * FIXED).astype(np.int64)
    bounds = np.append(parts, num_points)
    return [(i, lat[s:e], lon[s:e])
            for i, (s, e) in enumerate(zip(bounds[:-1], bounds[1:]))]


SHP_SCHEMA = "rec_num int, part int, lats array<long>, lons array<long>"


def read_shp(spark: SparkSession, path: str) -> DataFrame:
    """Shapefile -> (rec_num, part, lats, lons) polyline/ring rows,
    decoded in parallel over the record index."""
    index = shp_index(spark, path).repartition(max(spark.sparkContext.defaultParallelism, 2))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with open(path, "rb") as f:
            for pdf in batches:
                recs, parts, las, los = [], [], [], []
                for num, off, ln in zip(pdf["rec_num"], pdf["offset"],
                                        pdf["length"]):
                    f.seek(int(off))
                    for p, la, lo in decode_record(f.read(int(ln))):
                        recs.append(int(num))
                        parts.append(p)
                        las.append(la.tolist())
                        los.append(lo.tolist())
                yield pd.DataFrame({
                    "rec_num": pd.array(recs, dtype="int32"),
                    "part": pd.array(parts, dtype="int32"),
                    "lats": las, "lons": los,
                })

    return index.mapInPandas(fn, SHP_SCHEMA)


# ---------------------------------------------------------------------------
# fixture writer (independent of the reader: struct-packed by spec)


def write_shp(path: str, shapes: list[tuple[int, list[list[tuple[float, float]]]]]):
    """shapes: [(shape_type, [part=[(lon_deg, lat_deg), ...], ...])].
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
        content = struct.pack("<i", typ)
        if typ == POINT:                 # x, y only — no bbox, no parts
            if len(flat) != 1:
                raise ValueError(
                    f"shape {num}: POINT holds exactly one point, got "
                    f"{len(flat)} (use MULTIPOINT)")
            content += struct.pack("<2d", *flat[0])
        elif typ == MULTIPOINT:          # bbox + count + points
            content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
            content += struct.pack("<i", len(flat))
            for x, y in flat:
                content += struct.pack("<2d", x, y)
        else:
            content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
            content += struct.pack("<ii", len(parts), len(flat))
            off = 0
            for part in parts:
                content += struct.pack("<i", off)
                off += len(part)
            for x, y in flat:
                content += struct.pack("<2d", x, y)
        records.append((num, content))

    def header(total_words: int) -> bytes:
        h = struct.pack(">i", MAGIC) + b"\x00" * 20
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
    with open(path, "wb") as f:
        f.write(header(50 + len(body) // 2))
        f.write(body)
    with open(path[:-4] + ".shx", "wb") as f:
        f.write(header(50 + len(shx_body) // 2))
        f.write(shx_body)

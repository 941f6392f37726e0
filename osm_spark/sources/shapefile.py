"""ESRI shapefile source: record index + parallel range-read decode.

Re-expression of the reference's coastline reader
(/root/reference/osm/coastline.ml:36-169) from the public shapefile
spec, generalized: the reference handles only single-part PolyLine
(type 3); this source reads PolyLine (3) and Polygon (5) with any part
count.  Same two-stage shape as the PBF source, on the byte-range
skeleton of ``sources/ranges.py`` (reads through ``pyarrow.fs``):

1. ``iter_record_index`` — (offset, size, rec_num) per record from the
   .shx offset index (one read), else from a pass over the .shp record
   headers (8 bytes each, content skipped by seek).
2. ``read_shp`` — mapInPandas over that index in contiguous offset
   slices: each task span-reads and decodes its own records into
   (rec_num, part, lats, lons) rows.

Coordinates are degrees×1e7 fixed-point int64 (reference multiplies by
1e7 and stays in floats, coastline.ml:135-140; we round to the
engine's integer unit at load)."""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from osm_spark.sources import ranges as R

MAGIC = 9994
POINT, POLYLINE, POLYGON, MULTIPOINT = 1, 3, 5, 8
# Z/M variants share the xy layout with their base type; the trailing
# z/m arrays sit AFTER the xy block and are simply not read
POINT_TYPES = {1, 11, 21}
MULTIPOINT_TYPES = {8, 18, 28}
POLY_TYPES = {3, 5, 13, 15, 23, 25}
FIXED = 10_000_000.0


def _check_header(hdr: bytes, path: str) -> None:
    magic = int.from_bytes(hdr[:4], "big", signed=True)
    if magic != MAGIC or len(hdr) < 100:
        raise ValueError(f"{path}: not a shapefile header (magic {magic}, "
                         f"{len(hdr)} bytes)")


def iter_record_index(path: str):
    """(content_offset, content_bytes, rec_num) per record — from the
    .shx, else a header-only sequential pass over the .shp.
    ``ValueError`` naming the offset of a record header or content that
    runs past the end of the .shp."""
    shx = path[:-4] + ".shx" if path.endswith(".shp") else None
    fsize = R.file_size(path)
    if shx and R.exists(shx):
        with R.open_input(shx) as f:
            data = f.read()
        _check_header(data, shx)
        data = data[100:]
        # distrust a suspicious side file (same contract as warc.py's
        # empty-cdx rule): an empty or truncated .shx next to a
        # non-trivial .shp is a partial write — fall through to the
        # .shp record walk rather than silently dropping records
        if len(data) % 8 == 0 and (len(data) > 0 or fsize <= 100):
            for num, (off_w, len_w) in enumerate(
                    struct.iter_unpack(">ii", data), start=1):
                yield off_w * 2 + 8, len_w * 2, num
            return
    with R.open_input(path) as f:
        _check_header(f.read(100), path)
        off = 100
        while off < fsize:
            rh = f.read(8)
            size = int.from_bytes(rh[4:], "big", signed=True) * 2
            if len(rh) < 8 or size < 0 or off + 8 + size > fsize:
                raise ValueError(f"shapefile record at offset {off} of "
                                 f"{path} runs past the end of the file")
            yield off + 8, size, int.from_bytes(rh[:4], "big", signed=True)
            off += 8 + size
            f.seek(off)


def _unpack(fmt: str, content: bytes, at: int) -> tuple:
    try:
        return struct.unpack_from(fmt, content, at)
    except struct.error as e:
        raise ValueError(f"truncated shape record at byte {at}") from e


def decode_record(content: bytes) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """One record content -> [(part_idx, lat_fp, lon_fp)].
    ``ValueError`` on truncated content, a negative count, or part
    starts that are not ascending within the points."""
    typ, = _unpack("<i", content, 0)
    if typ == 0:                                   # null shape
        return []
    if typ in POINT_TYPES:                         # x, y at offset 4
        x, y = _unpack("<2d", content, 4)
        return [(0, np.array([round(y * FIXED)], np.int64),
                 np.array([round(x * FIXED)], np.int64))]
    if typ in MULTIPOINT_TYPES:                    # bbox, n, points
        n, = _unpack("<i", content, 36)
        if n < 0:
            raise ValueError(f"negative point count {n} in shape record")
        pts = np.frombuffer(content, "<f8", n * 2, 40)
        return [(0, np.rint(pts[1::2] * FIXED).astype(np.int64),
                 np.rint(pts[0::2] * FIXED).astype(np.int64))]
    if typ not in POLY_TYPES:
        raise ValueError(f"unsupported shape type {typ}")
    num_parts, num_points = _unpack("<ii", content, 36)
    if min(num_parts, num_points) < 0:
        raise ValueError("negative part or point count in shape record")
    parts = np.frombuffer(content, "<i4", num_parts, 44)
    pts = np.frombuffer(content, "<f8", num_points * 2, 44 + 4 * num_parts)
    lon = np.rint(pts[0::2] * FIXED).astype(np.int64)
    lat = np.rint(pts[1::2] * FIXED).astype(np.int64)
    bounds = np.append(parts, num_points)
    if len(parts) and (parts[0] < 0 or (np.diff(bounds) < 0).any()):
        raise ValueError("shape record part starts are not ascending "
                         "within its points")
    return [(i, lat[s:e], lon[s:e])
            for i, (s, e) in enumerate(zip(bounds[:-1], bounds[1:]))]


SHP_SCHEMA = "rec_num int, part int, lats array<long>, lons array<long>"


def read_shp(spark: SparkSession, path: str) -> DataFrame:
    """Shapefile -> (rec_num, part, lats, lons) polyline/ring rows,
    decoded in parallel over the record index."""
    rows = list(iter_record_index(path))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs, parts, las, los = [], [], [], []
            offs = pdf["offset"].to_numpy()
            contents = R.read_spans(path, offs, pdf["size"].to_numpy())
            for num, off, content in zip(pdf["rec_num"], offs, contents):
                try:
                    decoded = decode_record(content)
                except ValueError as e:
                    raise ValueError(f"shapefile record at offset {off} "
                                     f"of {path}: {e}") from e
                for p, la, lo in decoded:
                    recs.append(int(num))
                    parts.append(p)
                    las.append(la.tolist())
                    los.append(lo.tolist())
            yield pd.DataFrame({
                "rec_num": pd.array(recs, dtype="int32"),
                "part": pd.array(parts, dtype="int32"),
                "lats": las, "lons": los,
            })

    return R.offset_index(spark, rows, "offset long, size long, rec_num int") \
        .mapInPandas(fn, SHP_SCHEMA)

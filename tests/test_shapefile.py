"""S3 shapefile source: round-trip + coastline integration."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from osm_spark.sources import shapefile as SHP
from osm_spark.sources import shp_fixture as SF


@pytest.fixture()
def shp_path(tmp_path):
    shapes = [
        (SHP.POLYLINE, [[(-179.99995, 0.00001), (-179.0, 0.00002)]]),
        (SHP.POLYLINE, [[(-179.0, 0.00002), (-179.99993, 0.00003)]]),
        (SHP.POLYGON, [
            [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)],
            [(0.2, 0.2), (0.5, 0.2), (0.2, 0.5), (0.2, 0.2)],
        ]),
    ]
    p = tmp_path / "layer.shp"
    SF.write_shp(str(p), shapes)
    return str(p)


def test_index_shx_and_scan_agree(shp_path):
    import os

    with_shx = list(SHP.iter_record_index(shp_path))
    os.rename(shp_path[:-4] + ".shx", shp_path[:-4] + ".bak")
    try:
        scanned = list(SHP.iter_record_index(shp_path))
    finally:
        os.rename(shp_path[:-4] + ".bak", shp_path[:-4] + ".shx")
    assert with_shx == scanned
    assert len(with_shx) == 3


def test_roundtrip(spark, shp_path):
    rows = SHP.read_shp(spark, shp_path).collect()
    by = {(r.rec_num, r.part): (r.lats, r.lons) for r in rows}
    assert set(by) == {(1, 0), (2, 0), (3, 0), (3, 1)}
    la, lo = by[(1, 0)]
    assert lo == [-1_799_999_500, -1_790_000_000]
    assert la == [100, 200]
    la, lo = by[(3, 1)]                    # second part of the polygon
    assert len(la) == 4 and la[0] == la[-1]


def test_coastline_from_shapefile(spark, shp_path):
    """Open antimeridian segments from the shapefile close into a ring
    via the G19 operator; the polygon parts pass through closed."""
    from pyspark.sql import functions as F

    from osm_spark.operators import coastline as CL

    segs = SHP.read_shp(spark, shp_path).select(
        (F.col("rec_num").cast("long") * 100 + F.col("part")).alias("seg_id"),
        "lats", "lons")
    out = CL.assemble_coastline(segs).collect()
    assert len(out) == 3                   # snapped ring + 2 closed parts
    for r in out:
        assert r.lats[0] == r.lats[-1] and r.lons[0] == r.lons[-1]


def test_point_multipoint_and_z_variants(spark, tmp_path):
    """Point (1) and MultiPoint (8) records decode to single-part rows;
    Z/M-suffixed poly types parse their xy block (trailing z/m arrays
    are not read, so a spliced PolyLineZ record decodes identically)."""
    import struct

    shapes = [
        (SHP.POINT, [[(12.5, -33.25)]]),
        (SHP.MULTIPOINT, [[(0.0, 0.0), (1.0, 2.0), (-3.0, 4.0)]]),
    ]
    p = tmp_path / "pts.shp"
    SF.write_shp(str(p), shapes)
    rows = {(r.rec_num, r.part): (list(r.lats), list(r.lons))
            for r in SHP.read_shp(spark, str(p)).collect()}
    assert rows[(1, 0)] == ([-332_500_000], [125_000_000])
    assert rows[(2, 0)] == ([0, 20_000_000, 40_000_000],
                            [0, 10_000_000, -30_000_000])

    # PolyLineZ (13): base PolyLine content + z-range + z values appended
    base = struct.pack("<i", 13)
    base += struct.pack("<4d", 0, 0, 1, 1)          # bbox
    base += struct.pack("<ii", 1, 2) + struct.pack("<i", 0)
    base += struct.pack("<4d", 0.0, 0.0, 1.0, 1.0)  # xy points
    base += struct.pack("<2d", 5.0, 6.0)            # z range
    base += struct.pack("<2d", 5.0, 6.0)            # z values (ignored)
    parts = SHP.decode_record(base)
    assert len(parts) == 1
    assert parts[0][1].tolist() == [0, 10_000_000]   # lats
    assert parts[0][2].tolist() == [0, 10_000_000]   # lons


def test_write_shp_point_rejects_multiple_points(tmp_path):
    """POINT records hold exactly one point; a multi-point part list is a
    fixture-authoring error and must fail loudly, not silently keep only
    the first point (MULTIPOINT is the type that writes them all)."""
    import pytest

    with pytest.raises(ValueError, match="exactly one point"):
        SF.write_shp(str(tmp_path / "bad"),
                      [(SHP.POINT, [[(1.0, 2.0), (3.0, 4.0)]])])


@pytest.mark.parametrize("raw", [
    b"\x01\x00",
    b"\x01\x00\x00\x00\x00",
    b"\x08\x00\x00\x00" + b"\x00" * 32 + b"\xff\xff\xff\x7f",
    b"\x03\x00\x00\x00" + b"\x00" * 32 + b"\xff\xff\xff\xff\x00\x00\x00\x00",
], ids=["short_type", "short_point", "multipoint_count_past_end",
        "negative_part_count"])
def test_decode_record_untrusted_bytes_raise_value_error(raw):
    """Truncated content, a point count past the record, a negative
    part count: ValueError, not struct.error or a whole-buffer read."""
    with pytest.raises(ValueError):
        SHP.decode_record(raw)


def test_decode_record_descending_parts_raise_value_error(tmp_path):
    """Part starts past the record's points (0, 5 over 4 points)."""
    p = str(tmp_path / "two.shp")
    SF.write_shp(p, [(SHP.POLYLINE, [[(0.0, 0.0), (1.0, 1.0)],
                                     [(2.0, 2.0), (3.0, 3.0)]])])
    (off, size, _num), = SHP.iter_record_index(p)
    with open(p, "rb") as f:
        content = f.read()[off:off + size]
    bad = content[:44] + struct.pack("<ii", 0, 5) + content[52:]
    with pytest.raises(ValueError, match="ascending"):
        SHP.decode_record(bad)


@pytest.mark.parametrize("cut", [99, 104, 120])
def test_record_walk_truncated_file_raises_value_error(shp_path, tmp_path,
                                                       cut):
    """Without a .shx, a file cut inside its header, a record header or
    a record's content raises a ValueError (the walk used to stop
    silently or yield a record that runs past the end)."""
    p = tmp_path / "cut.shp"
    with open(shp_path, "rb") as f:
        p.write_bytes(f.read()[:cut])
    with pytest.raises(ValueError):
        list(SHP.iter_record_index(str(p)))


def test_shx_offset_past_end_fails_decode_with_value_error(spark, shp_path,
                                                          tmp_path):
    """A .shx entry pointing past the end of the .shp fails the decode
    mapper with a ValueError naming the offset."""
    import os
    import shutil

    d = tmp_path / "past"
    d.mkdir()
    shutil.copy(shp_path, d / "layer.shp")
    with open(shp_path[:-4] + ".shx", "rb") as f:
        shx = bytearray(f.read())
    shx[-8:-4] = struct.pack(">i", os.path.getsize(shp_path) // 2)
    (d / "layer.shx").write_bytes(bytes(shx))
    last = list(SHP.iter_record_index(str(d / "layer.shp")))[-1][0]
    with pytest.raises(Exception, match=f"offset {last} .* outside the file"):
        SHP.read_shp(spark, str(d / "layer.shp")).collect()

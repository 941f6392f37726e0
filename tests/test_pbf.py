"""S1 round-trip: encode sample_osm with the independent wire writer,
decode through the Spark source, compare every base table against the
generator's ground truth (never routed through encoder or decoder)."""

from __future__ import annotations

from pathlib import Path

import pytest

from osm_spark.sources import pbf, pbf_fixture
from osm_spark.sources.pbf_fixture import _f_bytes, _f_packed, _f_varint

FIXTURE = Path(__file__).resolve().parent.parent / "data" / "fixtures" / "sample.osm.pbf"


@pytest.fixture(scope="module")
def tables(spark):
    FIXTURE.parent.mkdir(parents=True, exist_ok=True)
    pbf_fixture.write_sample_pbf(str(FIXTURE))
    decoded = pbf.decode_blocks(spark, str(FIXTURE)).cache()
    return pbf.pbf_tables(decoded)


def test_blob_index_framing(spark):
    FIXTURE.parent.mkdir(parents=True, exist_ok=True)
    pbf_fixture.write_sample_pbf(str(FIXTURE))
    idx = list(pbf.iter_blob_index(str(FIXTURE)))
    types = [t for t, _, _ in idx]
    assert types[0] == "OSMHeader"
    assert types.count("OSMData") == 3
    # offsets strictly increasing and within the file
    offs = [o for _, o, _ in idx]
    assert offs == sorted(offs)
    assert offs[-1] + idx[-1][2] == FIXTURE.stat().st_size


def test_nodes_roundtrip(tables):
    exp = pbf_fixture.expected_tables()
    got = sorted(tuple(r) for r in tables["nodes"].collect())
    assert got == sorted(exp["nodes"])
    got_t = sorted(tuple(r) for r in tables["node_tags"].collect())
    assert got_t == sorted(exp["node_tags"])


def test_ways_roundtrip(tables):
    exp = pbf_fixture.expected_tables()
    for name in ("ways", "way_refs", "way_tags"):
        got = sorted(tuple(r) for r in tables[name].collect())
        assert got == sorted(exp[name]), name


def test_relations_roundtrip(tables):
    exp = pbf_fixture.expected_tables()
    for name in ("relations", "rel_members", "rel_tags"):
        got = sorted(tuple(r) for r in tables[name].collect())
        assert got == sorted(exp[name]), name


def test_negative_coordinate_transform():
    """parser.ml:228-233 truncation toward zero on negative values."""
    assert pbf_fixture._fp(500, 1000, -33_8000) == (500 + 1000 * -33_8000) // 100 + (
        1 if (500 + 1000 * -33_8000) % 100 else 0)
    assert pbf_fixture._fp(0, 100, -123_456) == -123_456
    assert pbf_fixture._fp(-50, 1, -49) == 0    # -99/100 truncates to 0


def test_load_chain_pbf_to_multipolygon(spark, tables):
    """SURVEY §3.1 end-to-end: PBF -> normalized tables -> multipolygon
    assembly.  Relation 70100's outer square (split across two ways)
    and closed-way hole assemble into classified rings."""
    from pyspark.sql import functions as F

    from osm_spark.operators import multipolygon as MP

    members = tables["rel_members"].filter(
        (F.col("relation") == 70_100) & (F.col("mtype") == 1)
    ).selectExpr("relation", "member AS way", "role")
    m = MP.gather_members(members, tables["way_refs"], tables["nodes"])
    out = MP.assemble_multipolygons(m).collect()
    assert len(out) == 2
    by_role = {r.role: r for r in out}
    assert set(by_role) == {0, 1}
    assert by_role[1].parent == by_role[0].ring_idx
    assert by_role[0].valid and by_role[1].valid
    # outer ring: the 4 square corners, closed
    assert by_role[0].n_ways == 2
    assert sorted(set(by_role[0].lats))[:2] == [48_9000000, 48_9100000][:2]


def test_dense_packed_fields_split_across_chunks():
    """Protobuf allows a packed repeated field to arrive as SEVERAL
    key-value chunks; the dense-node decode must concatenate them
    (spec conformance — single-chunk writers dominate in practice)."""
    from osm_spark.sources.pbf import KIND_NODE, KIND_NODE_TAG, decode_block
    from osm_spark.sources.pbf_fixture import (_delta, _f_bytes, _f_packed,
                                               _f_varint, _sid)

    strings = [""]
    k = _sid(strings, "amenity"); v = _sid(strings, "cafe")
    ids = [10, 11, 12]
    lats = [100, 200, 300]
    lons = [-5, 0, 5]
    # split every packed field into two chunks at different boundaries
    dense = (
        _f_packed(1, _delta(ids)[:1], zig=True)
        + _f_packed(1, _delta(ids)[1:], zig=True)
        + _f_packed(8, _delta(lats)[:2], zig=True)
        + _f_packed(8, _delta(lats)[2:], zig=True)
        + _f_packed(9, _delta(lons)[:1], zig=True)
        + _f_packed(9, _delta(lons)[1:], zig=True)
        # keys_vals for the 3 nodes: (k,v,0) (0) (k,v,0), split mid-node
        + _f_packed(10, [k, v], zig=False)
        + _f_packed(10, [0, 0, k, v, 0], zig=False)
    )
    group = _f_bytes(2, dense)
    block = (_f_bytes(1, b"".join(_f_bytes(1, s.encode()) for s in strings))
             + _f_bytes(2, group)
             + _f_varint(17, 100))
    pdf = decode_block(block)
    nodes = pdf[pdf["kind"] == KIND_NODE].sort_values("id")
    assert list(nodes["id"]) == ids
    # transform (parser.ml:228-233): (0 + 100*raw)/100 == raw
    assert list(nodes["lat"]) == lats
    assert list(nodes["lon"]) == lons
    tags = pdf[pdf["kind"] == KIND_NODE_TAG].sort_values("id")
    assert list(tags["id"]) == [10, 12]
    assert set(tags["key"]) == {"amenity"} and set(tags["val"]) == {"cafe"}


@pytest.mark.parametrize("cut", [6, 10, 20])
def test_blob_index_truncated_file_raises_value_error(tmp_path, cut):
    """A file cut inside a BlobHeader (6, 10 bytes) or inside the blob
    payload it announces (20 bytes) raises a ValueError naming the
    offset, not a KeyError or a blob that runs past the end."""
    full = tmp_path / "sample.osm.pbf"
    pbf_fixture.write_sample_pbf(str(full))
    p = tmp_path / "cut.osm.pbf"
    p.write_bytes(full.read_bytes()[:cut])
    with pytest.raises(ValueError, match="offset"):
        list(pbf.iter_blob_index(str(p)))


@pytest.mark.parametrize("raw", [b"\x08\xff", b"\x08", b"\x12\x05ab",
                                 b"\x0d\x01\x02"])
def test_fields_truncated_message_raises_value_error(raw):
    """A truncated varint, length-delimited or fixed-width field."""
    with pytest.raises(ValueError, match="byte"):
        pbf.fields(raw)


def test_decode_corrupt_blob_raises_value_error(spark, tmp_path):
    """A corrupt zlib payload fails the decode mapper with a ValueError
    naming the blob's offset."""
    full = tmp_path / "sample.osm.pbf"
    pbf_fixture.write_sample_pbf(str(full))
    data = bytearray(full.read_bytes())
    _t, off, size = [b for b in pbf.iter_blob_index(str(full))
                     if b[0] == "OSMData"][0]
    data[off + size - 8:off + size] = b"\xff" * 8
    p = tmp_path / "corrupt.osm.pbf"
    p.write_bytes(bytes(data))
    with pytest.raises(Exception, match=f"blob at offset {off} "):
        pbf.decode_blocks(spark, str(p)).collect()



def _block(*groups: bytes) -> bytes:
    """A PrimitiveBlock with the string table ["", "highway"]."""
    table = b"".join(_f_bytes(1, s) for s in (b"", b"highway"))
    return _f_bytes(1, table) + b"".join(_f_bytes(2, g) for g in groups)


def _way(wid=None, val=1) -> bytes:
    """A way (or relation) message with one key/val tag pair."""
    return ((b"" if wid is None else _f_varint(1, wid))
            + _f_packed(2, [1], zig=False) + _f_packed(3, [val], zig=False))


def _dense(ids, lats, lons, keys_vals=None) -> bytes:
    """A DenseNodes message (delta coding is irrelevant to lengths)."""
    return _f_bytes(2, _f_packed(1, ids, zig=True) + _f_packed(8, lats, zig=True)
                    + _f_packed(9, lons, zig=True)
                    + (b"" if keys_vals is None
                       else _f_packed(10, keys_vals, zig=False)))


@pytest.mark.parametrize("block, missing", [
    (b"", "string table"),
    (_block(_f_bytes(3, _way())), "way without an id"),
    (_block(_f_bytes(4, _way())), "relation without an id"),
    (_block(_f_bytes(3, _way(wid=5, val=9))), "string id 9"),
    (_block(_dense([1, 1, 1], [5, 5], [7, 7, 7])), "3 ids, 2 lats"),
    (_block(_dense([1], [5], [7], [1, 1, 0, 1, 1, 0])), "names node 1 of 1"),
    (_block(_dense([1], [5], [7], [1, 1, 1, 0])), "keys_vals with an odd"),
], ids=["empty", "way_no_id", "relation_no_id", "string_id_past_table",
        "dense_short_lats", "dense_tags_past_ids", "dense_odd_keys_vals"])
def test_decode_block_missing_parts_raise_value_error(block, missing):
    """A block without a string table, a way or relation without an id,
    a string id past the table, or DenseNodes whose columns disagree in
    length is a ValueError naming it, not a KeyError, IndexError or
    numpy broadcast/reshape error."""
    with pytest.raises(ValueError, match=missing):
        pbf.decode_block(block)


def test_truncated_packed_varint_raises_value_error():
    """Packed bytes that end on a continuation bit are refused: alone,
    and at the end of one buffer of many, where the cut varint would
    otherwise fold into the next buffer's first value."""
    with pytest.raises(ValueError, match="truncated"):
        pbf.packed_uint64(b"\x01\x80")
    with pytest.raises(ValueError, match="end of a buffer"):
        pbf.decode_packed_many([b"\x01\x80", b"\x01"], signed=False)
    vals, counts, _ = pbf.decode_packed_many([b"\x01", b"", b"\x96\x01"],
                                             signed=False)
    assert vals.tolist() == [1, 150] and counts.tolist() == [1, 0, 1]

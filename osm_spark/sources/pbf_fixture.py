"""Deterministic .osm.pbf fixture: encoder + ground truth.

``write_sample_pbf`` encodes ``sample_osm()`` with an independent
pure-Python protobuf writer (varint/zigzag/packed built from the public
wire spec — no shared code with the decoder in ``pbf.py``), so
encode -> Spark decode -> compare-with-``expected_tables()`` is a real
round-trip check, not a self-fulfilling one.

Content: 3 OSMData blobs — dense nodes split across two blobs with
different granularity/offset transforms (exercising parser.ml:228-233
semantics incl. negative coordinates), ways with delta-coded refs, and
relations with typed members + roles.
"""

from __future__ import annotations

import zlib
from pathlib import Path

# ---------------------------------------------------------------------------
# deterministic content


def sample_osm():
    """Raw PBF-unit content: nodes as (id, raw_lat, raw_lon, tags);
    two node blocks with distinct (granularity, lat_off, lon_off)."""
    blocks = []
    nodes_a = []
    for i in range(200):
        nid = 1000 + i * 3
        lat = 48_8000_000 + i * 1_234          # granularity 100 => 1e-7°
        lon = 2_3000_000 + i * 2_741
        tags = {}
        if i % 7 == 0:
            tags["amenity"] = ["cafe", "bench", "school"][i % 3]
        if i % 11 == 0:
            tags["name"] = f"node {nid}"
        nodes_a.append((nid, lat, lon, tags))
    blocks.append({"granularity": 100, "lat_off": 0, "lon_off": 0,
                   "nodes": nodes_a})
    nodes_b = []
    for i in range(100):
        nid = 50_000 + i * 2
        lat = -33_8000 - i * 17                # granularity 1000 + offsets
        lon = 151_2000 + i * 13
        nodes_b.append((nid, lat, lon, {"ele": str(i)} if i % 9 == 0 else {}))
    blocks.append({"granularity": 1000, "lat_off": 500, "lon_off": -700,
                   "nodes": nodes_b})

    ways = []
    all_ids = [n[0] for n in nodes_a]
    for w in range(40):
        wid = 9_000 + w
        refs = [all_ids[(w * 5 + j) % len(all_ids)] for j in range(4 + w % 3)]
        tags = {"highway": ["residential", "primary"][w % 2]}
        if w % 4 == 0:
            tags["oneway"] = "yes"
        ways.append((wid, refs, tags))

    rels = []
    for r in range(8):
        rid = 70_000 + r
        members = [
            (0, all_ids[r * 7 % len(all_ids)], "admin_centre"),
            (1, 9_000 + (r * 3) % 40, "outer"),
            (1, 9_000 + (r * 3 + 1) % 40, "inner"),
        ]
        rels.append((rid, members, {"type": "multipolygon", "ref": str(r)}))

    # a geometrically real multipolygon: outer square split across two
    # member ways + a closed-way hole (drives the §3.1 load->assembly
    # chain end-to-end)
    sq = [(2000, 48_9000000, 2_4000000), (2001, 48_9000000, 2_4100000),
          (2002, 48_9100000, 2_4100000), (2003, 48_9100000, 2_4000000),
          (2010, 48_9030000, 2_4030000), (2011, 48_9030000, 2_4060000),
          (2012, 48_9060000, 2_4060000), (2013, 48_9060000, 2_4030000)]
    nodes_a.extend((nid, la, lo, {}) for nid, la, lo in sq)
    ways.append((9_100, [2000, 2001, 2002], {}))            # half ring
    ways.append((9_101, [2002, 2003, 2000], {}))            # other half
    ways.append((9_102, [2010, 2011, 2012, 2013, 2010], {}))  # closed hole
    rels.append((70_100,
                 [(1, 9_100, "outer"), (1, 9_101, "outer"),
                  (1, 9_102, "inner")],
                 {"type": "multipolygon"}))

    # a second real multipolygon: TWO disjoint closed-way outer rings
    # (multi-outer parenting) with tags on both member ways — drives the
    # common-outer-way tag-merge rule and a non-default DSL category in
    # the composed load->assemble->classify->tile chain
    sq2 = [(2100, 48_9200000, 2_4200000), (2101, 48_9200000, 2_4280000),
           (2102, 48_9280000, 2_4280000), (2103, 48_9280000, 2_4200000),
           (2110, 48_9300000, 2_4300000), (2111, 48_9300000, 2_4380000),
           (2112, 48_9380000, 2_4380000), (2113, 48_9380000, 2_4300000)]
    nodes_a.extend((nid, la, lo, {}) for nid, la, lo in sq2)
    ways.append((9_110, [2100, 2101, 2102, 2103, 2100],
                 {"natural": "water"}))
    ways.append((9_111, [2110, 2111, 2112, 2113, 2110],
                 {"natural": "water"}))
    rels.append((70_101, [(1, 9_110, "outer"), (1, 9_111, "outer")],
                 {"type": "multipolygon", "ref": "3"}))

    return {"blocks": blocks, "ways": ways, "relations": rels}


def _fp(off: int, gran: int, raw: int) -> int:
    """Reference transform (parser.ml:228-233): (off + gran*raw)/100
    with truncation toward zero."""
    v = off + gran * raw
    return v // 100 if v >= 0 else -((-v) // 100)


def expected_tables():
    """Ground-truth base tables, computed straight from ``sample_osm``
    (never through the encoder or decoder)."""
    data = sample_osm()
    nodes, node_tags = [], []
    for b in data["blocks"]:
        for nid, lat, lon, tags in b["nodes"]:
            nodes.append((nid, _fp(b["lat_off"], b["granularity"], lat),
                          _fp(b["lon_off"], b["granularity"], lon)))
            for k in sorted(tags):
                node_tags.append((nid, k, tags[k]))
    ways = [(w,) for w, _, _ in data["ways"]]
    way_refs = [(w, s, r) for w, refs, _ in data["ways"]
                for s, r in enumerate(refs)]
    way_tags = [(w, k, t[k]) for w, _, t in data["ways"] for k in sorted(t)]
    rels = [(r,) for r, _, _ in data["relations"]]
    rel_members = [(r, s, mt, m, role) for r, ms, _ in data["relations"]
                   for s, (mt, m, role) in enumerate(ms)]
    rel_tags = [(r, k, t[k]) for r, _, t in data["relations"]
                for k in sorted(t)]
    return {
        "nodes": nodes, "node_tags": node_tags, "ways": ways,
        "way_refs": way_refs, "way_tags": way_tags, "relations": rels,
        "rel_members": rel_members, "rel_tags": rel_tags,
    }


# ---------------------------------------------------------------------------
# protobuf wire writer (independent of pbf.fields/packed_* decoders)


def _uv(x: int) -> bytes:
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz(x: int) -> int:
    return (x << 1) ^ (x >> 63) if x < 0 else x << 1


def _f_varint(tag: int, v: int) -> bytes:
    return _uv(tag << 3) + _uv(v)


def _f_bytes(tag: int, payload: bytes) -> bytes:
    return _uv((tag << 3) | 2) + _uv(len(payload)) + payload


def _f_packed(tag: int, vals, zig: bool) -> bytes:
    body = b"".join(_uv(_zz(v) if zig else v) for v in vals)
    return _f_bytes(tag, body)


def _delta(vals):
    prev = 0
    out = []
    for v in vals:
        out.append(v - prev)
        prev = v
    return out


def _encode_block(strings: list[str], groups: list[bytes],
                  granularity: int, lat_off: int, lon_off: int) -> bytes:
    st = b"".join(_f_bytes(1, s.encode()) for s in strings)
    out = _f_bytes(1, st)
    for g in groups:
        out += _f_bytes(2, g)
    if granularity != 100:
        out += _f_varint(17, granularity)
    # lat/lon offsets are plain int64 varints (NOT zigzag): negatives
    # encode as 10-byte two's complement
    if lat_off:
        out += _f_varint(19, lat_off & ((1 << 64) - 1))
    if lon_off:
        out += _f_varint(20, lon_off & ((1 << 64) - 1))
    return out


def _sid(strings: list[str], s: str) -> int:
    try:
        return strings.index(s)
    except ValueError:
        strings.append(s)
        return len(strings) - 1


def _encode_blob(block: bytes, typ: bytes = b"OSMData") -> bytes:
    z = zlib.compress(block)
    blob = _f_varint(2, len(block)) + _f_bytes(3, z)
    header = _f_bytes(1, typ) + _f_varint(3, len(blob))
    return len(header).to_bytes(4, "big") + header + blob


def write_sample_pbf(path: str) -> None:
    data = sample_osm()
    blobs = []

    for b in data["blocks"]:
        strings = [""]
        ids = [n[0] for n in b["nodes"]]
        lats = [n[1] for n in b["nodes"]]
        lons = [n[2] for n in b["nodes"]]
        kv = []
        for _, _, _, tags in b["nodes"]:
            for k in sorted(tags):
                kv.append(_sid(strings, k))
                kv.append(_sid(strings, tags[k]))
            kv.append(0)
        dense = (_f_packed(1, _delta(ids), True)
                 + _f_packed(8, _delta(lats), True)
                 + _f_packed(9, _delta(lons), True)
                 + _f_packed(10, kv, False))
        group = _f_bytes(2, dense)
        blobs.append(_encode_blob(_encode_block(
            strings, [group], b["granularity"], b["lat_off"], b["lon_off"])))

    strings = [""]
    group = b""
    for wid, refs, tags in data["ways"]:
        w = _f_varint(1, wid)
        w += _f_packed(2, [_sid(strings, k) for k in sorted(tags)], False)
        w += _f_packed(3, [_sid(strings, tags[k]) for k in sorted(tags)], False)
        w += _f_packed(8, _delta(refs), True)
        group += _f_bytes(3, w)
    for rid, members, tags in data["relations"]:
        r = _f_varint(1, rid)
        r += _f_packed(2, [_sid(strings, k) for k in sorted(tags)], False)
        r += _f_packed(3, [_sid(strings, tags[k]) for k in sorted(tags)], False)
        r += _f_packed(8, [_sid(strings, role) for _, _, role in members], False)
        r += _f_packed(9, _delta([m for _, m, _ in members]), True)
        r += _f_packed(10, [mt for mt, _, _ in members], False)
        group += _f_bytes(4, r)
    blobs.append(_encode_blob(_encode_block(strings, [group], 100, 0, 0)))

    hdr_block = _f_bytes(4, b"OsmSchema-V0.6") + _f_bytes(5, b"DenseNodes")
    Path(path).write_bytes(_encode_blob(hdr_block, b"OSMHeader")
                           + b"".join(blobs))

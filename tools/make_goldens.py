"""Generate golden result tables for the fixture-driven queries whose
algorithms are iterative/geometric and not directly SQL-expressible
(g12_dp, g13_clip, l_linear_tiles, g20_mp_assembly, x5_ch_shortcuts).

All five queries read ONLY deterministic in-repo fixtures (no sf tables),
so their outputs are scale-factor-independent constants; the driver's
DuckDB oracle can therefore be a literal VALUES table.  This script

1. runs each query once and records (columns, dtypes, rows) to
   ``data/goldens/<name>.json``;
2. cross-checks each result against an INDEPENDENT scalar
   re-computation / invariant suite (recursive-definition DP, pure-dict
   Dijkstra distance preservation for CH, ring-closure + orientation for
   multipolygons, on-the-line endpoints for clip, in-bounds monotone
   spans for linear tiles) so the golden is not a self-fulfilling copy.

Re-run after any semantic change to the underlying kernels:
    python tools/make_goldens.py
"""

from __future__ import annotations

import heapq
import json
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

GOLDEN_DIR = Path(__file__).resolve().parent.parent / "data" / "goldens"


# ---------------------------------------------------------------------------
# independent scalar re-computations


def scalar_dp_keep_count(eps: int, xs, ys) -> int:
    """Recursive-definition integer Douglas-Peucker (independent of the
    vectorized stack kernel in osm_spark.geo.kernels): count kept
    vertices under the reference's exact arithmetic rules
    (douglas_peucker.ml:73-127)."""
    import math

    def dist2_to_seg(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        d2 = dx * dx + dy * dy
        nx, ny = px - ax, py - ay
        t = nx * dx + ny * dy
        if d2 == 0 or t <= 0:
            return nx * nx + ny * ny
        if t >= d2:
            ex, ey = px - bx, py - by
            return ex * ex + ey * ey
        cross = nx * dy - ny * dx
        return math.trunc(float(cross) * float(cross) / float(d2))

    n = len(xs)
    if n <= 2:
        return n
    keep = [False] * n
    keep[0] = keep[-1] = True

    def rec(i, j):
        if j <= i + 1:
            return
        best, bd = -1, eps * eps
        for k in range(i + 1, j):
            d = dist2_to_seg(xs[k], ys[k], xs[i], ys[i], xs[j], ys[j])
            if d > bd:
                best, bd = k, d
        if best >= 0:
            keep[best] = True
            rec(i, best)
            rec(best, j)

    rec(0, n - 1)
    return sum(keep)


def dijkstra(adj: dict, src) -> dict:
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


# --- independent scalar geometry (for g_kernel_values) ------------------


def scalar_seg_intersect(x1, y1, x2, y2, x3, y3, x4, y4) -> bool:
    """Independent proper/improper segment intersection (orientation +
    on-segment tests, exact int arithmetic)."""
    def orient(ax, ay, bx, by, cx, cy):
        return (bx - ax) * (cy - ay) - (cx - ax) * (by - ay)

    def on_seg(px, py, ax, ay, bx, by):
        return (orient(ax, ay, bx, by, px, py) == 0
                and min(ax, bx) <= px <= max(ax, bx)
                and min(ay, by) <= py <= max(ay, by))

    d1 = orient(x1, y1, x2, y2, x3, y3)
    d2 = orient(x1, y1, x2, y2, x4, y4)
    d3 = orient(x3, y3, x4, y4, x1, y1)
    d4 = orient(x3, y3, x4, y4, x2, y2)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) \
            and d1 != 0 and d2 != 0 and d3 != 0 and d4 != 0:
        return True
    return (on_seg(x3, y3, x1, y1, x2, y2) or on_seg(x4, y4, x1, y1, x2, y2)
            or on_seg(x1, y1, x3, y3, x4, y4) or on_seg(x2, y2, x3, y3, x4, y4))


def scalar_on_boundary(x, y, rx, ry) -> bool:
    return any(
        ((bx - ax) * (y - ay) - (x - ax) * (by - ay)) == 0
        and min(ax, bx) <= x <= max(ax, bx) and min(ay, by) <= y <= max(ay, by)
        for (ax, ay), (bx, by) in zip(zip(rx, ry), zip(rx[1:], ry[1:])))


def scalar_is_simple(px, py) -> bool:
    """Independent scalar simple-polygon check (geometry.ml:107-136
    spec: non-consecutive segments disjoint, consecutive segments do
    not fold back)."""
    l = len(px) - 1
    for i in range(1, l):
        for j in range(0, i - 1):
            if (j > 0 or i < l - 1) and scalar_seg_intersect(
                    px[i], py[i], px[i + 1], py[i + 1],
                    px[j], py[j], px[j + 1], py[j + 1]):
                return False
    for i in range(1, l):
        dx1, dy1 = px[i + 1] - px[i], py[i + 1] - py[i]
        dx2, dy2 = px[i] - px[i - 1], py[i] - py[i - 1]
        if dx1 * dx2 + dy1 * dy2 <= 0 and dx1 * dy2 == dx2 * dy1:
            return False
    return True


def scalar_pip(x, y, rx, ry) -> bool:
    """Crossing-number PIP with the reference's exact tie conventions
    (geometry.ml:157-174), scalar re-statement."""
    cnt = 0
    for (ax, ay), (bx, by) in zip(zip(rx, ry), zip(rx[1:], ry[1:])):
        pi, pj = ay >= y, by >= y
        if pi != pj:
            d = (bx - ax) * (y - ay) - (x - ax) * (by - ay)
            if (d >= 0) != pi:
                cnt += 1
    return cnt % 2 == 1


# ---------------------------------------------------------------------------


def record(name: str, sdf, checks) -> None:
    pdf = sdf.toPandas()
    cols = list(pdf.columns)
    dtypes = []
    for c in cols:
        k = str(pdf[c].dtype)
        if k.startswith(("int", "uint")):
            dtypes.append("BIGINT")
        elif k.startswith("float"):
            dtypes.append("DOUBLE")
        elif k == "bool":
            dtypes.append("BOOLEAN")
        else:
            dtypes.append("VARCHAR")
    rows = [
        [None if (v is None or (isinstance(v, float) and np.isnan(v)))
         else (bool(v) if isinstance(v, (bool, np.bool_))
               else int(v) if isinstance(v, (int, np.integer))
               else float(v) if isinstance(v, (float, np.floating))
               else str(v))
         for v in r]
        for r in pdf.itertuples(index=False)
    ]
    checks(pdf)
    GOLDEN_DIR.mkdir(parents=True, exist_ok=True)
    out = GOLDEN_DIR / f"{name}.json"
    out.write_text(json.dumps({"columns": cols, "types": dtypes, "rows": rows}))
    print(f"wrote {out} ({len(rows)} rows)")


def main() -> int:
    import __spark_entry__ as entry
    from osm_spark import fixtures as FX
    from osm_spark.operators import routing as RT
    from osm_spark.operators import tiles as T
    from osm_spark.session import get_spark

    spark = get_spark("make-goldens", shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"  # unused by these queries (fixture-only)
    qs = entry.queries()

    # --- g12_dp: independent recursive DP count per feature -------------
    def check_dp(pdf):
        ratio = T.band_params(10)[1]
        got = {int(r.feature_id): (int(r.n_in), int(r.n_kept))
               for r in pdf.itertuples()}
        for p in FX.city_polygons():
            n_in = n_kept = 0
            for ring in p["rings"]:
                xs, ys = list(ring["lon"]), list(ring["lat"])
                n_in += len(xs)
                n_kept += scalar_dp_keep_count(ratio, xs, ys)
            assert got[p["feature_id"]] == (n_in, n_kept), (
                p["feature_id"], got[p["feature_id"]], (n_in, n_kept))
        print("  g12_dp: independent recursive DP agrees")

    record("g12_dp", qs["g12_dp"](spark, sf), check_dp)

    # --- g13_clip: endpoint invariants ----------------------------------
    def check_clip(pdf):
        cut = FX.LON0 + FX.SPAN // 2
        for r in pdf.itertuples():
            # every piece lies strictly on one side; interior cut points
            # land exactly on the clip line
            if r.side == 0:
                assert r.lon_first <= cut and r.lon_last <= cut
            else:
                assert r.lon_first >= cut and r.lon_last >= cut
            assert r.n_pts >= 2
        print("  g13_clip: side/endpoint invariants hold")

    record("g13_clip", qs["g13_clip"](spark, sf), check_clip)

    # --- l_linear_tiles: bounds + coverage ------------------------------
    def check_lt(pdf):
        for z in pdf["z"].unique():
            sub = pdf[pdf.z == z]
            assert (sub.x >= 0).all() and (sub.x < 2 ** z).all()
            assert (sub.y >= 0).all() and (sub.y < 2 ** z).all()
        assert not pdf.duplicated(["way_id", "z", "x", "y"]).any()
        print("  l_linear_tiles: tile-range invariants hold")

    record("l_linear_tiles", qs["l_linear_tiles"](spark, sf), check_lt)

    # --- g20_mp_assembly: closure + parenting invariants ----------------
    def check_mp(pdf):
        assert (pdf.n_pts >= 4).all()  # closed rings repeat first point
        outers = pdf[pdf.role == 0]
        inners = pdf[pdf.role == 1]
        assert len(outers) > 0
        for r in inners.itertuples():
            assert r.parent in set(outers[outers.relation == r.relation].ring_idx)
        print("  g20_mp_assembly: closure/parenting invariants hold")

    record("g20_mp_assembly", qs["g20_mp_assembly"](spark, sf), check_mp)

    # --- x5_ch_shortcuts: CH graph preserves Dijkstra distances ---------
    def check_ch(pdf):
        nodes_df, refs = FX.road_network_dfs(spark, grid=6)
        base = RT.extract_edges(refs, nodes_df).select(
            "src", "dst", "weight").collect()
        adj = {}
        for r in base:
            adj.setdefault(r.src, []).append((r.dst, r.weight))
        aug = {}
        for r in pdf.itertuples():
            aug.setdefault(int(r.src), []).append((int(r.dst), float(r.weight_r)))
        srcs = sorted(adj)[:6]
        for s in srcs:
            d0 = dijkstra(adj, s)
            d1 = dijkstra(aug, s)
            for k, v in d0.items():
                assert abs(d1.get(k, float("inf")) - v) < 1e-4, (s, k, v, d1.get(k))
        print("  x5_ch_shortcuts: pure-python Dijkstra distances preserved")

    record("x5_ch_shortcuts", qs["x5_ch_shortcuts"](spark, sf), check_ch)

    # --- x7_ch_path: optimal-walk property vs pure-python Dijkstra ------
    def check_x7(pdf):
        nodes_df, refs = FX.road_network_dfs(spark, grid=6)
        base = RT.extract_edges(refs, nodes_df).select(
            "src", "dst", "weight").collect()
        orig = {(r.src, r.dst): r.weight for r in base}
        adj = {}
        for (s, d), w in orig.items():
            adj.setdefault(s, []).append((d, w))
        for kind, pair_set in ((0, entry.X7_PAIRS), (1, entry.X7B_PAIRS)):
            part = pdf[pdf.kind == kind]
            n_checked = 0
            for s, t in pair_set:
                want = dijkstra(adj, s).get(t, float("inf"))
                sub = part[(part.src == s) & (part.dst == t)] \
                    .sort_values("seq")
                if want == float("inf"):
                    assert len(sub) == 0, (kind, s, t)
                    continue
                path = [int(n) for n in sub.node]
                assert path[0] == s and path[-1] == t, (kind, s, t, path)
                walk = 0.0
                for u, v in zip(path, path[1:]):
                    assert (u, v) in orig, (u, v)  # hop = original edge
                    walk += orig[(u, v)]
                assert abs(walk - want) < 1e-6 * max(want, 1.0), \
                    (kind, s, t, walk, want)
                assert abs(sub.dist_r.iloc[0] - round(want, 6)) < 1e-6
                n_checked += 1
            assert n_checked > 0, kind
            print(f"  x7_ch_path kind {kind}: {n_checked} pairs are "
                  "optimal walks (pure-python Dijkstra)")

    record("x7_ch_path", qs["x7_ch_path"](spark, sf), check_x7)

    # --- x3_witness_sim: plain-python re-simulation from the edge list --
    def check_x3(pdf):
        import heapq as _hq

        nodes_df, refs = FX.road_network_dfs(spark, grid=6)
        base = RT.extract_edges(refs, nodes_df).select(
            "src", "dst", "weight").collect()
        ew: dict[tuple, float] = {}
        for r in base:
            if r.src != r.dst:
                k = (int(r.src), int(r.dst))
                ew[k] = min(ew.get(k, float("inf")), float(r.weight))
        all_nodes = {a for a, _ in ew} | {b for _, b in ew}
        got_counts = {}
        got_sc = set()
        for r in pdf.itertuples():
            got_counts[int(r.node)] = (int(r.n_in), int(r.n_out),
                                       int(r.n_shortcuts))
            if int(r.sc_u) >= 0:
                got_sc.add((int(r.node), int(r.sc_u), int(r.sc_w),
                            round(float(r.sc_weight_r), 6)))
        want_sc = set()
        for v in all_nodes:
            ins = [(a, w) for (a, b), w in ew.items() if b == v and a != v]
            outs = [(b, w) for (a, b), w in ew.items() if a == v and b != v]
            nbrs = {a for a, _ in ins} | {b for b, _ in outs}
            sub: dict[int, list] = {}
            for (a, b), w in ew.items():
                if a in nbrs and b in nbrs and a != v and b != v:
                    sub.setdefault(a, []).append((b, w))
            n_sc = 0
            for u, w_uv in ins:
                targets = {w_: w_uv + w_vw for w_, w_vw in outs if w_ != u}
                if not targets:
                    continue
                limit = max(targets.values())
                dist = {u: 0.0}
                pq = [(0.0, u)]
                while pq:
                    d0, x = _hq.heappop(pq)
                    if d0 > dist.get(x, float("inf")) or d0 > limit:
                        continue
                    for y, wt in sub.get(x, ()):
                        nd = d0 + wt
                        if nd < dist.get(y, float("inf")) and nd <= limit:
                            dist[y] = nd
                            _hq.heappush(pq, (nd, y))
                for w_, sw in targets.items():
                    if dist.get(w_, float("inf")) > sw:
                        n_sc += 1
                        want_sc.add((v, u, w_, round(sw, 6)))
            assert got_counts[v] == (len(ins), len(outs), n_sc), (
                v, got_counts[v], (len(ins), len(outs), n_sc))
        assert got_sc == want_sc
        print("  x3_witness_sim: plain-python witness re-simulation agrees")


    # --- x4_x6_local_ch: CH ordering invariants -------------------------
    def check_x4x6(pdf):
        nodes_df, refs = FX.road_network_dfs(spark, grid=6)
        base = RT.extract_edges(refs, nodes_df).select(
            "src", "dst", "weight").collect()
        adj: dict[int, list] = {}
        for r in base:
            adj.setdefault(int(r.src), []).append((int(r.dst), float(r.weight)))
        ranks = {int(r.node): int(r.rank) for r in pdf.itertuples()}
        # X6: the output ordering is a total order — a permutation 0..n-1
        assert sorted(ranks.values()) == list(range(len(ranks)))
        # X4: rebuild the contraction and verify the frozen overlay
        # preserves distances AND every shortcut's via ranks below both
        # endpoints (the CH structural invariant)
        rows = [(a, b, w, 1, None) for (a, b), w in
                {(int(r.src), int(r.dst)): float(r.weight) for r in base
                 if r.src != r.dst}.items()]
        frozen, ranks2 = RT._contract_local(rows, 0)
        assert ranks2 == ranks           # query output IS the contraction
        n_via: dict[int, int] = {}
        aug: dict[int, list] = {}
        for s, d, w, _o, via in frozen:
            aug.setdefault(int(s), []).append((int(d), float(w)))
            if via is not None:
                n_via[int(via)] = n_via.get(int(via), 0) + 1
                assert ranks[int(via)] < min(ranks[int(s)], ranks[int(d)]), (
                    via, s, d)
        got_via = {int(r.node): int(r.n_shortcuts) for r in pdf.itertuples()}
        assert got_via == {n: n_via.get(n, 0) for n in ranks}
        for s in sorted(adj)[:6]:
            d0, d1 = dijkstra(adj, s), dijkstra(aug, s)
            for k, v in d0.items():
                assert abs(d1.get(k, float("inf")) - v) < 1e-4, (s, k)
        print("  x4_x6_local_ch: permutation + via-rank + distance "
              "invariants hold")

    def check_x3x4(pdf):
        # the merged two-part table (50-query gate cap): kind 0 rows are
        # the witness simulation, kind 1 the sequential contraction —
        # each half re-checked by its original independent verifier
        check_x3(pdf[pdf["kind"] == 0].drop(columns=["kind", "rank"]))
        check_x4x6(pdf[pdf["kind"] == 1][["node", "rank", "n_shortcuts"]])

    record("x3_x4_ch_local", qs["x3_x4_ch_local"](spark, sf), check_x3x4)

    # --- e2e_pbf_tiles: fixture-truth recompute of the composed chain ---
    def check_e2e(pdf):
        from osm_spark.sources import pbf_fixture

        data = pbf_fixture.sample_osm()
        node_ll = {}
        for blk in data["blocks"]:
            for nid, rla, rlo, _tags in blk["nodes"]:
                node_ll[nid] = (pbf_fixture._fp(blk["lat_off"], blk["granularity"], rla),
                                pbf_fixture._fp(blk["lon_off"], blk["granularity"], rlo))
        way_nodes = {wid: refs for wid, refs, _t in data["ways"]}
        way_tags = {wid: t for wid, refs, t in data["ways"]}

        def rings_close(members):
            """Pure-python chain closure over member way node-id lists."""
            segs = [list(way_nodes[w]) for _role, w, in members]
            rings, pool = [], segs[:]
            while pool:
                cur = pool.pop(0)
                progress = True
                while cur[0] != cur[-1] and progress:
                    progress = False
                    for i, s in enumerate(pool):
                        if s[0] == cur[-1]:
                            cur = cur + s[1:]; pool.pop(i); progress = True; break
                        if s[-1] == cur[-1]:
                            cur = cur + s[::-1][1:]; pool.pop(i); progress = True; break
                if cur[0] != cur[-1]:
                    return None
                rings.append(cur)
            return rings

        # expected valid multipolygon relations + their full-res bbox
        expect = {}
        for rid, members, rtags in data["relations"]:
            if rtags.get("type") != "multipolygon":
                continue
            wms = [(0 if role != "inner" else 1, m)
                   for mt, m, role in members if mt == 1]
            rings = rings_close(wms)
            if rings is None:
                continue
            outer_ws = [m for role, m in wms if role == 0]
            tags = dict(rtags)
            common = None
            for w in outer_ws:
                t = set(way_tags[w].items())
                common = t if common is None else (common & t)
            for k, v in (common or set()):
                tags.setdefault(k, v)
            cat = max(
                (5 if (k, v) == ("type", "multipolygon")
                 else 7 if (k, v) == ("ref", "3")
                 else -1)
                for k, v in tags.items())
            pts = [node_ll[n] for ring in rings for n in ring]
            expect[rid] = (cat, min(p[0] for p in pts), max(p[0] for p in pts),
                           min(p[1] for p in pts), max(p[1] for p in pts))
        got_feats = {int(f): int(c) for f, c in
                     zip(pdf.feature_id, pdf.category)}
        assert got_feats == {r: c for r, (c, *_bb) in expect.items()}, (
            got_feats, expect)
        LON_OFFSET, LON_WORLD = 1_800_000_000, 3_600_000_000
        for z in sorted(pdf.z.unique()):
            for rid, (_c, la0, la1, lo0, lo1) in expect.items():
                sub = pdf[(pdf.feature_id == rid) & (pdf.z == z)]
                if not len(sub):
                    continue      # dropped by the band's area cutoff
                x0 = (lo0 + LON_OFFSET) * (1 << int(z)) // LON_WORLD
                x1 = (lo1 + LON_OFFSET) * (1 << int(z)) // LON_WORLD
                assert set(sub.x) == set(range(x0, x1 + 1)), (rid, z)
                ys = sorted(set(sub.y))
                assert ys == list(range(ys[0], ys[-1] + 1))
                assert all(0 <= y < (1 << int(z)) for y in ys)
                # full rectangle fan-out
                assert len(sub) == len(set(sub.x)) * len(ys)
        print("  e2e_pbf_tiles: fixture-truth features/categories/x-spans agree")

    record("e2e_pbf_tiles", qs["e2e_pbf_tiles"](spark, sf), check_e2e)

    # --- g_kernel_values: independent scalar geometry -------------------
    def check_kernels(pdf):
        rx, ry = entry.KRING_X, entry.KRING_Y
        for r in pdf[pdf.kind == "seg_intersect"].itertuples():
            want = scalar_seg_intersect(*entry.KSEG_CASES[int(r.case_id)])
            assert bool(r.a) == want, ("seg", r.case_id)
        for r in pdf[pdf.kind == "pt_boundary"].itertuples():
            x, y = entry.KPT_CASES[int(r.case_id)]
            assert bool(r.a) == scalar_on_boundary(x, y, rx, ry), ("pt", r.case_id)
        for r in pdf[pdf.kind == "mid_pip"].itertuples():
            x1, y1, x2, y2 = entry.KMID_CASES[int(r.case_id)]
            want = scalar_pip(x1 + x2, y1 + y2,
                              [2 * v for v in rx], [2 * v for v in ry])
            assert bool(r.a) == want, ("mid", r.case_id)
        for r in pdf[pdf.kind == "simple_poly"].itertuples():
            _cid, xs, ys = entry.KSIMPLE_RINGS[int(r.case_id)]
            assert bool(r.a) == scalar_is_simple(xs, ys), ("simple", r.case_id)
        q = 1_000_000
        for lid, xs, ys in entry.KSMOOTH_LINES:
            sub = pdf[(pdf.kind == "smooth") & (pdf.case_id == lid)] \
                .sort_values("pt_idx")
            n = len(xs)
            n_sub = 4
            want_n = n if n < 3 else 1 + (n - 1) * n_sub
            assert len(sub) == want_n, (lid, len(sub), want_n)
            # curve passes through every input vertex at the knots
            step = 1 if n < 3 else n_sub
            for k, (vx, vy) in enumerate(zip(xs, ys)):
                row = sub.iloc[k * step]
                assert abs(int(row.a) - vx * q) <= 1, (lid, k)
                assert abs(int(row.b) - vy * q) <= 1, (lid, k)
        print("  g_kernel_values: independent scalar geometry agrees")

    record("g_kernel_values", qs["g_kernel_values"](spark, sf), check_kernels)

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

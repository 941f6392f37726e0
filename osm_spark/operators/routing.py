"""Routing graph construction + contraction hierarchies (CH), Spark-first.

Re-expresses the reference's routing pipeline (SURVEY.md §2.5) as
DataFrame programs:

- X1 edge extraction: consecutive ``way_refs`` pairs -> directed edges
  with haversine length and direction flags from a routing profile
  (/root/reference/osm/highway.ml:152-246; direction logic 218-237,
  BIDIR=3 / FWD=2 / BWD=1).
- X3/X4 witness search + node contraction: per-node local Dijkstra over
  the node's 1-hop neighbourhood subgraph inside an ``applyInPandas``
  UDF (/root/reference/osm/contraction.ml:261-310, 345-495).  The
  reference searches the full graph with bounds; restricting witnesses
  to the 1-hop subgraph can only ADD shortcuts, never drop a needed
  one, so shortest-path preservation is unconditional.  The distributed
  rounds and the driver-local finish share one witness routine
  (``_witness_shortcuts``).
- X5 independent-set batched contraction: each round contracts every
  node whose (priority, hash, id) beats all 1- and 2-hop neighbours
  (/root/reference/osm/contraction.ml:557-660) — already data-parallel
  in the reference; here it is a driver loop of DataFrame stages: the
  key's minimum spread twice over the closed adjacency picks the set,
  and one frame of the active edges tagged with their selected
  endpoint's depth gives the frozen edges, the survivors and the depth
  update.  Each round's outputs go to parquet when checkpointing
  (resumable, with per-round row-count/byte metrics).
- X6/X7: rank-ordered output edges + one bidirectional CH query
  (``ch_query`` on the driver, ``ch_batch_routes`` per pair in a
  mapper) returning distance and expanded path.

One Dijkstra loop (``_dijkstra``) serves every search: bounded for the
witnesses, unbounded for both directions of the CH query.

Priority = depth + 2*edge_growth + 4*orig_edge_growth, the reference's
formula (contraction.ml:345-423).  The tie-break hash replaces OCaml's
``Hashtbl.hash`` with a documented multiplicative hash (SURVEY.md §7
risk register: capability parity, pinned to our own deterministic rule).

Scale notes (100 TB target): every per-round stage is a key-partitioned
join or aggregation — no driver-side graph state.  The neighbourhood
gather is two self-joins on node id; AQE skew-split covers hub nodes.
Priorities are recomputed for all active nodes each round (the
independent set touches most neighbourhoods anyway).  Lineage is cut
every round: the selected nodes and the tagged edge frame are local
checkpoints, and the round's outputs (frozen edges, ranks, active
edges, depths) go through ``_persist`` — a parquet write+read under
``round=NNNN/`` when checkpointing, else a local checkpoint.
"""

from __future__ import annotations

import heapq
import json
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.operators.geomops import haversine_col
from osm_spark.sources import ranges as R

BIDIR, FWD, BWD = 3, 2, 1  # highway.ml:218-237 flag values

# deterministic tie-break hash (replaces Hashtbl.hash; Knuth multiplicative)
HASH_A = 2654435761
HASH_MOD = 1 << 31

# default speed profile, km/h by category id (profile_car.ml:27-81 analog)
DEFAULT_SPEEDS = {0: 130, 1: 110, 2: 90, 3: 70, 4: 50, 5: 30, 6: 10}


# a node's contraction key (priority, hash, id) — unique per node, so
# the independent set below has no ties.  The hash reduces mod FIRST:
# ids can exceed 2^33 (planet OSM), and id * HASH_A would overflow int64;
# (v % M) * A stays < 2^63 and ((v % M) * A) % M == (v * A) % M exactly
# (same documented rule as the _contract_local twin, which uses Python
# bignums).  Deferred hubs report n_shortcuts=0, which would otherwise
# give them the MINIMAL key in their neighbourhood and permanently block
# every node within 2 hops; a maximal key keeps neighbours selectable
# (hubs contract in the local finish).
_KEY_SQL = (
    f"struct(IF(deferred, {1 << 62}, depth"
    " + 2 * (n_shortcuts - n_in - n_out) + 4 * (orig_shortcuts - orig_in_out))"
    f" AS priority, ((node % {HASH_MOD}) * {HASH_A}) % {HASH_MOD} AS h,"
    " node AS id)"
)


# ---------------------------------------------------------------------------
# X1: edge extraction


def extract_edges(way_refs: DataFrame, nodes: DataFrame,
                  speed_col: str | None = None) -> DataFrame:
    """way_refs(way_id, seq, node_id) + ways' category/oneway + node coords
    -> directed weighted edges.

    ``way_refs`` must also carry ``oneway`` (int: 0 both, 1 forward,
    -1 backward) plus either ``category`` (int, mapped through
    ``DEFAULT_SPEEDS``) or — when ``speed_col`` is given, e.g. from
    ``profile.apply_profile`` — a direct per-way speed column.  Output
    columns: (src, dst, length_mm, weight, flags) with one row per
    traversable direction; weight = length / speed (reference:
    highway.ml:192-246).
    """
    cat_cols = [speed_col] if speed_col else ["category"]
    w = Window.partitionBy("way_id").orderBy("seq")
    segs = (
        # LEFT join: a ref whose node is absent (clipped extract) must
        # keep its row so lead() pairs it with its true neighbors; the
        # coord filter below then drops BOTH its edges, breaking the
        # chain there instead of stitching a phantom i-1 -> i+1 edge
        way_refs.join(nodes, "node_id", "left")
        .select(
            "way_id", "seq", *cat_cols, "oneway",
            F.col("node_id").alias("src"),
            F.col("lat").alias("src_lat"), F.col("lon").alias("src_lon"),
        )
        .withColumn("dst", F.lead("src").over(w))
        .withColumn("dst_lat", F.lead("src_lat").over(w))
        .withColumn("dst_lon", F.lead("src_lon").over(w))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src"))
                & F.col("src_lat").isNotNull()
                & F.col("dst_lat").isNotNull())
    )

    if speed_col:
        speed_expr = F.col(speed_col)
    else:
        speed_expr = F.element_at(
            F.create_map(*[F.lit(x) for kv in DEFAULT_SPEEDS.items() for x in kv]),
            F.col("category"),
        )
    segs = (
        segs.withColumn("length_mm",
                        haversine_col("src_lat", "src_lon", "dst_lat", "dst_lon"))
        .withColumn("speed", F.coalesce(speed_expr, F.lit(50)))
        .withColumn("weight", F.col("length_mm") / (F.col("speed") * 1000.0))
        .withColumn(
            "flags",
            F.when(F.col("oneway").isNull()
                   | (F.col("oneway") == 0), F.lit(BIDIR))
            .when(F.col("oneway") > 0, F.lit(FWD))
            .otherwise(F.lit(BWD)),
        )
    )
    fwd = segs.filter(F.col("flags").bitwiseAND(2) != 0).select(
        "src", "dst", "length_mm", "weight")
    bwd = segs.filter(F.col("flags").bitwiseAND(1) != 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        "length_mm", "weight")
    return (
        fwd.unionByName(bwd)
        .groupBy("src", "dst")
        # min_by keeps the (weight, length) of ONE real segment — separate
        # min() aggregates could mix weight and length from different
        # parallel edges into a pair no segment has
        .agg(F.min_by(F.struct("weight", "length_mm"),
                      F.struct("weight", "length_mm")).alias("e"))
        .select("src", "dst", F.col("e.weight").alias("weight"),
                F.col("e.length_mm").alias("length_mm"))
    )


# ---------------------------------------------------------------------------
# X3/X4: per-node simulated contraction (priority + shortcut candidates)

_SIM_SCHEMA = (
    "node long, n_in int, n_out int, n_shortcuts int, orig_in_out int, "
    "orig_shortcuts int, deferred boolean, "
    "shortcuts array<struct<u:long, w:long, weight:double, orig:int>>"
)

# nodes above this degree skip witness simulation and are never picked by
# the distributed rounds — hubs contract last (driver-local finish), the
# standard CH practice; also caps the among-neighbours join at degree^2
MAX_SIM_DEGREE = 64

# ``contract``'s distributed rounds run while the active graph has more
# than LOCAL_THRESHOLD edges, at most MAX_ROUNDS of them; both are read
# at call time
MAX_ROUNDS = 60
LOCAL_THRESHOLD = 10_000


def _dijkstra(succ, start: int, limit: float = np.inf):
    """The one shortest-path loop: Dijkstra from ``start`` over
    ``succ(x)`` -> iterable of (y, weight), settling nothing farther
    than ``limit``.  Returns (dist, parent).  Serves the witness
    searches (bounded, contraction.ml:261-310) and both directions of
    the CH query (unbounded, routing.ml:49-79)."""
    dist = {start: 0.0}
    parent: dict[int, int] = {}
    pq = [(0.0, start)]
    while pq:
        d0, x = heapq.heappop(pq)
        if d0 > dist.get(x, np.inf) or d0 > limit:
            continue
        for y, w in succ(x):
            nd = d0 + w
            if nd < dist.get(y, np.inf) and nd <= limit:
                dist[y] = nd
                parent[y] = x
                heapq.heappush(pq, (nd, y))
    return dist, parent


def _witness_shortcuts(ins, outs, succ) -> list[tuple]:
    """Shortcuts needed to contract v: ``ins`` are its in-edges (u,
    weight, orig), ``outs`` its out-edges (w, weight, orig), ``succ``
    the witness graph without v.  Per u, one search bounded by the
    longest u->v->w; a w it does not reach within u->v->w has no
    witness and needs the shortcut (u, w, weight, orig)."""
    shortcuts = []
    for u, w_uv, o_uv in ins:
        targets = {w: (w_uv + w_vw, o_uv + o_vw)
                   for w, w_vw, o_vw in outs if w != u}
        if not targets:
            continue
        dist, _ = _dijkstra(succ, u, max(t[0] for t in targets.values()))
        shortcuts += [(u, w, sw, so) for w, (sw, so) in targets.items()
                      if dist.get(w, np.inf) > sw]
    return shortcuts


def _simulate_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Simulate contracting node v: local witness Dijkstra over the 1-hop
    neighbourhood subgraph (contraction.ml:261-310), emit needed
    shortcuts + growth stats."""
    v = int(pdf["v"].iloc[0])
    inc = pdf[pdf["is_incident"]]
    among = pdf[~pdf["is_incident"]]
    in_e = inc[inc["dst"] == v]        # u -> v
    out_e = inc[inc["src"] == v]       # v -> w
    if len(in_e) + len(out_e) > MAX_SIM_DEGREE:
        return pd.DataFrame({
            "node": [v], "n_in": [len(in_e)], "n_out": [len(out_e)],
            "n_shortcuts": [0], "orig_in_out": [0], "orig_shortcuts": [0],
            "deferred": [True], "shortcuts": [[]],
        })
    # adjacency of the neighbourhood subgraph, v excluded
    adj: dict[int, list[tuple[int, float]]] = {}
    for s, d, wt in zip(among["src"], among["dst"], among["weight"]):
        adj.setdefault(int(s), []).append((int(d), float(wt)))

    def triples(nodes, w, o):
        return [(int(n), float(x), int(c)) for n, x, c in zip(nodes, w, o)]

    in_pairs = triples(in_e["src"], in_e["weight"], in_e["orig"])
    out_pairs = triples(out_e["dst"], out_e["weight"], out_e["orig"])
    shortcuts = _witness_shortcuts(in_pairs, out_pairs,
                                   lambda x: adj.get(x, ()))
    return pd.DataFrame(
        {
            "node": [v],
            "n_in": [len(in_pairs)],
            "n_out": [len(out_pairs)],
            "n_shortcuts": [len(shortcuts)],
            "orig_in_out": [int(in_e["orig"].sum() + out_e["orig"].sum())],
            "orig_shortcuts": [int(sum(s[3] for s in shortcuts))],
            "deferred": [False],
            "shortcuts": [shortcuts],
        }
    )


def _neighbourhoods(edges: DataFrame) -> DataFrame:
    """Per active node v: its incident edges plus the edges among its
    neighbours (witness subgraph), as one tall DF keyed by v."""
    nbr = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct()
    )
    incident = (
        edges.select(F.col("src").alias("v"), "src", "dst", "weight", "orig")
        .unionByName(
            edges.select(F.col("dst").alias("v"), "src", "dst", "weight", "orig"))
        .withColumn("is_incident", F.lit(True))
    )
    among = (
        nbr.join(edges, nbr["n"] == edges["src"])
        .select("v", "src", "dst", "weight", "orig")
        .join(
            nbr.select(F.col("v").alias("v2"), F.col("n").alias("dst2")),
            (F.col("v") == F.col("v2")) & (F.col("dst") == F.col("dst2")),
            "left_semi",
        )
        .filter(F.col("src") != F.col("v"))  # incident rows covered above
        .withColumn("is_incident", F.lit(False))
    )
    return incident.unionByName(among)


# ---------------------------------------------------------------------------
# X5: independent-set batched contraction driver loop


@dataclass
class CHResult:
    edges: DataFrame          # (src, dst, weight, orig, via, rank_src, rank_dst)
    ranks: DataFrame          # (node, rank)
    metrics: list[dict] = field(default_factory=list)
    rounds: int = 0


def _write_log(log: str, metrics: list[dict]) -> None:
    """Rewrite the round log whole: object stores have no append, and
    the log holds one short line per round."""
    R.write_text(log, "".join(json.dumps(m) + "\n" for m in metrics))


def _persist(df: DataFrame, rd: str | None, name: str) -> DataFrame:
    """Cut ``df``'s lineage: parquet at ``rd/name``, read back, when
    checkpointing to ``rd`` (resumable); else a local checkpoint."""
    if rd is None:
        return df.localCheckpoint()
    df.write.mode("overwrite").parquet(f"{rd}/{name}")
    return df.sparkSession.read.parquet(f"{rd}/{name}")


def _contract_local(rows, rank_offset: int, depths0=None):
    """Sequential CH finish for the small residual core graph.

    ``rows``: (src, dst, weight, orig, via); ``depths0``: the live
    nodes' depths, edgeless ones included.  Contract nodes one at a
    time in lazy priority order (priority recomputed at pop — the
    standard CH queue trick; same formula as the distributed rounds),
    witness-searching the live residual graph.  Returns
    (frozen_edge_rows, rank_dict) with ranks starting at
    ``rank_offset``.  Mirrors the reference's single-node behaviour
    (contraction.ml:439-495) — on a cluster this runs on the driver once
    the distributed rounds have shrunk the graph below the threshold.
    """
    out_e: dict[int, dict[int, tuple]] = {}
    in_e: dict[int, dict[int, tuple]] = {}
    for s, d, w, o, via in rows:
        s, d = int(s), int(d)
        cur = out_e.setdefault(s, {}).get(d)
        if cur is None or w < cur[0]:
            out_e.setdefault(s, {})[d] = (float(w), int(o), via)
            in_e.setdefault(d, {})[s] = (float(w), int(o), via)
    # every live node takes a rank, also one that lost its edges
    depth = dict.fromkeys(set(out_e) | set(in_e), 0)
    depth.update({int(k): int(v) for k, v in (depths0 or {}).items()})

    def simulate(v):
        ins = [(u, w, o) for u, (w, o, _) in in_e.get(v, {}).items() if u != v]
        outs = [(w_, wt, o) for w_, (wt, o, _) in out_e.get(v, {}).items() if w_ != v]
        shortcuts = _witness_shortcuts(ins, outs, lambda x: (
            (y, w) for y, (w, _, _) in out_e.get(x, {}).items() if y != v))
        eg = len(shortcuts) - len(ins) - len(outs)
        og = sum(s[3] for s in shortcuts) - sum(o for _, _, o in ins) \
            - sum(o for _, _, o in outs)
        prio = depth[v] + 2 * eg + 4 * og
        return prio, shortcuts

    frozen = []
    ranks = {}
    pq = []
    for v in depth:
        p, _ = simulate(v)
        heapq.heappush(pq, (p, (v * HASH_A) % HASH_MOD, v))
    rank = rank_offset
    while pq:
        p0, h, v = heapq.heappop(pq)
        if v in ranks:
            continue
        p, shortcuts = simulate(v)  # lazy recompute
        if pq and (p, h) > (pq[0][0], pq[0][1]):
            heapq.heappush(pq, (p, h, v))
            continue
        ranks[v] = rank
        nbrs = (set(in_e.get(v, {})) | set(out_e.get(v, {}))) - {v}
        for u, (w, o, via) in list(in_e.get(v, {}).items()):
            frozen.append((u, v, w, o, via))
            out_e.get(u, {}).pop(v, None)
        for w_, (wt, o, via) in list(out_e.get(v, {}).items()):
            frozen.append((v, w_, wt, o, via))
            in_e.get(w_, {}).pop(v, None)
        out_e.pop(v, None)
        in_e.pop(v, None)
        for u, w_, sw, so in shortcuts:
            cur = out_e.setdefault(u, {}).get(w_)
            if cur is None or sw < cur[0]:
                out_e.setdefault(u, {})[w_] = (sw, so, v)
                in_e.setdefault(w_, {})[u] = (sw, so, v)
        for n in nbrs:
            depth[n] = max(depth[n], depth[v] + 1)
        rank += 1
    return frozen, ranks


def contract(edges: DataFrame, checkpoint_dir: str | None = None) -> CHResult:
    """Full CH preprocessing: iterative independent-set contraction
    (contraction.ml:557-660) as a checkpointed DataFrame loop, with a
    driver-local finish for the residual core.

    ``edges``: directed (src, dst, weight).  When ``checkpoint_dir`` is
    set, every round writes delta checkpoints to parquet — the frozen
    output edges and new ranks of that round, plus the full (small,
    shrinking) active edge set and node depths — and a later call with
    the same directory resumes from the last complete round (or returns
    the finished result once ``final/ranks``, the last write, is
    complete).  Per-round metrics go to ``metrics.jsonl``.  Deltas keep
    total checkpoint I/O linear in the edge count rather than quadratic
    in rounds.

    Distributed rounds run while the active graph has more than
    ``LOCAL_THRESHOLD`` edges, at most ``MAX_ROUNDS`` of them; the long
    tail (independent sets shrink geometrically, so late rounds touch a
    tiny core) is finished sequentially on the driver — the per-round
    cluster overhead would dominate otherwise.  The finish ranks every
    node left, also one whose edges all froze in a round.  A residual
    core above 16 * ``LOCAL_THRESHOLD`` edges raises ``RuntimeError``
    instead; the checkpointed rounds stay resumable.
    """
    spark = edges.sparkSession
    ckpt = checkpoint_dir.rstrip("/") if checkpoint_dir else None
    log = f"{ckpt}/metrics.jsonl" if ckpt else None
    metrics: list[dict] = []
    frozen_parts: list[DataFrame] = []   # per-round frozen-edge deltas
    rank_parts: list[DataFrame] = []     # per-round rank deltas

    active = (
        # self-loops never lie on a shortest path (non-negative
        # weights) and would let _simulate_group emit shortcuts
        # anchored at the contracted node itself — drop them up front
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst").agg(F.min("weight").alias("weight"))
        .withColumn("orig", F.lit(1))
        .withColumn("via", F.lit(None).cast("long"))
    )
    depths = (
        active.select(F.col("src").alias("node"))
        .unionByName(active.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("depth", F.lit(0).cast("long"))
    )
    start_round = 0
    n_active = None

    if ckpt and R.exists(log):
        lines = [json.loads(x) for x in R.read_text(log).splitlines() if x]
        # final/ranks is the last write: without it, final/edges may be
        # a leftover of a run that died before finishing
        if R.exists(f"{ckpt}/final/ranks/_SUCCESS"):
            return CHResult(
                edges=spark.read.parquet(f"{ckpt}/final/edges"),
                ranks=spark.read.parquet(f"{ckpt}/final/ranks"),
                metrics=lines, rounds=len(lines))
        k = max((m["round"] for m in lines
                 if m.get("complete") and not m.get("local_finish")),
                default=-1)
        # keep the complete rounds only (drops a finish that never
        # reached final/ranks; the finish below logs itself again)
        metrics = [m for m in lines if m["round"] <= k]
        _write_log(log, metrics)
        if metrics:
            active = spark.read.parquet(f"{ckpt}/round={k:04d}/active")
            depths = spark.read.parquet(f"{ckpt}/round={k:04d}/depths")
            for j in range(k + 1):
                frozen_parts.append(
                    spark.read.parquet(f"{ckpt}/round={j:04d}/frozen"))
                rank_parts.append(
                    spark.read.parquet(f"{ckpt}/round={j:04d}/ranks"))
            start_round = k + 1
            n_active = metrics[-1]["active_edges_out"]

    if n_active is None:
        active = active.localCheckpoint()
        n_active = active.count()

    for rnd in range(start_round, MAX_ROUNDS):
        if n_active <= LOCAL_THRESHOLD:
            break
        t0 = time.time()
        nh = _neighbourhoods(active)
        sim = nh.groupBy("v").applyInPandas(_simulate_group, _SIM_SCHEMA)
        prio = (sim.join(depths, "node", "left").fillna({"depth": 0})
                .selectExpr("*", f"{_KEY_SQL} AS key"))
        # independent set: key(v) minimal over its closed 2-hop
        # neighbourhood = the min spread twice over the closed adjacency
        # (each edge both ways plus (v, v); keys are unique)
        adj = active.selectExpr(
            "stack(4, src, dst, dst, src, src, src, dst, dst) AS (v, n)")
        spread = prio.selectExpr("node AS n", "key AS m")
        for _ in range(2):
            spread = adj.join(spread, "n").groupBy("v").agg(
                F.expr("min(m) AS m")).withColumnRenamed("v", "n")
        selected = (
            prio.join(spread.withColumnRenamed("n", "node"), "node")
            .where("NOT deferred AND key = m")
            .select("node", "shortcuts", "depth")
            .localCheckpoint()  # one action: full sim + selection
        )
        # every active edge tagged with its selected endpoint's depth
        # (selected nodes are pairwise non-adjacent: at most one side set)
        tagged = (
            active.join(selected.selectExpr("node AS src", "depth AS d_src"),
                        "src", "left")
            .join(selected.selectExpr("node AS dst", "depth AS d_dst"),
                  "dst", "left")
            .localCheckpoint()
        )
        edge_cols = ("src", "dst", "weight", "orig", "via")
        frozen = tagged.where("d_src IS NOT NULL OR d_dst IS NOT NULL")
        shortcuts = (selected.selectExpr("node AS via", "inline(shortcuts)")
                     .selectExpr("u AS src", "w AS dst", "weight", "orig", "via"))
        active_next = (
            tagged.where("d_src IS NULL AND d_dst IS NULL").select(*edge_cols)
            .unionByName(shortcuts)
            .groupBy("src", "dst")
            .agg(F.expr("min_by(struct(weight, orig, via), weight) AS e"))
            .selectExpr("src", "dst", "e.*")
        )
        # depth(n) = max(depth(n), depth(contracted neighbour)+1)  (X5 update)
        touched = frozen.selectExpr(
            "IF(d_src IS NULL, src, dst) AS node",
            "coalesce(d_src, d_dst) + 1 AS d").groupBy("node").agg(
            F.expr("max(d) AS new_depth"))
        depths_next = (
            depths.join(selected.select("node"), "node", "left_anti")
            .join(touched, "node", "left")
            .selectExpr("node", "greatest(depth, coalesce(new_depth, 0)) AS depth")
        )

        rd = f"{ckpt}/round={rnd:04d}" if ckpt else None
        frozen_parts.append(_persist(frozen.selectExpr(
            *edge_cols, f"CAST({rnd} AS BIGINT) AS rank_src"), rd, "frozen"))
        rank_parts.append(_persist(selected.selectExpr(
            "node", f"CAST({rnd} AS BIGINT) AS rank"), rd, "ranks"))
        active = _persist(active_next, rd, "active")
        depths = _persist(depths_next, rd, "depths")

        n_sel = selected.count()
        n_active_out = active.count()
        m = {
            "round": rnd, "active_edges_in": n_active,
            "active_edges_out": n_active_out,
            "contracted": n_sel,
            "wall_s": round(time.time() - t0, 3),
            "complete": True,
        }
        metrics.append(m)
        if ckpt:
            m["checkpoint_bytes"] = R.tree_bytes(rd)
            _write_log(log, metrics)
        n_active = n_active_out
        if n_sel == 0:
            break

    ranks = spark.createDataFrame([], "node long, rank long")
    for p in rank_parts:
        ranks = ranks.unionByName(p)
    done = spark.createDataFrame(
        [], "src long, dst long, weight double, orig int, via long, rank_src long")
    for p in frozen_parts:
        done = done.unionByName(p)
    done = done.select("src", "dst", "weight", "orig", "via")
    rank_offset = (metrics[-1]["round"] + 1) if metrics else 0

    if n_active > 16 * LOCAL_THRESHOLD:
        # a stalled distributed phase (dense core above
        # MAX_SIM_DEGREE, or MAX_ROUNDS hit) must not dump an
        # unbounded residual graph on the driver
        raise RuntimeError(
            f"distributed contraction stalled with {n_active} active "
            f"edges (> 16 * LOCAL_THRESHOLD={LOCAL_THRESHOLD}); raise "
            "MAX_ROUNDS/LOCAL_THRESHOLD; a call with the same "
            "checkpoint_dir resumes from the last complete round")
    # the live nodes: the active edges' endpoints, and any node whose
    # edges all froze into a contracted neighbour
    t0 = time.time()
    depth_rows = {r.node: r.depth for r in depths.collect()}
    if depth_rows:
        # residual core: sequential CH on the driver (see docstring)
        core_rows = [(r.src, r.dst, r.weight, r.orig, r.via)
                     for r in active.collect()] if n_active else []
        frozen_rows, rank_map = _contract_local(
            core_rows, 1_000_000 + rank_offset, depth_rows)
        local_done = spark.createDataFrame(
            [(s, d, float(w), int(o), None if v is None else int(v))
             for s, d, w, o, v in frozen_rows],
            "src long, dst long, weight double, orig int, via long")
        local_ranks = spark.createDataFrame(
            [(int(n), int(r)) for n, r in rank_map.items()], "node long, rank long")
        done = done.unionByName(local_done)
        ranks = ranks.unionByName(local_ranks)
        m = {"round": rank_offset, "local_finish": True,
             "core_edges": len(core_rows), "core_nodes": len(rank_map),
             "wall_s": round(time.time() - t0, 3), "complete": True}
        metrics.append(m)
        if ckpt:
            _write_log(log, metrics)
    # every active edge is in ``done`` exactly once by now: a round
    # freezes an edge as it drops it from ``active``, the local finish
    # freezes the rest
    out = (
        done.join(ranks.selectExpr("node AS src", "rank AS rank_src"), "src")
        .join(ranks.selectExpr("node AS dst", "rank AS rank_dst"), "dst")
    )
    if ckpt:
        out = _persist(out, f"{ckpt}/final", "edges")
        ranks = _persist(ranks, f"{ckpt}/final", "ranks")
    return CHResult(edges=out, ranks=ranks, metrics=metrics,
                    rounds=len(metrics))


# ---------------------------------------------------------------------------
# X7: bidirectional CH query (driver-side point query + batch mapper)


def _build_upward(rows) -> tuple[dict, dict, dict]:
    """Upward adjacency + best-edge map from CH edge rows
    (src, dst, weight, via, rank_src, rank_dst) — the front half of
    both the point query and the batch mapper."""
    up_fwd: dict[int, list[tuple[int, float]]] = {}
    up_bwd: dict[int, list[tuple[int, float]]] = {}
    edge_map: dict[tuple[int, int], tuple[float, int | None]] = {}
    for src, dst, w, via, r_s, r_d in rows:
        key = (int(src), int(dst))
        if key not in edge_map or w < edge_map[key][0]:
            edge_map[key] = (float(w), None if via is None else int(via))
        if r_d > r_s:
            up_fwd.setdefault(int(src), []).append((int(dst), float(w)))
        if r_s > r_d:
            up_bwd.setdefault(int(dst), []).append((int(src), float(w)))
    return up_fwd, up_bwd, edge_map


def ch_query(ch_edges: list[tuple], s: int, t: int) -> tuple[float, list[int]]:
    """X7 point query: bidirectional upward Dijkstra + recursive
    shortcut expansion.

    ``ch_edges``: rows (src, dst, weight, via, rank_src, rank_dst) from
    ``contract().edges``.  Returns (distance, [s, ..., t]) over ORIGINAL
    graph nodes; (inf, []) if unreachable.  Reference:
    osm/routing.ml:49-79 (search), 92-145 (expansion).
    """
    return _bidir_upward(*_build_upward(ch_edges), int(s), int(t))


def _expand_edge(edge_map: dict, u: int, v: int) -> list[int]:
    """Recursively unpack the CH edge u->v to the real node sequence
    (excluding u).  The reference resolves the middle node by weight
    matching in its CSR arrays (osm/routing.ml:92-134 expand_edge); our
    ``contract`` records it directly in the ``via`` column, so expansion
    is a straight recursion — same output, no weight search needed."""
    _, via = edge_map[(u, v)]
    if via is None or via < 0:
        return [v]
    return _expand_edge(edge_map, u, via) + _expand_edge(edge_map, via, v)


def _bidir_upward(up_fwd: dict, up_bwd: dict, edge_map: dict,
                  s: int, t: int) -> tuple[float, list[int]]:
    """Bidirectional upward Dijkstra (routing.ml:49-79) and the
    original-node path s..t through the meeting node (routing.ml:92-145);
    (inf, []) if unreachable.  Pure-python on purpose — CH search spaces
    are tiny (that is the point of CH), so per-query heap work beats any
    vectorization that would have to ship frontier state."""
    df, pf = _dijkstra(lambda x: up_fwd.get(x, ()), s)
    db, pb = _dijkstra(lambda x: up_bwd.get(x, ()), t)
    best, meet = np.inf, None
    for x, d in df.items():
        if x in db and d + db[x] < best:
            best, meet = d + db[x], x
    if meet is None:
        return float("inf"), []
    hops = []
    x = meet
    while x != s:
        hops.append((pf[x], x))
        x = pf[x]
    hops.reverse()
    x = meet
    while x != t:
        hops.append((x, pb[x]))
        x = pb[x]
    path = [s]
    for u, v in hops:
        path.extend(_expand_edge(edge_map, u, v))
    return float(best), path


_ROUTE_DTYPES = {"src": "int64", "dst": "int64", "seq": "int64",
                 "node": "int64", "dist_r": "float64"}


def ch_batch_routes(pairs: DataFrame, ch_edges: DataFrame) -> DataFrame:
    """X7 at pipeline scale: many (src, dst) queries → the expanded
    original-node path in ONE mapInPandas pass.

    The contracted overlay ships to every executor once (broadcast) —
    the same "CH lives in memory, queries stream" design the reference
    serves point queries from (osm/routing.ml:148-172; README.md:22-24
    sizes the planet overlay for a single machine) — while the QUERY
    side scales out across partitions: 10^9 (page → POI) pairs are
    embarrassingly parallel, zero shuffles, zero joins.

    ``pairs``: (src, dst) rows.  ``ch_edges``: ``contract().edges``
    with (src, dst, weight, via, rank_src, rank_dst).  Output: (src,
    dst, seq, node, dist_r) one row per path hop, dist_r = round(dist,
    6) — the hops of ``ch_query``; unreachable pairs emit no rows.
    """
    rows = ch_edges.select("src", "dst", "weight", "via",
                           "rank_src", "rank_dst").collect()
    bc = pairs.sparkSession.sparkContext.broadcast(_build_upward(rows))

    def fn(batches):
        fwd, bwd, emap = bc.value
        for pdf in batches:
            out = []
            for s, t in zip(pdf["src"], pdf["dst"]):
                d, path = _bidir_upward(fwd, bwd, emap, int(s), int(t))
                out += [(int(s), int(t), i, int(n), round(d, 6))
                        for i, n in enumerate(path)]
            yield pd.DataFrame(out, columns=list(_ROUTE_DTYPES)) \
                .astype(_ROUTE_DTYPES)

    return pairs.select("src", "dst").mapInPandas(
        fn, "src long, dst long, seq long, node long, dist_r double")

"""Routing graph + contraction-hierarchy tests.

The correctness bar (SURVEY.md §5.3): CH query distances equal plain
Dijkstra on the original extracted graph, for sampled source/target
pairs — contraction preserves shortest paths exactly.  Exercised both
through the hybrid path (distributed independent-set rounds + driver
local finish) and the pure-local path.
"""

from __future__ import annotations

import json
import shutil

import numpy as np
import pytest
from kernel_oracles import dijkstra_ref

from osm_spark import fixtures as FX
from osm_spark.operators import routing as RT


@pytest.fixture(scope="module")
def graph(spark):
    nodes, refs = FX.road_network_dfs(spark, grid=6)
    edges = RT.extract_edges(refs, nodes)
    rows = [(r.src, r.dst, r.weight) for r in edges.collect()]
    return edges, rows


def _ch_rows(res):
    return [(r.src, r.dst, r.weight, r.via, r.rank_src, r.rank_dst)
            for r in res.edges.collect()]


def _check_distances(ch_rows, rows, n_sources=5, n_targets=5, seed=7):
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    rng = np.random.RandomState(seed)
    for s in rng.choice(nodes, size=n_sources, replace=False):
        ref = dijkstra_ref(rows, int(s))
        for t in rng.choice(nodes, size=n_targets, replace=False):
            got, _ = RT.ch_query(ch_rows, int(s), int(t))
            want = ref.get(int(t), np.inf)
            assert got == pytest.approx(want, rel=1e-9), (s, t)


def test_extract_edges_shape(graph):
    edges, rows = graph
    assert edges.columns == ["src", "dst", "weight", "length_mm"]
    assert len(rows) > 100
    # one-way ways produce single-direction edges: asymmetric pairs exist
    pairs = {(s, d) for s, d, _ in rows}
    assert [(s, d) for (s, d) in pairs if (d, s) not in pairs]
    assert min(w for _, _, w in rows) > 0


def test_contraction_local_preserves_distances(graph):
    """Pure driver-local CH (graph below threshold from the start)."""
    edges, rows = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    assert res.metrics[-1]["local_finish"]
    _check_distances(_ch_rows(res), rows)


def test_contraction_hybrid_preserves_distances(spark, graph, tmp_path,
                                                monkeypatch):
    """Distributed rounds + local finish, checkpointed."""
    edges, rows = graph
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 120)
    res = RT.contract(edges.select("src", "dst", "weight"),
                      checkpoint_dir=str(tmp_path / "ch"))
    dist_rounds = [m for m in res.metrics if not m.get("local_finish")]
    assert len(dist_rounds) >= 1
    assert all(m["checkpoint_bytes"] > 0 for m in dist_rounds)
    assert res.metrics[-1]["local_finish"]
    ch_rows = _ch_rows(res)
    assert len({(r[0], r[1]) for r in ch_rows}) == len(ch_rows)
    _check_distances(ch_rows, rows, n_sources=4, n_targets=4, seed=11)


def test_rounds_contract_two_hop_independent_sets(spark, tmp_path,
                                                  monkeypatch):
    """X5: no two nodes one distributed round contracts lie within 2
    hops of each other in that round's input graph (the previous
    round's ``active``), read back from the round checkpoints."""
    nodes, refs = FX.road_network_dfs(spark, grid=8)
    edges = RT.extract_edges(refs, nodes).select("src", "dst", "weight")
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 200)
    ck = tmp_path / "ch_indep"
    res = RT.contract(edges, checkpoint_dir=str(ck))
    rounds = [m["round"] for m in res.metrics if not m.get("local_finish")]
    assert len(rounds) >= 2
    graph_in = [(r.src, r.dst) for r in edges.collect() if r.src != r.dst]
    for rnd in rounds:
        nbrs: dict = {}
        for s, d in graph_in:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
        rd = ck / f"round={rnd:04d}"
        chosen = sorted(r.node for r in
                        spark.read.parquet(str(rd / "ranks")).collect())
        assert chosen
        conflicts = [(a, b) for i, a in enumerate(chosen) for b in chosen[i + 1:]
                     if b in nbrs[a] or nbrs[a] & nbrs[b]]
        assert conflicts == [], rnd
        graph_in = [(r.src, r.dst) for r in
                    spark.read.parquet(str(rd / "active")).collect()]


def _check_all_pairs(res, rows):
    """Every (s, t) CH distance equal to the plain Dijkstra's (``inf``
    when t is unreachable), and every node ranked."""
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    ch_rows = _ch_rows(res)
    for s in nodes:
        ref = dijkstra_ref(rows, s)
        for t in nodes:
            assert RT.ch_query(ch_rows, s, t)[0] == pytest.approx(
                ref.get(t, np.inf), rel=1e-9), (s, t)
    assert sorted(r.node for r in res.ranks.collect()) == nodes


def test_two_node_component_ranks_both(spark, monkeypatch):
    """``1 ⇄ 2`` with every edge distributed: round 0 contracts one node
    and freezes both edges, which leaves the other node live with no
    edge.  It still takes a rank (in the driver finish), so the frozen
    edges survive the output's rank joins."""
    rows = [(1, 2, 1.0), (2, 1, 1.0)]
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 0)
    res = RT.contract(spark.createDataFrame(rows, "src long, dst long, weight double"))
    _check_all_pairs(res, rows)
    assert res.metrics[0]["active_edges_out"] == 0
    assert res.metrics[-1]["local_finish"]


def test_node_into_selected_sink_ranked(spark, monkeypatch):
    """3 → 4 ← 5: round 0 contracts the sink 4 (lowest key of its
    2-hop neighbourhood), so 3 and 5 lose their only edges while the
    path 10 ⇄ … ⇄ 15 still has active edges for the driver finish.
    3 and 5 are in no finish edge, yet each takes a rank there."""
    rows = [(3, 4, 2.0), (5, 4, 3.0)] + [
        e for a in range(10, 15) for e in ((a, a + 1, 1.0), (a + 1, a, 1.5))]
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 8)
    res = RT.contract(spark.createDataFrame(rows, "src long, dst long, weight double"))
    _check_all_pairs(res, rows)
    assert {r.node: r.rank for r in res.ranks.collect()}[4] == 0
    assert res.metrics[-1]["local_finish"] and res.metrics[-1]["core_edges"] > 0


def test_contraction_resume(spark, graph, tmp_path, monkeypatch):
    edges, rows = graph
    ck = tmp_path / "ch_resume"
    # an interrupted run: rounds 0-1 reach disk, then the stall guard
    # (residual core above 16 * LOCAL_THRESHOLD) raises
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 0)
    monkeypatch.setattr(RT, "MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="stalled"):
        RT.contract(edges.select("src", "dst", "weight"),
                    checkpoint_dir=str(ck))
    lines = [json.loads(x) for x in
             (ck / "metrics.jsonl").read_text().splitlines()]
    assert [m["round"] for m in lines] == [0, 1]
    assert all(m["complete"] for m in lines)

    # resume from round 2, finish locally; distances still exact
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 120)
    monkeypatch.setattr(RT, "MAX_ROUNDS", 60)
    full = RT.contract(edges.select("src", "dst", "weight"),
                       checkpoint_dir=str(ck))
    assert full.metrics[0]["round"] == 0  # history retained
    assert full.metrics[-1]["local_finish"]
    ch_rows = _ch_rows(full)
    ref = dijkstra_ref(rows, 0)
    for t in (1, 7, 17, 35):
        assert RT.ch_query(ch_rows, 0, t)[0] == pytest.approx(
            ref.get(t, np.inf), rel=1e-9)

    # second resume short-circuits via the final checkpoint
    again = RT.contract(edges.select("src", "dst", "weight"),
                        checkpoint_dir=str(ck))
    assert again.edges.count() == full.edges.count()


def test_resume_redoes_finish_when_final_ranks_lost(graph, tmp_path):
    """``final/ranks`` is written after ``final/edges``: a run that dies
    between the two leaves a checkpoint whose resume must redo the
    finish rather than trust ``final/edges``."""
    edges, rows = graph
    ck = tmp_path / "ch_lost_ranks"
    RT.contract(edges.select("src", "dst", "weight"), checkpoint_dir=str(ck))
    shutil.rmtree(ck / "final" / "ranks")
    res = RT.contract(edges.select("src", "dst", "weight"),
                      checkpoint_dir=str(ck))
    _check_distances(_ch_rows(res), rows, n_sources=3, n_targets=4, seed=5)
    # the lost finish left no second local-finish line behind
    again = RT.contract(edges.select("src", "dst", "weight"),
                        checkpoint_dir=str(ck))
    assert again.metrics == res.metrics


def test_contraction_resume_over_file_uri(graph, tmp_path, monkeypatch):
    """A ``file://`` checkpoint directory is one directory: the rounds,
    ``metrics.jsonl`` and ``final/`` all land under it, the second call
    returns the finished result from ``final/``, and nothing is made
    relative to the working directory."""
    edges, rows = graph
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 120)
    ck = tmp_path / "ch_uri"
    full = RT.contract(edges.select("src", "dst", "weight"),
                       checkpoint_dir=ck.as_uri())
    dist_rounds = [m for m in full.metrics if not m.get("local_finish")]
    assert dist_rounds and all(m["checkpoint_bytes"] > 0 for m in dist_rounds)
    lines = [json.loads(x) for x in
             (ck / "metrics.jsonl").read_text().splitlines()]
    assert lines == full.metrics

    again = RT.contract(edges.select("src", "dst", "weight"),
                        checkpoint_dir=ck.as_uri())
    assert again.metrics == full.metrics
    assert again.edges.inputFiles()
    assert all("/final/edges/" in f for f in again.edges.inputFiles())
    _check_distances(_ch_rows(again), rows, n_sources=3, n_targets=4, seed=3)
    assert list(cwd.iterdir()) == []


def test_contraction_all_ranked_no_equal_rank_edges(graph):
    edges, _ = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    n_nodes = (
        edges.select("src").union(edges.select("dst")).distinct().count()
    )
    assert res.ranks.count() == n_nodes
    assert res.edges.filter("rank_src = rank_dst").count() == 0
    pairs = [(r.src, r.dst) for r in res.edges.select("src", "dst").collect()]
    assert len(set(pairs)) == len(pairs)


def test_hub_node_deferred_to_local_finish(spark, tmp_path, monkeypatch):
    """A node whose degree exceeds MAX_SIM_DEGREE must never be picked by
    a distributed round (witness sim skipped) — it contracts in the local
    finish, and distances stay exact."""
    import itertools

    n_spokes = RT.MAX_SIM_DEGREE + 8
    rows = []
    for i in range(1, n_spokes + 1):
        rows.extend([(0, i, 1.0 + i * 0.01), (i, 0, 1.0 + i * 0.01)])
    for i in range(1, n_spokes):  # rim ring so spokes have alternatives
        rows.extend([(i, i + 1, 0.5), (i + 1, i, 0.5)])
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 40)
    monkeypatch.setattr(RT, "MAX_ROUNDS", 6)
    res = RT.contract(edges, checkpoint_dir=str(tmp_path / "hub"))
    ranks = {r.node: r.rank for r in res.ranks.collect()}
    dist_rounds = [m for m in res.metrics if not m.get("local_finish")]
    # hub 0 was never contracted by a distributed round (rank >= 1e6 means
    # local finish assigned it)
    assert ranks[0] >= 1_000_000
    assert len(dist_rounds) >= 1
    ch_rows = _ch_rows(res)
    plain = [(s, d, w) for s, d, w in rows]
    ref = dijkstra_ref(plain, 5)
    for t in (0, 1, 20, n_spokes):
        assert RT.ch_query(ch_rows, 5, t)[0] == pytest.approx(
            ref.get(t, float("inf")), rel=1e-9)


def test_ch_path_expansion(spark, graph):
    """X7: the expanded node path is a real walk in the ORIGINAL graph
    whose edge weights sum to the exact shortest distance."""
    edges, rows = graph
    ch_rows = _ch_rows(RT.contract(edges.select("src", "dst", "weight")))
    orig = {(s, d): w for s, d, w in rows}
    nodes = sorted({s for s, _, _ in rows})
    rng = np.random.RandomState(11)
    n_checked = 0
    for s in rng.choice(nodes, size=4, replace=False):
        ref = dijkstra_ref(rows, int(s))
        for t in rng.choice(nodes, size=4, replace=False):
            dist, path = RT.ch_query(ch_rows, int(s), int(t))
            want = ref.get(int(t), np.inf)
            assert dist == pytest.approx(want, rel=1e-9), (s, t)
            if not np.isfinite(want):
                assert path == []
                continue
            assert path[0] == s and path[-1] == t
            walk = 0.0
            for u, v in zip(path, path[1:]):
                assert (u, v) in orig, (u, v)  # every hop is an original edge
                walk += orig[(u, v)]
            assert walk == pytest.approx(want, rel=1e-9)
            n_checked += 1
    assert n_checked >= 8


def test_ch_batch_routes_matches_point_queries(spark, graph):
    """X7 batch: the distributed mapInPandas kernel returns the same
    distances and valid optimal walks as the driver-side point query,
    for every (s, t) pair of a scattered batch."""
    edges, rows = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    orig = {(s, d): w for s, d, w in rows}
    nodes = sorted({s for s, _, _ in rows})
    pair_list = [(int(nodes[i]), int(nodes[(i * 5 + 3) % len(nodes)]))
                 for i in range(0, len(nodes), 2)
                 if nodes[i] != nodes[(i * 5 + 3) % len(nodes)]]
    pairs = spark.createDataFrame(pair_list, "src long, dst long") \
        .repartition(4)

    # hops are original edges summing to the exact distance
    out = RT.ch_batch_routes(pairs, res.edges).collect()
    by_pair: dict = {}
    for r in out:
        by_pair.setdefault((r.src, r.dst), []).append(r)
    # exactly the reachable pairs have rows, their distance exact vs
    # plain Dijkstra (unreachable pairs emit no rows)
    want = {(s, t): dijkstra_ref(rows, s).get(t, np.inf) for s, t in pair_list}
    assert set(by_pair) == {p for p, d in want.items() if np.isfinite(d)}
    n_checked = 0
    for (s, t), hops in by_pair.items():
        hops.sort(key=lambda r: r.seq)
        assert hops[0].dist_r == pytest.approx(round(want[(s, t)], 6),
                                               rel=1e-9)
        path = [r.node for r in hops]
        assert path[0] == s and path[-1] == t
        walk = sum(orig[(u, v)] for u, v in zip(path, path[1:]))
        assert walk == pytest.approx(
            dijkstra_ref(rows, s)[t], rel=1e-9)
        assert hops[0].dist_r == pytest.approx(round(walk, 6), rel=1e-9)
        n_checked += 1
    assert n_checked >= len(pair_list) - 2  # all reachable pairs present

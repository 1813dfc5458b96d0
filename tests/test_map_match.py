"""HMM map matching (SURVEY §2.13): the Viterbi DP is verified against an
exponential brute force over ALL state sequences (the definition, not the
implementation), and the distributed operator against a single-process
replica with an independent candidate search (numpy over all edges vs the
cell equi-join)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from trajlib_spark.config import PORTO_GRID
from trajlib_spark.kernels import viterbi as vk
from trajlib_spark.operators import cells, map_match
from trajlib_spark.sources import roads, synth

G = PORTO_GRID


def _local_candidates(pts_xy, edge_xy, max_dist=vk.MAX_DIST_M):
    """Independent brute candidate search: distance to EVERY edge."""
    ce, cd = [], []
    for px, py in pts_xy:
        d = vk.point_segment_dist(
            px, py, edge_xy[:, 0], edge_xy[:, 1], edge_xy[:, 2], edge_xy[:, 3]
        )
        keep = np.flatnonzero(d <= max_dist)
        ce.append(keep.astype(np.int64))
        cd.append(d[keep])
    return ce, cd


def _road_grid(monkeypatch, n):
    """An n × n road grid in place of the N_ROWS × N_COLS default."""
    monkeypatch.setattr(roads, "N_ROWS", n)
    monkeypatch.setattr(roads, "N_COLS", n)


@pytest.mark.parametrize("seed", [0, 3, 11])
def test_viterbi_equals_brute_force(seed, monkeypatch):
    """DP == exhaustive max over all state sequences on a small fixture
    (including chain resets from candidate-less points)."""
    rng = np.random.RandomState(seed)
    _road_grid(monkeypatch, 5)
    node_xy, edge_nodes, edge_xy = roads.road_grid_arrays(G)
    # a walk hugging road edges + one far-away outlier to force a reset
    picks = rng.randint(0, len(edge_xy), size=6)
    t = rng.rand(6)[:, None]
    pts = edge_xy[picks, :2] * (1 - t) + edge_xy[picks, 2:] * t
    pts += rng.randn(6, 2) * 30.0
    pts[3] = [G.x_min - 5e4, G.y_min - 5e4]  # no candidate in range
    ce, cd = _local_candidates(pts, edge_xy)
    # keep the brute force tractable
    ce = [e[:5] for e in ce]
    cd = [d[:5] for d in cd]
    got = vk.viterbi_match(pts, ce, cd, edge_nodes)
    expect = vk.brute_force_match(pts, ce, cd, edge_nodes)
    assert got.tolist() == expect.tolist()
    assert got[3] == -1


def test_transitions_prefer_connected_edges(monkeypatch):
    """Equidistant candidates: the matcher picks the edge CONNECTED to the
    previous state over a disconnected one."""
    _road_grid(monkeypatch, 4)
    node_xy, edge_nodes, edge_xy = roads.road_grid_arrays(G)
    # point 0 exactly on edge 0; point 1 equidistant from edge sharing a
    # node with 0 and from a far-in-index disconnected edge
    e0 = 0
    nbrs = [
        e for e in range(len(edge_nodes))
        if e != e0 and set(edge_nodes[e]) & set(edge_nodes[e0])
    ]
    conn = max(nbrs)  # ascending-order tie-break must NOT be the reason
    disc = next(
        e for e in range(len(edge_nodes))
        if not (set(edge_nodes[e]) & set(edge_nodes[e0])) and e < conn
    )
    pts = np.array([[0.0, 0.0], [0.0, 0.0]])
    ce = [np.array([e0]), np.array(sorted([conn, disc]))]
    cd = [np.array([10.0]), np.array([25.0, 25.0])]
    got = vk.viterbi_match(pts, ce, cd, edge_nodes)
    assert got[1] == conn


def test_distributed_matches_local_replica(spark, points):
    """Operator output == single-process replica (independent candidate
    generation) on sf0.001 trajectories."""
    node_xy, edge_nodes, edge_xy = roads.road_grid_arrays(G)
    edges = roads.road_edges(spark)
    pts = points.where(F.col("traj_id") < 12)
    pc = cells.with_cell(pts, G)
    got = {
        (r.traj_id, r.point_id): r.edge_id
        for r in map_match.match_trajectories(pc, edges, G, edge_nodes).collect()
    }
    pdf = pts.select("traj_id", "point_id", "ts_ms", "x", "y").toPandas()
    expect = {}
    for tid, g in pdf.groupby("traj_id"):
        g = g.sort_values(["ts_ms", "point_id"], kind="mergesort")
        pxy = g[["x", "y"]].to_numpy()
        ce, cd = _local_candidates(pxy, edge_xy)
        matched = vk.viterbi_match(pxy, ce, cd, edge_nodes)
        for pid, e in zip(g["point_id"], matched):
            expect[(tid, pid)] = e
    assert got == expect
    # sanity: the matching is non-trivial (most points matched, >1 edge used)
    vals = [v for v in got.values() if v >= 0]
    assert len(vals) > 0.9 * len(got)
    assert len(set(vals)) > 3


def test_map_match_plan_shape(spark, points):
    """Candidate generation is a broadcast cell equi-join — no cross join
    anywhere in the matcher's plan."""
    _, edge_nodes, _ = roads.road_grid_arrays(G)
    edges = roads.road_edges(spark)
    pc = cells.with_cell(points.where(F.col("traj_id") < 3), G)
    out = map_match.match_trajectories(pc, edges, G, edge_nodes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_edge_connections_join(spark, monkeypatch):
    """Connectivity self-join == the reference's O(n²) definition
    (map_match.py:163-173) on the matched edge set."""
    _road_grid(monkeypatch, 4)
    _, edge_nodes, _ = roads.road_grid_arrays(G)
    edges = roads.road_edges(spark, G)
    matched = spark.createDataFrame(
        [(1, 0, 0), (1, 1, 3), (1, 2, 12), (1, 3, -1)],
        "traj_id long, point_id long, edge_id long",
    )
    got = {
        (r.edge_a, r.edge_b)
        for r in map_match.matched_edge_connections(matched, edges).collect()
    }
    used = [0, 3, 12]
    expect = {
        (a, b)
        for a in used
        for b in used
        if a != b and edge_nodes[a][1] == edge_nodes[b][0]
    }
    assert got == expect

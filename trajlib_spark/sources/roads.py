"""Deterministic synthetic road network over the engine grid — the offline
stand-in for the reference's OSMnx download (/root/reference/trajlib/
data_processing/utils/map_match.py:13-39, a documented non-goal: no network
access or graphml cache here). A jittered Manhattan grid of streets gives
the map-matching operator a connected graph with the same table shape an
imported road network would have.

Layout: ``N_ROWS × N_COLS`` intersections spanning the grid MBR, each
jittered deterministically; every node connects to its right and upper
neighbour. Edge rows carry endpoint coordinates AND endpoint node ids, so
connectivity queries are joins on node id (the reference instead rebuilds
connections with an O(n²) python loop, map_match.py:143-173).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..config import GridConfig, PORTO_GRID

ROAD_SCHEMA = (
    "edge_id long, from_node long, to_node long, "
    "x1 double, y1 double, x2 double, y2 double"
)
N_ROWS = N_COLS = 40  # intersections per grid column / row
JITTER_M = 40.0  # largest per-axis node offset


def road_grid_arrays(
    grid: GridConfig = PORTO_GRID,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(node_xy [n_nodes, 2], edge_nodes [n_edges, 2], edge_xy [n_edges, 4])
    — the single source of truth shared by the Spark table, the golden
    generator, and the tests."""
    n_rows, n_cols, jitter_m = N_ROWS, N_COLS, JITTER_M
    r = np.arange(n_rows)
    c = np.arange(n_cols)
    cc, rr = np.meshgrid(c, r)
    jx = ((rr * 31 + cc * 17) % 21 - 10) / 10.0 * jitter_m
    jy = ((rr * 13 + cc * 41) % 21 - 10) / 10.0 * jitter_m
    dx = (grid.x_max - grid.x_min) / (n_cols - 1)
    dy = (grid.y_max - grid.y_min) / (n_rows - 1)
    xs = grid.x_min + cc * dx + jx
    ys = grid.y_min + rr * dy + jy
    node_xy = np.column_stack([xs.ravel(), ys.ravel()])
    nid = (rr * n_cols + cc).astype(np.int64)
    edges = []
    right = nid[:, :-1].ravel(), nid[:, 1:].ravel()
    up = nid[:-1, :].ravel(), nid[1:, :].ravel()
    for a, b in (right, up):
        edges.append(np.column_stack([a, b]))
    edge_nodes = np.vstack(edges).astype(np.int64)
    edge_xy = np.hstack(
        [node_xy[edge_nodes[:, 0]], node_xy[edge_nodes[:, 1]]]
    )
    return node_xy, edge_nodes, edge_xy


def road_edges(spark: SparkSession, grid: GridConfig = PORTO_GRID) -> DataFrame:
    """Road edge table (edge_id = row index of road_grid_arrays)."""
    _, edge_nodes, edge_xy = road_grid_arrays(grid)
    rows = [
        (int(i), int(fn), int(tn), float(x1), float(y1), float(x2), float(y2))
        for i, ((fn, tn), (x1, y1, x2, y2)) in enumerate(zip(edge_nodes, edge_xy))
    ]
    return spark.createDataFrame(rows, ROAD_SCHEMA)

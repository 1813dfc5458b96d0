"""HMM map matching, Spark-first (SURVEY §2.13; reference:
/root/reference/trajlib/data_processing/utils/map_match.py:176-213 runs
leuvenmapmatching's DistanceMatcher per trajectory and rebuilds edge
connectivity with an O(n²) python loop :143-173).

Plan shape:
- candidate generation is a CELL EQUI-JOIN: every edge registers the grid
  cells its max_dist-halo'd MBR covers (edges ≪ points; the halo fans the
  small side), points join on their cell id, and the exact point-to-
  segment distance is pure Catalyst arithmetic — no pair explosion, no UDF;
- the Viterbi recurrence is inherently sequential per trajectory → one
  grouped Arrow batch per trajectory (applyInPandas), with the edge
  topology broadcast as numpy arrays;
- edge connectivity (the reference's quadratic loop) is a self-join of the
  matched-state set on node id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import GridConfig
from ..kernels import viterbi as vk


def edge_covering_cells(edges: DataFrame, grid: GridConfig) -> DataFrame:
    """(edge_id, cx, cy): COARSE candidate cells (side = halo_m =
    ``viterbi.MAX_DIST_M``, decoupled from the analytics grid) covering
    each edge's MBR grown by one cell — a point within halo_m of the edge
    always lands in one of them, at ~10 cover rows per edge instead of ~80
    on the fine grid."""
    halo_m = vk.MAX_DIST_M
    d = edges.select(
        "edge_id",
        # ±1 covers the halo: a point passing the (float) d ≤ halo_m filter
        # lies within halo_m(1 + ~1e-13) of the edge MBR on each axis, and
        # floor((a + h)/h) = floor(a/h) + 1 exactly, so its coarse cell is
        # at most one off the edge's floored MBR range. Round 9: was ±2
        # ("one ring of float slack"), which is only reachable when a
        # coordinate/h ratio sits within ~1e-13 of an integer — candidate
        # sets diffed IDENTICAL at sf0.01 and sf1.0 (count+hash+dist sums)
        # while the ±2 ring added ~2.3x join probe rows.
        (F.floor(F.least("x1", "x2") / F.lit(halo_m)) - 1).alias("ix_lo"),
        (F.floor(F.greatest("x1", "x2") / F.lit(halo_m)) + 1).alias("ix_hi"),
        (F.floor(F.least("y1", "y2") / F.lit(halo_m)) - 1).alias("iy_lo"),
        (F.floor(F.greatest("y1", "y2") / F.lit(halo_m)) + 1).alias("iy_hi"),
    )
    d = d.select(
        "edge_id", F.explode(F.sequence("ix_lo", "ix_hi")).alias("cx"), "iy_lo", "iy_hi"
    ).select("edge_id", "cx", F.explode(F.sequence("iy_lo", "iy_hi")).alias("cy"))
    return d


def candidate_edges(
    points_cells: DataFrame, edges: DataFrame, grid: GridConfig
) -> DataFrame:
    """(traj_id, point_id, ts_ms, x, y, edge_id, dist) for every edge within
    max_dist = ``viterbi.MAX_DIST_M`` of the point, via the coarse-cell
    equi-join + exact Catalyst point-to-segment distance."""
    max_dist = vk.MAX_DIST_M
    cov = edge_covering_cells(edges, grid)
    geom = edges.select("edge_id", "x1", "y1", "x2", "y2")
    cand = (
        points_cells.select(
            "traj_id", "point_id", "ts_ms", "x", "y",
            F.floor(F.col("x") / F.lit(max_dist)).alias("cx"),
            F.floor(F.col("y") / F.lit(max_dist)).alias("cy"),
        )
        .join(F.broadcast(cov), ["cx", "cy"])
        .join(F.broadcast(geom), "edge_id")
    )
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    l2 = dx * dx + dy * dy
    t_raw = F.when(
        l2 > 0, ((F.col("x") - F.col("x1")) * dx + (F.col("y") - F.col("y1")) * dy) / l2
    ).otherwise(F.lit(0.0))
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
    ex = F.col("x1") + t * dx - F.col("x")
    ey = F.col("y1") + t * dy - F.col("y")
    dist = F.sqrt(ex * ex + ey * ey)
    return (
        cand.withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(max_dist))
        .select("traj_id", "point_id", "ts_ms", "x", "y", "edge_id", "dist")
    )


def match_trajectories(
    points_cells: DataFrame,
    edges: DataFrame,
    grid: GridConfig,
    edge_nodes: np.ndarray,
) -> DataFrame:
    """→ (traj_id, point_id, edge_id) matched edge per point (−1 where no
    edge is within ``viterbi.MAX_DIST_M``). edge_nodes is the broadcast
    [n_edges, 2] topology array (roads.road_grid_arrays)."""
    cand = candidate_edges(points_cells, edges, grid)
    # every point must reach the kernel, including candidate-less ones
    # (they reset the chain). Round 9: UNION one null-edge row per point
    # instead of left-joining candidates back onto the points — the join
    # hash-shuffled both the candidate table and the base twice for the
    # same grouping the kernel re-establishes anyway. The kernel's NaN
    # mask drops the extra null row for points that do have candidates,
    # and a candidate-less point keeps exactly its chain-reset row, so the
    # per-point candidate sets are unchanged (A/B identical at sf1.0).
    base = points_cells.select(
        "traj_id", "point_id", "ts_ms", "x", "y",
        F.lit(None).cast("long").alias("edge_id"),
        F.lit(None).cast("double").alias("dist"),
    )
    full = cand.select(
        "traj_id", "point_id", "ts_ms", "x", "y", "edge_id", "dist"
    ).unionAll(base)
    # per-TRAJECTORY python kernel: respread explicitly — AQE coalesces the
    # few-MB candidate table onto 1-2 partitions and would serialize the
    # Viterbi groups (same trap as segment.py's TRACLUS stage)
    full = full.repartition(
        full.sparkSession.sparkContext.defaultParallelism, "traj_id"
    )

    topo = edge_nodes  # captured → serialized once per executor

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # numpy group building (no per-point pandas .loc): rows sorted by
        # (ts_ms, point_id, edge_id), point boundaries from the sorted ids
        pdf = pdf.sort_values(
            ["ts_ms", "point_id", "edge_id"], kind="mergesort"
        )
        pid = pdf["point_id"].to_numpy()
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        eid = pdf["edge_id"].to_numpy(dtype=np.float64, na_value=np.nan)
        dist = pdf["dist"].to_numpy(dtype=np.float64, na_value=np.nan)
        starts = np.flatnonzero(np.r_[True, pid[1:] != pid[:-1]])
        bounds = np.r_[starts, len(pid)]
        pts, ce, cd = [], [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            pts.append((xs[s], ys[s]))
            block = eid[s:e]
            m = ~np.isnan(block)
            ce.append(block[m].astype(np.int64))
            cd.append(dist[s:e][m])
        matched = vk.viterbi_match(np.asarray(pts), ce, cd, topo)
        return pd.DataFrame(
            {
                "traj_id": pdf["traj_id"].iat[0],
                "point_id": pid[starts].astype(np.int64),
                "edge_id": matched,
            }
        )

    return full.groupBy("traj_id").applyInPandas(
        run, "traj_id long, point_id long, edge_id long"
    )


def matched_edge_connections(matched: DataFrame, edges: DataFrame) -> DataFrame:
    """Connectivity among the DISTINCT matched edges: (edge_a, edge_b)
    where a's end node is b's start node — the reference's O(n²) loop
    (map_match.py:163-173) as a node-id self-join."""
    used = (
        matched.where(F.col("edge_id") >= 0)
        .select("edge_id").distinct()
        .join(F.broadcast(edges.select("edge_id", "from_node", "to_node")), "edge_id")
    )
    a = used.select(F.col("edge_id").alias("edge_a"), F.col("to_node").alias("node"))
    b = used.select(F.col("edge_id").alias("edge_b"), F.col("from_node").alias("node"))
    return (
        a.join(b, "node")
        .where(F.col("edge_a") != F.col("edge_b"))
        .select("edge_a", "edge_b")
    )

"""Exact kNN joins by ring expansion over the clamp-to-edge cell grid.

``ring_topk`` is the one exact top-k loop of the engine: ``knn_join``
runs it over points with squared Euclidean distance, and the grid path
of ``similarity.measure_topk`` over polyline anchors with a trajectory
measure. Plan (survey §4.2 / north-rule "kNN via H3 k-ring expansion with
a distance-bounded refine pass"):

1. Both sides are indexed by their clamp-to-edge cell (``cells.edge_idx``):
   a coordinate is clamped onto the grid's MBR before it is binned, and
   projection onto the MBR never lengthens a distance. So a db row whose
   cell lies outside a query's Chebyshev window of radius R is more than
   R·unit away from the query, for every input, on or off the grid.
2. Each query fans out to the cells of its R-window clipped to the grid
   (two explode(sequence(...)) — linear codegen, no giant case trees) and
   equi-joins the db rows on cell id (hash join; AQE skew-join splits hot
   cells). The caller's scorer scores the candidates, and ``rank_topk``
   keeps the top k per query by (dist, neighbor_id), a deterministic
   total order.
3. **Certificate**: a query with k candidates whose kth distance is below
   the caller's ``bound(R)`` — the least distance a row outside the
   window can have — is exact and leaves. The rest re-fan at 4R, 16R, …
   until the window covers the grid, where every candidate set is the
   whole db. No cross join is ever planned.

Top-k semantics mirror the reference's bounded min-heap kNN
(/root/reference/fedtraj/model/trainer/fed_trainer.py:437-443); the k-ring
primitive generalizes neighbour_cellids
(/root/reference/fedtraj/utils/cellspace.py:55-67).

Scale: candidate volume ≈ queries × (2R+1)² × density-per-cell. For points,
R is chosen from the measured density so the expected candidate count per
query is a small multiple of k.
"""

from __future__ import annotations

import math
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import GridConfig
from . import cells

# ring radius factor between rounds; every factor gives exact results, a
# larger one fewer rounds (Spark jobs) for more candidates in the last
_GROWTH = 4
# pick_ring_radius' inflation of the density estimate
_SAFETY = 1.6


def pick_ring_radius(n_points: int, grid: GridConfig, k: int) -> int:
    """Radius R (in cells) such that the expected k-th neighbor falls inside
    the window: solve π r² λ = k for r with λ = points per m², inflate by
    ``_SAFETY``, convert to cells."""
    area = (grid.x_max - grid.x_min) * (grid.y_max - grid.y_min)
    lam = max(n_points, 1) / area
    r_m = math.sqrt((k + 1) / (math.pi * lam)) * _SAFETY
    r_cells = int(math.ceil(r_m / min(grid.x_unit, grid.y_unit)))
    return max(1, min(r_cells, 24))


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The rows of ``scored`` (query_id, neighbor_id, dist, …) ranked
    1..k per query by (dist, neighbor_id), as a ``rank`` column."""
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ring_pairs(queries: DataFrame, db: DataFrame, grid: GridConfig, r: int) -> DataFrame:
    """Every (query, db row) pair whose clamp-to-edge cells are within
    Chebyshev distance ``r``, self-pairs excluded → the columns of both
    sides. ``queries`` carry (query_id, qx, qy, …), ``db``
    (neighbor_id, nx, ny, …)."""
    q_ix, q_iy = cells.edge_idx(F.col("qx"), F.col("qy"), grid)
    n_ix, n_iy = cells.edge_idx(F.col("nx"), F.col("ny"), grid)

    def window(i: Column, size: int) -> Column:
        return F.explode(F.sequence(F.greatest(i - r, F.lit(0)), F.least(i + r, F.lit(size - 1))))

    fan = (
        queries.withColumn("_cx", window(q_ix, grid.x_size))
        .withColumn("_cy", window(q_iy, grid.y_size))
        .withColumn("cell_id", cells.cell_id_from_idx(F.col("_cx"), F.col("_cy"), grid))
        .drop("_cx", "_cy")
    )
    db_cells = db.withColumn("cell_id", cells.cell_id_from_idx(n_ix, n_iy, grid))
    return (
        fan.join(db_cells, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .drop("cell_id")
    )


def ring_topk(
    queries: DataFrame,
    db: DataFrame,
    grid: GridConfig,
    k: int,
    r0: int,
    score: Callable[[DataFrame], DataFrame],
    bound: Callable[[int], Column],
) -> DataFrame:
    """Exact top-k neighbors of every query → (query_id, neighbor_id,
    dist, rank), by ring expansion from radius ``r0``.

    ``score`` maps ``ring_pairs`` rows to (query_id, neighbor_id, dist).
    ``bound(r)`` is a column over the query's columns: a distance every db
    row outside its r-window scores at least, given that such a row is
    more than r·unit away. A query is certified when its kth distance is
    strictly below it — a row just outside could tie the kth distance and
    win the (dist, neighbor_id) tiebreak."""
    cover = max(grid.x_size, grid.y_size)  # window ⊇ grid from any cell
    remaining, results, r = queries, [], min(r0, cover)
    wq = Window.partitionBy("query_id")
    while True:
        ranked = rank_topk(score(ring_pairs(remaining, db, grid, r)), k)
        if r >= cover:
            results.append(ranked)
            break
        # The candidate join runs once per round: the certificate is a
        # flag on the top-k rows, computed over the top-k's own
        # partitioning inside a lazy local checkpoint (the ContextCleaner
        # frees it once the result is unreachable), and both this round's
        # exact rows and the next round's queries read it.
        bounds = remaining.select("query_id", bound(r).alias("_bound"))
        flagged = ranked.join(F.broadcast(bounds), "query_id").withColumn(
            "_exact",
            (F.count(F.lit(1)).over(wq) == k) & (F.max("dist").over(wq) < F.col("_bound")),
        ).localCheckpoint(eager=False)
        exact = flagged.where("_exact")
        results.append(exact.drop("_bound", "_exact"))
        remaining = remaining.join(
            F.broadcast(exact.where(F.col("rank") == 1).select("query_id")),
            "query_id", "left_anti",
        ).localCheckpoint(eager=False)
        if remaining.isEmpty():
            break
        r = min(_GROWTH * r, cover)
    return reduce(DataFrame.unionAll, results)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    grid: GridConfig,
    k: int,
) -> DataFrame:
    """→ (query_id, neighbor_id, dist_sq, rank): each query's k nearest
    other points by (point_id, x, y), exact for every input
    (``ring_topk`` from the radius ``pick_ring_radius`` picks from the
    point density)."""
    ring = pick_ring_radius(points.count(), grid, k)
    db = points.select(
        F.col("point_id").alias("neighbor_id"), F.col("x").alias("nx"), F.col("y").alias("ny")
    )
    q = queries.select(
        F.col("point_id").alias("query_id"), F.col("x").alias("qx"), F.col("y").alias("qy")
    )
    dist_sq = (F.col("nx") - F.col("qx")) ** 2 + (F.col("ny") - F.col("qy")) ** 2
    unit = min(grid.x_unit, grid.y_unit)
    out = ring_topk(
        q, db, grid, k, ring,
        score=lambda pairs: pairs.select("query_id", "neighbor_id", dist_sq.alias("dist")),
        bound=lambda r: F.lit(float(r * unit) ** 2),
    )
    return out.withColumnRenamed("dist", "dist_sq")

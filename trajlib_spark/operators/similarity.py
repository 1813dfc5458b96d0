"""Pairwise trajectory similarity as a pair-table join + Arrow-batched DP
kernels — the scalable replacement for the reference's dense N² matrix with
a multiprocessing pool (/root/reference/fedtraj/utils/
preprocessing_porto.py:269-322).

Plan shape:
- build the slim (i, j) pair table with ``a.id < b.id`` (upper triangle
  only, the reference's halving trick as a join condition; at scale,
  block the pair space by a coarse cell prefix so only
  spatially-plausible pairs join);
- score it with ``pairs.score_pairs``, which brings each pair its two
  polylines and evaluates the kernels per Arrow batch (never a dense
  matrix — the pair table is the output).

Every pair scorer — multi_measure_join, the grid-ring and ε-match
measure_topk paths and the broadcast scan ``_brute_topk`` — runs the same
kernel, ``_measure_scorer``; each caller only builds its slim pair table.

Polylines are (traj_id, xs, ys) rows; ``collect_polylines`` builds them
from (traj_id, ts_ms, point_id, x, y) points.

Normalization matches the reference: per-axis population-σ z-score over
ALL points of the dataset (preprocessing_porto.py:232-252 — numpy std is
population σ, hence stddev_pop) before LCSS/EDR with ε = 0.25
(/root/reference/fedtraj/config.py:75).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LCSS_EDR_EPS
from ..kernels import dp_distances as dpk
from .knn import rank_topk, ring_topk
from .pairs import score_pairs


def collect_polylines(points: DataFrame) -> DataFrame:
    """(traj_id, xs array<double>, ys array<double>) in (ts_ms, point_id)
    order — one shuffle; the sort happens inside the agg via sort_array
    over (order, coords) structs so no grouped-map UDF is needed."""
    skey = F.struct(F.col("ts_ms"), F.col("point_id"),
                    F.col("x").alias("_x"), F.col("y").alias("_y"))
    return (
        points.groupBy("traj_id")
        .agg(F.sort_array(F.collect_list(skey)).alias("_pts"))
        .select(
            "traj_id",
            F.transform("_pts", lambda s: s["_x"]).alias("xs"),
            F.transform("_pts", lambda s: s["_y"]).alias("ys"),
        )
    )


def normalize_polylines(
    polys: DataFrame, out_cols: tuple[str, str] = ("xs", "ys")
) -> DataFrame:
    """Global per-axis z-score with population σ over every point.

    With the default ``out_cols`` the raw arrays are replaced; pass e.g.
    ``("xs_n", "ys_n")`` to keep the raw polylines alongside the
    normalized ones (the multi-measure join feeds ε-match kernels the
    normalized space and metric kernels the raw space from ONE table)."""
    stats = (
        polys.select(F.explode("xs").alias("vx"))
        .agg(F.avg("vx").alias("mx"), F.stddev_pop("vx").alias("sx"))
        .collect()[0]
    )
    stats_y = (
        polys.select(F.explode("ys").alias("vy"))
        .agg(F.avg("vy").alias("my"), F.stddev_pop("vy").alias("sy"))
        .collect()[0]
    )
    mx, sx, my, sy = stats.mx, stats.sx, stats_y.my, stats_y.sy
    keep = [c for c in polys.columns if c not in out_cols]
    return polys.select(
        *keep,
        F.transform("xs", lambda v: (v - F.lit(mx)) / F.lit(sx)).alias(out_cols[0]),
        F.transform("ys", lambda v: (v - F.lit(my)) / F.lit(sy)).alias(out_cols[1]),
    )


def pair_table(ids: DataFrame, block_col: str | None = None) -> DataFrame:
    """Upper-triangular (i, j) pairs of ``traj_id``; optionally blocked so
    only rows sharing ``block_col`` pair up (the federation / cell-block
    bound that keeps the pair count quadratic-in-shard instead of
    quadratic-in-N)."""
    a = ids.select(F.col("traj_id").alias("i"), *( [F.col(block_col)] if block_col else [] ))
    b = ids.select(F.col("traj_id").alias("j"), *( [F.col(block_col).alias("_bj")] if block_col else [] ))
    if block_col:
        joined = a.join(b, F.col(block_col) == F.col("_bj")).drop("_bj")
    else:
        joined = a.crossJoin(b)
    return joined.where(F.col("i") < F.col("j"))


def _per_pair(kern: Callable) -> Callable:
    """Batch form of a per-pair kernel over (t1, t2) point arrays."""
    def batch(xi, yi, xj, yj, eps) -> np.ndarray:
        return np.array([
            kern(np.column_stack([a, b]), np.column_stack([c, d]))
            for a, b, c, d in zip(xi, yi, xj, yj)
        ], dtype=np.float64)
    return batch


# measure → batch kernel (xi, yi, xj, yj, eps) → [P] distances over one
# Arrow batch's object arrays of per-pair coordinate arrays
_KERNELS: dict[str, Callable] = {
    "lcss": dpk.lcss_distances,
    "edr": dpk.edr_distances,
    "edwp": _per_pair(dpk.edwp_distance_vec),
    "frechet": _per_pair(dpk.discrete_frechet),
    "hausdorff": _per_pair(dpk.hausdorff_distance),
}


def _measure_scorer(
    left: DataFrame,
    right: DataFrame,
    key: str,
    measures: dict[str, tuple[str, float]],
    coord_cols: dict[str, tuple[str, str]] | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """The one kernel every pair scorer runs, as a ``pairs.score_pairs``
    over the polyline payloads ``left`` / ``right`` keyed by ``key``: one
    double column per entry of ``measures`` (out_col → (measure_name,
    eps)), read from the coordinate columns ``coord_cols`` names for it
    (default ("xs", "ys")). Measure names are checked while the plan is
    built, not inside a Python worker at action time."""
    coord_cols = coord_cols or {}
    for out, (m, _e) in measures.items():
        if m not in _KERNELS:
            raise ValueError(
                f"unknown measure {m!r} for {out!r}; one of {sorted(_KERNELS)}"
            )
    specs = [
        (out, _KERNELS[m], eps, coord_cols.get(out, ("xs", "ys")))
        for out, (m, eps) in measures.items()
    ]

    def kernel(ii: np.ndarray, jj: np.ndarray, payload_of) -> pd.DataFrame:
        out = {"i": ii, "j": jj}
        for name, kern, eps, (xc, yc) in specs:
            out[name] = kern(
                payload_of("i", xc), payload_of("i", yc),
                payload_of("j", xc), payload_of("j", yc), eps,
            )
        return pd.DataFrame(out)

    return score_pairs(
        left, right, key, kernel, ", ".join(f"{name} double" for name in measures)
    )


def multi_measure_join(
    polys: DataFrame,
    measures: dict[str, tuple[str, float]],
    coord_cols: dict[str, tuple[str, str]] | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """All requested measures for every upper-triangular pair of
    ``pair_table`` in ONE pass → (i, j, <out>...).

    The reference evaluates each measure in a separate full sweep over the
    pair space (one preprocessing run per config, /root/reference/fedtraj/
    utils/preprocessing_porto.py:269-322); here the pair table is built,
    shuffled, and polyline-joined ONCE, and a single Arrow batch pass runs
    every kernel per pair — at 100 TB that divides the dominant cost (the
    polyline attach + the pair shuffle) by the number of measures.

    ``measures``: out_col → (measure_name, eps).  ``coord_cols``:
    out_col → (xs_col, ys_col) when a measure reads a different coordinate
    space (e.g. z-scored arrays for LCSS/EDR, raw for Fréchet/Hausdorff);
    defaults to ("xs", "ys")."""
    coord_cols = coord_cols or {}
    arr_cols = sorted({c for out in measures for c in coord_cols.get(out, ("xs", "ys"))})
    pairs = pair_table(polys.select("traj_id", *( [block_col] if block_col else [] )),
                       block_col)
    payload = polys.select("traj_id", *arr_cols)
    return _measure_scorer(payload, payload, "traj_id", measures, coord_cols)(pairs)


def _traj_anchor(polys: DataFrame, id_alias: str) -> DataFrame:
    """(id, xs, ys, _ax, _ay, radius): anchor = MBR center, radius = max
    point distance to the anchor — all Catalyst array arithmetic, one pass
    over the nested polyline. An empty polyline anchors at the origin with
    radius 0: on the ε-match path it stays a candidate of every other
    empty polyline, which EDR scores 0.0; the metric measures score it inf
    against anything, above every ring bound."""
    ax = F.coalesce((F.array_min("xs") + F.array_max("xs")) / 2, F.lit(0.0))
    ay = F.coalesce((F.array_min("ys") + F.array_max("ys")) / 2, F.lit(0.0))
    d = polys.select(F.col("traj_id").alias(id_alias), "xs", "ys").withColumns(
        {"_ax": ax, "_ay": ay}
    )
    radius = F.sqrt(
        F.array_max(
            F.zip_with(
                "xs", "ys",
                lambda px, py: (px - F.col("_ax")) * (px - F.col("_ax"))
                + (py - F.col("_ay")) * (py - F.col("_ay")),
            )
        )
    )
    return d.withColumn("radius", F.coalesce(radius, F.lit(0.0)))


def _anchored(db_polys, query_polys, q_radius):
    """(db anchors "j", query anchors "i", max db radius, ``q_radius`` of
    the query radii). Both anchor tables are lazy local checkpoints that
    ONE scalar job (a side-tagged union agg reading both radii) fills, so
    every later plan reads their blocks, and the ContextCleaner frees them
    once the result is unreachable. An empty side gives None (float(None)
    would crash; the NULL aggregate doubles as the emptiness probe)."""
    db_a = _traj_anchor(db_polys, "j").localCheckpoint(eager=False)
    q_a = _traj_anchor(query_polys, "i").localCheckpoint(eager=False)
    rd, rq = (
        db_a.select(F.lit(True).alias("_d"), "radius")
        .unionByName(q_a.select(F.lit(False).alias("_d"), "radius"))
        .agg(F.max(F.when(F.col("_d"), F.col("radius"))),
             q_radius(F.when(~F.col("_d"), F.col("radius"))))
        .collect()[0]
    )
    if rd is None or rq is None:
        return None
    return db_a, q_a, float(rd), float(rq)


def _neighbor_scorer(
    queries: DataFrame, db: DataFrame, measure: str
) -> Callable[[DataFrame], DataFrame]:
    """(i, j) → (query_id, neighbor_id, dist), the polylines of query "i"
    and db "j" rows as the payloads."""
    score = _measure_scorer(
        queries.select(F.col("i").alias("id"), "xs", "ys"),
        db.select(F.col("j").alias("id"), "xs", "ys"),
        "id", {"dist": (measure, LCSS_EDR_EPS)},
    )
    return lambda pairs: score(pairs).withColumnsRenamed(
        {"i": "query_id", "j": "neighbor_id"})


def _no_neighbors(db_polys: DataFrame) -> DataFrame:
    t = dict(db_polys.dtypes)["traj_id"]
    return db_polys.sparkSession.createDataFrame(
        [], f"query_id {t}, neighbor_id {t}, dist double"
    )


# Measures bounded below by the set-to-set minimum distance, which the
# anchor/radius ring bound prunes exactly: for any pair outside ring R,
# measure ≥ minDist(sets) ≥ d(anchors) − r_q − r_d > R·min_unit − r_q − r_d.
# EDwP qualifies too (round 3): every DP term is (d₁ + d₂)·cov where both
# distances connect points ON the two polylines (vertices or clamped
# projections — within the vertex radius by convexity of distance-to-
# anchor along a segment) and the coverages of a complete alignment tile
# both trajectories (Σcov = 1), so EDwP ≥ 2·minDist(sets) ≥ minDist(sets)
# (empirically the 2× factor is tight over random pairs).
_METRIC_MEASURES = frozenset({"frechet", "hausdorff", "edwp"})

# Measures whose per-point match predicate is Chebyshev-ε (|dx|<ε ∧ |dy|<ε,
# dp_distances.lcss_distance): a pair with NO matching point pair scores
# EXACTLY 1.0 (LCSS: LCS length 0 → 1 − 0/min = 1; EDR: all-miss
# Levenshtein → max(m,n)/max(m,n) = 1), so candidates are exactly the
# pairs whose anchors are within ε√2 + r_q + r_d — everything else can be
# synthesized as dist = 1.0 without running the kernel.
_EPS_MATCH_MEASURES = frozenset({"lcss", "edr"})


def _lcss_edr_topk(
    db_polys: DataFrame,
    query_polys: DataFrame,
    measure: str,
    k: int,
) -> DataFrame:
    """Exact top-k for the ε-match measures WITHOUT a full-corpus scan.

    Candidates: in the (z-scored) coordinate space each trajectory gets an
    anchor (MBR center) and a radius; db anchors land in one δ-cell each,
    query anchors fan a Chebyshev ring sized to cover ε√2 + r_q + max(r_db),
    and the candidate pairs come from the cell equi-join. Every other pair
    has no matching point pair and scores exactly 1.0.

    The 1.0 tail: let s be the number of a query q's candidates scoring
    < 1.0 (its strict ids). If s ≥ k no 1.0 row enters its top-k; else the
    top-k is those s rows, then the k − s smallest ids of db ∖ strict ∖ {q}
    at 1.0 (a candidate scoring exactly 1.0 ties a non-candidate). P, the
    k+1 smallest db ids, minus strict and q keeps ≥ k − s ids and is a
    prefix of that set in id order, so the fillers q × (P ∖ {q}) at 1.0
    hold the tail whatever the candidate counts. The scored rows and the
    fillers are unioned keeping the min dist per pair (LCSS and EDR are
    ≤ 1.0, so a scored row wins over its filler).

    The plan is lazy and has no cross join: the fan, the candidate join
    and the fillers are equi-joins (P is ranked by a window over its ≤ k+1
    rows and broadcast on the rank). The only actions in the call are the
    anchors' radius aggregate and ``score_pairs``' gate and lookup."""
    from pyspark.sql import Window

    sqrt2 = 2.0 ** 0.5
    eps = LCSS_EDR_EPS
    anchored = _anchored(db_polys, query_polys, F.max)
    if anchored is None:
        return rank_topk(_no_neighbors(db_polys), k)
    db_a, q_a, r_dmax, r_qmax = anchored
    match_r = eps * sqrt2
    # δ trades ring size (query fan-out) against cell occupancy; ~6 rings
    # keeps the fan ≤ ~13², and a larger δ only ADDS candidates (exactness
    # never depends on δ)
    delta = max(eps, (match_r + r_qmax + r_dmax) / 6.0)
    fx, fy = F.floor(F.col("_ax") / delta), F.floor(F.col("_ay") / delta)
    db_cells = db_a.select("j", fx.alias("cx"), fy.alias("cy"))
    # ring covers d₂(anchors) < ε√2 + r_q + r_dmax: Chebyshev cell distance
    # ≤ d₂/δ + 1, hence ceil(T/δ) + 1 rings suffice
    ring = F.ceil(
        (F.lit(match_r + r_dmax) + F.col("radius")) / F.lit(delta)
    ).cast("int") + F.lit(1)
    span = F.sequence(-F.col("_ring"), F.col("_ring"))
    fan = (
        q_a.select("i", "_ax", "_ay", ring.alias("_ring"))
        .withColumn("dx", F.explode(span)).withColumn("dy", F.explode(span))
        .select("i", (fx + F.col("dx")).alias("cx"), (fy + F.col("dy")).alias("cy"))
    )
    cand = fan.join(db_cells, ["cx", "cy"]).where(F.col("i") != F.col("j")).select("i", "j")
    # the candidate join moves slim (i, j) rows; the scorer brings the polylines
    scored = _neighbor_scorer(q_a, db_a, measure)(cand)

    prefix = (
        db_a.select("j").orderBy("j").limit(k + 1)
        .withColumn("_r", F.row_number().over(Window.orderBy("j")))
    )
    fillers = (
        q_a.select(F.col("i").alias("query_id"),
                   F.explode(F.sequence(F.lit(1), F.lit(k + 1))).alias("_r"))
        .join(F.broadcast(prefix), "_r")
        .where(F.col("query_id") != F.col("j"))
        .select("query_id", F.col("j").alias("neighbor_id"), F.lit(1.0).alias("dist"))
    )
    best = scored.unionByName(fillers).groupBy("query_id", "neighbor_id").agg(
        F.min("dist").alias("dist"))
    return rank_topk(best, k)


def _brute_topk(
    db_polys: DataFrame, query_polys: DataFrame, measure: str, k: int
) -> DataFrame:
    """The broadcast query × db scan: every pair scored, then ranked — the
    reference path the pruned ``measure_topk`` paths are tested against."""
    q = query_polys.select(F.col("traj_id").alias("i"), "xs", "ys")
    db = db_polys.select(F.col("traj_id").alias("j"), "xs", "ys")
    score = _neighbor_scorer(q, db, measure)
    pairs = F.broadcast(q.select("i")).crossJoin(db.select("j"))
    return rank_topk(score(pairs.where(F.col("i") != F.col("j"))), k)


def measure_topk(
    db_polys: DataFrame,
    query_polys: DataFrame,
    measure: str,
    k: int,
    grid=None,
    ring: int | None = None,
) -> DataFrame:
    """kNN by a true trajectory measure (the reference's knn-by-EDwP/LCSS,
    /root/reference/fedtraj/model/trainer/fed_trainer.py:445-452) →
    (query_id, neighbor_id, rank, dist).

    With ``grid`` and a metric measure (``_METRIC_MEASURES``): exact
    grid-pruned path, ``knn.ring_topk`` over the trajectories' anchors
    (MBR centers). A db trajectory whose anchor is outside a query's
    R-window is more than R·min_unit from its anchor, so it scores more
    than R·min_unit − max_db_radius − r_q; a query whose kth distance is
    below that is exact, and the rest re-fan at growing rings until the
    ring covers the grid — never a cross join against the full corpus
    (the reference instead caps its db at 10 000, fed_trainer.py:447).

    ε-match measures (normalized LCSS / EDR): exact cell-blocked path.
    Only anchor-cell candidates are scored; every other pair scores
    exactly 1.0, so the tail comes from the k+1 smallest db ids, which
    always hold the 1.0 rows a query's top-k can need (see
    _lcss_edr_topk). A metric measure without ``grid`` runs the broadcast
    query × db scan, ``_brute_topk``. ε is ``config.LCSS_EDR_EPS``."""
    if measure in _EPS_MATCH_MEASURES:
        return _lcss_edr_topk(db_polys, query_polys, measure, k)

    if grid is None or measure not in _METRIC_MEASURES:
        return _brute_topk(db_polys, query_polys, measure, k)

    anchored = _anchored(db_polys, query_polys, F.min)
    if anchored is None:
        return rank_topk(_no_neighbors(db_polys), k)
    db_a, q_a, r_dmax, r_qmin = anchored
    # one scorer for every round: the polylines are gated (and broadcast)
    # once, not once per ring
    score = _neighbor_scorer(q_a, db_a, measure)
    min_unit = min(grid.x_unit, grid.y_unit)
    # smallest ring whose bound CAN be positive: below it every round's
    # kernel work is wasted (whole-extent trajectories degrade gracefully
    # to one full equi-join round — still never a cross join)
    r_floor = int(math.ceil((r_dmax + r_qmin) / min_unit)) + 1
    # the ring fans SLIM rows (ids and anchors): the scorer brings the
    # polylines, so the arrays are never replicated (2r+1)² times
    return ring_topk(
        q_a.select(F.col("i").alias("query_id"), F.col("_ax").alias("qx"),
                   F.col("_ay").alias("qy"), F.col("radius").alias("r_q")),
        db_a.select(F.col("j").alias("neighbor_id"), F.col("_ax").alias("nx"),
                    F.col("_ay").alias("ny")),
        grid, k, max(ring or 4, r_floor),
        score=lambda pairs: score(pairs.select(
            F.col("query_id").alias("i"), F.col("neighbor_id").alias("j"))),
        bound=lambda r: F.lit(float(r * min_unit) - r_dmax) - F.col("r_q"),
    )


def symmetrize_normalize(dists: DataFrame) -> DataFrame:
    """(S + Sᵀ) / max — union the mirrored pairs and scale by the global
    max distance (/root/reference/fedtraj/model/trainer/
    simi_trainer.py:197-200; max over splits preprocessing_porto.py:219-221).
    An empty table gives an empty table; a zero max gives numpy's
    ``S / 0.0`` (NaN for 0/0), with ANSI mode on or off."""
    # mirror via explode, not union — the union's branches each re-ran the
    # upstream distance pipeline in one job (round 9, guide §2.4)
    both = (
        dists.select(
            F.explode(F.array(
                F.struct(F.col("i"), F.col("j"), F.col("dist")),
                F.struct(F.col("j").alias("i"), F.col("i").alias("j"), F.col("dist")),
            )).alias("_e")
        )
        .select("_e.i", "_e.j", "_e.dist")
        .localCheckpoint(eager=False)
    )  # the max agg and the normalized output share one pass, and the
    # ContextCleaner frees the blocks once the result is unreachable
    mx = both.agg(F.max("dist")).collect()[0][0]
    if mx is None:  # no rows
        return both.withColumn("dist", F.col("dist").cast("double"))
    if mx == 0:
        # x / 0.0 as numpy divides: NaN for 0 (0·inf), -inf below; Spark's
        # `/` raises DIVIDE_BY_ZERO under ANSI and gives NULL without it
        return both.withColumn("dist", F.col("dist") * F.lit(math.inf))
    return both.withColumn("dist", F.col("dist") / F.lit(float(mx)))


def rank_metric(dists_qd: DataFrame, query: str = "i", target_dist: str = "self_dist") -> DataFrame:
    """Mean rank of the true match per query: count of db distances ≤ the
    query's own-pair distance (/root/reference/fedtraj/model/trainer/
    fed_trainer.py:343-347)."""
    return dists_qd.groupBy(query).agg(
        F.sum(F.when(F.col("dist") <= F.col(target_dist), 1).otherwise(0)).alias("rank")
    )

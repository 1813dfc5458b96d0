"""Distance-based HMM map matching (Viterbi), numpy.

Semantics follow the published Newson–Krumm distance formulation in the
same family as the reference's leuvenmapmatching DistanceMatcher
(/root/reference/trajlib/data_processing/utils/map_match.py:186-198:
obs_noise 50, max_dist 300 — DistanceMatcher scores by distances, not
route lengths), re-specified exactly so two independent implementations
can agree bit-for-bit:

- states per observation: road edges whose point-to-segment distance is
  ≤ ``max_dist``;
- emission log-score: −d²/(2·obs_noise²);
- transition log-score: 0 for staying on the same edge, LOG_CONNECTED for
  moving to an edge sharing a node (either endpoint), LOG_JUMP otherwise
  (the analog of leuven's non-emitting escape);
- observations with no candidate get state −1 and RESET the chain (the
  min_prob_norm cutoff analog);
- ties broken toward the lowest candidate index at every argmax.

Exactness oracle: tests brute-force max over ALL state sequences on small
fixtures and require equality, so the DP is verified against the
definition, not against itself.
"""

from __future__ import annotations

import math

import numpy as np

OBS_NOISE_M = 50.0
MAX_DIST_M = 300.0
LOG_CONNECTED = math.log(0.5)
LOG_JUMP = math.log(1e-4)


def point_segment_dist(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Vectorized point-to-segment distance (clamped projection)."""
    dx = x2 - x1
    dy = y2 - y1
    l2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / l2
    t = np.clip(np.where(l2 == 0.0, 0.0, t), 0.0, 1.0)
    ex = x1 + t * dx - px
    ey = y1 + t * dy - py
    return np.sqrt(ex * ex + ey * ey)


def _trans_matrix(prev_e: np.ndarray, cur_e: np.ndarray, edge_nodes: np.ndarray) -> np.ndarray:
    """[len(prev), len(cur)] transition log-scores."""
    pf = edge_nodes[prev_e]  # (P, 2)
    cf = edge_nodes[cur_e]  # (C, 2)
    same = prev_e[:, None] == cur_e[None, :]
    shares = np.zeros(same.shape, dtype=bool)
    for a in range(2):
        for b in range(2):
            shares |= pf[:, None, a] == cf[None, :, b]
    out = np.full(same.shape, LOG_JUMP)
    out[shares] = LOG_CONNECTED
    out[same] = 0.0
    return out


def viterbi_match(
    pts_xy: np.ndarray,
    cand_edges: list[np.ndarray],
    cand_dists: list[np.ndarray],
    edge_nodes: np.ndarray,
) -> np.ndarray:
    """Matched edge id per point (−1 where no candidate). ``cand_edges``
    must be ascending per point (tie-break contract)."""
    n = len(pts_xy)
    out = np.full(n, -1, dtype=np.int64)
    inv2s2 = 1.0 / (2.0 * OBS_NOISE_M * OBS_NOISE_M)
    seg_start = None
    score = None
    back: list[np.ndarray] = []
    seg_points: list[int] = []

    def flush(last_idx_scores):
        if seg_start is None:
            return
        best = int(np.argmax(last_idx_scores))  # first max wins = lowest idx
        path = [best]
        for bk in reversed(back):
            path.append(int(bk[path[-1]]))
        path.reverse()
        for p, choice in zip(seg_points, path):
            out[p] = cand_edges[p][choice]

    for i in range(n):
        ce, cd = cand_edges[i], cand_dists[i]
        if len(ce) == 0:
            flush(score)
            seg_start, score, back, seg_points = None, None, [], []
            continue
        emit = -(cd * cd) * inv2s2
        if seg_start is None:
            seg_start = i
            score = emit
            back = []
            seg_points = [i]
            continue
        trans = _trans_matrix(cand_edges[seg_points[-1]], ce, edge_nodes)
        total = score[:, None] + trans
        bk = np.argmax(total, axis=0)  # first max = lowest prev index
        score = total[bk, np.arange(len(ce))] + emit
        back.append(bk)
        seg_points.append(i)
    flush(score)
    return out


def brute_force_match(
    pts_xy: np.ndarray,
    cand_edges: list[np.ndarray],
    cand_dists: list[np.ndarray],
    edge_nodes: np.ndarray,
) -> np.ndarray:
    """Exponential-time reference: enumerate every state sequence per
    no-candidate-separated segment and take the max. Exact score ties
    resolve toward the COLEX-smallest index sequence (compare from the
    LAST position backward) — the order the DP's tie-breaks induce: the
    final argmax fixes the lowest last index first, then each backpointer
    fixes the lowest previous index given the chosen suffix. Test oracle
    only."""
    from itertools import product

    n = len(pts_xy)
    out = np.full(n, -1, dtype=np.int64)
    inv2s2 = 1.0 / (2.0 * OBS_NOISE_M * OBS_NOISE_M)
    seg: list[int] = []

    def flush():
        if not seg:
            return
        best_score, best_path, best_key = -np.inf, None, None
        for path in product(*[range(len(cand_edges[p])) for p in seg]):
            s = 0.0
            for k, p in enumerate(seg):
                d = cand_dists[p][path[k]]
                s += -(d * d) * inv2s2
                if k:
                    prev = cand_edges[seg[k - 1]][path[k - 1]]
                    cur = cand_edges[p][path[k]]
                    if prev == cur:
                        pass
                    elif set(edge_nodes[prev]) & set(edge_nodes[cur]):
                        s += LOG_CONNECTED
                    else:
                        s += LOG_JUMP
            key = tuple(reversed(path))
            if s > best_score or (s == best_score and key < best_key):
                best_score, best_path, best_key = s, path, key
        for k, p in enumerate(seg):
            out[p] = cand_edges[p][best_path[k]]

    for i in range(n):
        if len(cand_edges[i]) == 0:
            flush()
            seg = []
        else:
            seg.append(i)
    flush()
    return out

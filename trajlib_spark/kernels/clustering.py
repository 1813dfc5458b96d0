"""Clustering kernels: DBSCAN over a precomputed distance matrix (sklearn
label semantics), the reference's combined segment distance, the greedy
federated centroid merge, and silhouette scoring.

Reference semantics (/root/reference/clustering.py):
- combined distance d = d1 + d2 + d3 (:77-83, α = β = γ = 1) with
  d1 = endpoint distance sum, d2 = |sin Δangle|·max(len), d3 = L2 on
  embeddings (:57-74)
- DBSCAN(eps=1000, min_samples=2, metric='precomputed') (:98-122)
- greedy merge: all centroid pairs sorted ascending by distance, merge
  disjoint pairs with d < eps, single pass (:125-144)
- silhouette over the merged labeling (:202-220)
"""

from __future__ import annotations

import math

import numpy as np


# --- segment distances ------------------------------------------------------

def segment_distance_matrix(
    starts: np.ndarray,
    ends: np.ndarray,
    embs: np.ndarray,
) -> np.ndarray:
    """Dense combined distance for ONE shard's segments (shards are small by
    construction — the federation bound; clustering.py:98-107 vectorized)."""
    d1 = (
        np.hypot(starts[:, None, 0] - starts[None, :, 0], starts[:, None, 1] - starts[None, :, 1])
        + np.hypot(ends[:, None, 0] - ends[None, :, 0], ends[:, None, 1] - ends[None, :, 1])
    )
    ang = np.arctan2(ends[:, 1] - starts[:, 1], ends[:, 0] - starts[:, 0])
    diff = np.abs(ang[:, None] - ang[None, :])
    diff = np.where(diff > np.pi, 2 * np.pi - diff, diff)
    seg_len = np.hypot(ends[:, 0] - starts[:, 0], ends[:, 1] - starts[:, 1])
    d2 = np.abs(np.sin(diff)) * np.maximum(seg_len[:, None], seg_len[None, :])
    de = embs[:, None, :] - embs[None, :, :]
    d3 = np.sqrt((de * de).sum(axis=2))
    out = d1 + d2 + d3
    np.fill_diagonal(out, 0.0)
    return out


# --- DBSCAN (precomputed) ----------------------------------------------------

def dbscan_precomputed(dist: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Labels array, -1 = noise. Matches sklearn's DBSCAN on a precomputed
    matrix: closed ball (<= eps), neighborhoods include self, clusters
    numbered in first-core-point scan order, border points claimed by the
    first cluster to reach them."""
    n = len(dist)
    neigh = [np.flatnonzero(dist[i] <= eps) for i in range(n)]
    core = np.array([len(nb) >= min_samples for nb in neigh])
    labels = np.full(n, -1, dtype=np.int64)
    cid = 0
    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        labels[i] = cid
        stack = list(neigh[i])
        while stack:
            j = stack.pop()
            if labels[j] == -1:
                labels[j] = cid
                if core[j]:
                    stack.extend(neigh[j])
        cid += 1
    return labels


# --- greedy merge ------------------------------------------------------------

def greedy_merge(centroids: list[tuple[float, float]], eps: float) -> list[list[int]]:
    """Single-pass greedy disjoint merge of cluster indices
    (clustering.py:125-144). Input order = the reference's union order
    (federation order, then local label order). Pairs are enumerated (i, j)
    i<j and stably sorted by centroid distance; each input cluster merges at
    most once. Returns the surviving groups in the reference's final list
    order: unmerged singletons first (original order), then merged pairs in
    merge order."""
    n = len(centroids)
    pairs = []
    for i in range(n):
        for j in range(i + 1, n):
            d = math.dist(centroids[i], centroids[j])
            pairs.append((i, j, d))
    pairs.sort(key=lambda t: t[2])  # stable, like list.sort in the reference
    merged = [False] * n
    groups: list[list[int]] = [[i] for i in range(n)]
    appended: list[list[int]] = []
    taken = [False] * n
    for i, j, d in pairs:
        if not merged[i] and not merged[j] and d < eps:
            merged[i] = merged[j] = True
            taken[i] = taken[j] = True
            appended.append([i, j])
    remaining = [[i] for i in range(n) if not taken[i]]
    return remaining + appended


def silhouette_from_matrix(dist: np.ndarray, labels: np.ndarray) -> float:
    """Mean silhouette coefficient over all samples, precomputed metric
    (sklearn semantics; clusters of size 1 score 0)."""
    labels = np.asarray(labels)
    uniq = np.unique(labels)
    n = len(labels)
    sil = np.zeros(n)
    for idx in range(n):
        own = labels[idx]
        own_mask = labels == own
        n_own = own_mask.sum()
        if n_own <= 1:
            sil[idx] = 0.0
            continue
        a = dist[idx][own_mask].sum() / (n_own - 1)
        b = math.inf
        for other in uniq:
            if other == own:
                continue
            om = labels == other
            b = min(b, dist[idx][om].mean())
        sil[idx] = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
    return float(sil.mean())

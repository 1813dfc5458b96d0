"""Polyline augmentation operators over nested (xs, ys) polyline columns.

Registry mirrors get_aug_fn (/root/reference/trajlib/utils/
functions.py:234-255; param-bound copies /root/reference/fedtraj/utils/
traj.py:15-114). Deterministic ops are pure Catalyst array expressions;
stochastic ops run in an Arrow UDF with a numpy Generator seeded per row
from xxhash64(traj_id, salt) — deterministic across task retries and
parallelism, unlike the reference's global RNG.

- time_shift: p_i ← ¾·p_i + ¼·p_{i+1}, drops last (functions.py:109-126)
- scaling: shrink toward the chord midpoint by rate (functions.py:129-151)
- translate: rigid shift by a random (cos θ, sin θ)·d, d < CELL_SIZE — an
  ``apply_stochastic`` op (functions.py:92-107)
- shift: truncated-Gaussian jitter per coordinate (μ0 σ0.5 ×100 bounds ±100,
  tool_funcs.py:36-43; functions.py:39-54)
- mask: delete ⌊l·ratio⌋ random points (functions.py:57-71)
- subset: random contiguous window of ⌊l·ratio⌋ (functions.py:74-89)
- simplify: RDP(ε=100) — see operators.segment
- splicing: prepend/append 10% random-walk points (functions.py:191-231)
- down_sampling: drop non-turning points, keep w.p. 0.7 (functions.py:154-188)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import CELL_SIZE
from ..kernels.rdp import rdp_mask



# --- deterministic (pure Catalyst) ------------------------------------------

def time_shift(xs: Column, ys: Column) -> tuple[Column, Column]:
    def blend(arr: Column) -> Column:
        n = F.size(arr)
        head = F.slice(arr, 1, n - 1)
        tail = F.slice(arr, 2, n - 1)
        return F.zip_with(head, tail, lambda a, b: a * F.lit(0.75) + b * F.lit(0.25))
    return blend(xs), blend(ys)


def scaling(xs: Column, ys: Column, rate: float) -> tuple[Column, Column]:
    def scale(arr: Column) -> Column:
        mid = (F.element_at(arr, 1) * F.lit(0.5) + F.element_at(arr, -1) * F.lit(0.5))
        return F.transform(arr, lambda v: v * F.lit(rate) + mid * F.lit(1.0 - rate))
    return scale(xs), scale(ys)


# --- seeded stochastic (Arrow UDF) -------------------------------------------

def _rng_for(traj_id: str, salt: int) -> np.random.Generator:
    import zlib
    seed = zlib.crc32(f"{traj_id}|{salt}".encode()) & 0xFFFFFFFF
    return np.random.default_rng(seed)


def _truncated_rand(rng: np.random.Generator, mu=0.0, sigma=0.5, factor=100.0,
                    lo=-100.0, hi=100.0) -> float:
    while True:
        n = rng.normal(mu, sigma) * factor
        if lo <= n <= hi:
            return n


MASK_RATIO = 0.3  # share of points "mask" deletes
SUBSET_RATIO = 0.7  # share of points "subset" keeps


def apply_stochastic(
    polys: DataFrame,
    op: str,
    salt: int = 0,
    rate: float = 0.0,
) -> DataFrame:
    """Apply a seeded stochastic augmentation to (traj_id, xs, ys) rows.

    ``newsimi_downsample`` / ``newsimi_distort`` are the reference's
    newsimi test-set variants (preprocessing_porto.py:120-178): keep
    ceil(len·(1−rate)) random sorted points / shift each point w.p. ``rate``
    by a truncated-gaussian offset. The reference consumes one global
    unseeded stream; the engine uses a per-trajectory seeded stream (the
    distributable design) with the same per-trajectory logic."""
    mask_ratio, subset_ratio = MASK_RATIO, SUBSET_RATIO

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_x, out_y = [], []
            for tid, xs, ys in zip(pdf["traj_id"], pdf["xs"], pdf["ys"]):
                rng = _rng_for(str(tid), salt)
                pts = np.column_stack([np.asarray(xs), np.asarray(ys)])
                l = len(pts)
                if op == "shift":
                    pts = pts + np.array(
                        [[_truncated_rand(rng), _truncated_rand(rng)] for _ in range(l)]
                    )
                elif op == "mask":
                    drop = rng.choice(l, int(l * mask_ratio), replace=False)
                    pts = np.delete(pts, drop, axis=0)
                elif op == "subset":
                    keep = int(l * subset_ratio)
                    start = int(rng.integers(0, l - keep + 1)) if l > keep else 0
                    pts = pts[start : start + keep]
                elif op == "translate":
                    ang = rng.uniform(0, 2 * np.pi)
                    d = rng.uniform(0, CELL_SIZE)
                    pts = pts + np.array([np.cos(ang) * d, np.sin(ang) * d])
                elif op == "scaling":
                    s_rate = rng.uniform(0.7, 1.0)
                    mid = pts[0] * 0.5 + pts[-1] * 0.5
                    pts = pts * s_rate + mid * (1 - s_rate)
                elif op == "down_sampling":
                    keep_rows = []
                    for i in range(l):
                        if 0 < i < l - 1:
                            v1 = pts[i] - pts[i - 1]
                            v2 = pts[i] - pts[i + 1]
                            n1, n2 = np.linalg.norm(v1), np.linalg.norm(v2)
                            ang = np.pi if (n1 == 0 or n2 == 0) else np.arccos(
                                np.clip(v1 @ v2 / (n1 * n2), -1.0, 1.0)
                            )
                            if ang <= np.pi / 2:
                                continue
                        if rng.random() < 0.7:
                            keep_rows.append(i)
                    pts = pts[keep_rows] if keep_rows else pts[:0]
                elif op == "splicing":
                    k = int(l * 0.1)
                    head, tail = [], []
                    cur = pts[0]
                    for _ in range(k):
                        cur = cur + np.array([_truncated_rand(rng), _truncated_rand(rng)])
                        head.append(cur)
                    head.reverse()
                    cur = pts[-1]
                    for _ in range(k):
                        cur = cur + np.array([_truncated_rand(rng), _truncated_rand(rng)])
                        tail.append(cur)
                    pts = np.vstack([head, pts, tail]) if k else pts
                elif op == "newsimi_downsample":
                    import math as _math

                    keep = _math.ceil(l * (1.0 - rate))
                    idx = np.sort(rng.choice(l, keep, replace=False))
                    pts = pts[idx]
                elif op == "newsimi_distort":
                    pts = pts.copy()
                    for i in range(l):
                        if rng.random() < rate:
                            pts[i] = pts[i] + np.array(
                                [_truncated_rand(rng), _truncated_rand(rng)]
                            )
                elif op == "simplify":
                    pts = pts[rdp_mask(pts, 100.0)]
                elif op == "straight":
                    pass
                else:
                    raise ValueError(f"unknown augmentation {op!r}")
                out_x.append(pts[:, 0].tolist() if len(pts) else [])
                out_y.append(pts[:, 1].tolist() if len(pts) else [])
            yield pd.DataFrame(
                {"traj_id": pdf["traj_id"], "xs": out_x, "ys": out_y}
            )

    tid_type = dict(polys.dtypes)["traj_id"]  # preserve the caller's id type
    return polys.select("traj_id", "xs", "ys").mapInPandas(
        run, f"traj_id {tid_type}, xs array<double>, ys array<double>"
    )

"""Kernel tests against golden outputs captured from the reference
implementation (cut indices / distances recorded from
/root/reference/fedtraj/utils/trajclus.py, /root/reference/trajlib/utils/
edwp.py and rdp.py on fixed seeded random walks), plus property tests.
"""

from __future__ import annotations

import math
from unittest import mock

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from trajlib_spark.kernels import clustering as ck
from trajlib_spark.kernels import dp_distances as dpk
from trajlib_spark.kernels.rdp import rdp, rdp_mask
from trajlib_spark.kernels.traclus import cut_segments, traclus_mask


def walk(seed: int, n: int, scale: float = 50.0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.cumsum(rng.normal(0, scale, (n, 2)), axis=0).round(6)


GOLDEN_TRACLUS = {
    (1, 12): [0, 3, 6, 9, 11],
    (2, 30): [0, 3, 6, 9, 12, 15, 18, 21, 24, 27, 29],
    (3, 55): [0, 3, 6, 9, 12, 15, 18, 21, 24, 27, 30, 33, 36, 39, 42, 45, 48, 51, 54],
    (4, 7): [0, 3, 6],
    (5, 90): [0, 3, 6, 9, 12, 15, 18, 21, 24, 27, 30, 33, 36, 39, 42, 45, 48,
              51, 54, 57, 60, 63, 66, 69, 72, 75, 78, 81, 84, 87, 89],
}
GOLDEN_EDWP = {(10, 11, 8, 9): 387.722663244, (12, 13, 15, 6): 561.863351912}
GOLDEN_RDP = {(20, 25, 60.0): 8, (21, 40, 100.0): 6}


@pytest.mark.parametrize("seed,n", sorted(GOLDEN_TRACLUS))
def test_traclus_matches_reference_goldens(seed, n):
    mask = traclus_mask(walk(seed, n))
    assert np.flatnonzero(mask).tolist() == GOLDEN_TRACLUS[(seed, n)]


def test_traclus_collinear_never_cuts():
    t = np.column_stack([np.arange(20.0), np.arange(20.0) * 2.0])
    assert np.flatnonzero(traclus_mask(t)).tolist() == [0, 19]


def test_traclus_edge_sizes():
    assert traclus_mask(np.zeros((0, 2))).tolist() == []
    assert traclus_mask(np.array([[1.0, 2.0]])).tolist() == [True]
    assert traclus_mask(np.array([[1.0, 2.0], [3.0, 4.0]])).tolist() == [True, True]


def test_cut_segments_overlap_and_cover():
    mask = np.zeros(10, dtype=bool)
    mask[[0, 4, 9]] = True
    assert cut_segments(mask) == [(0, 4), (4, 9)]
    assert cut_segments(np.zeros(5, dtype=bool)) == [(0, 4)]
    single = np.zeros(1, dtype=bool); single[0] = True
    assert cut_segments(single) == []


@pytest.mark.parametrize("key,val", sorted(GOLDEN_EDWP.items()))
def test_edwp_matches_reference_goldens(key, val):
    sa, sb, na, nb = key
    d = dpk.edwp_distance(walk(sa, na), walk(sb, nb))
    assert d == pytest.approx(val, abs=1e-6)


@pytest.mark.parametrize("key,val", sorted(GOLDEN_RDP.items()))
def test_rdp_matches_reference_goldens(key, val):
    seed, n, eps = key
    assert len(rdp(walk(seed, int(n)), eps)) == val


@given(st.integers(0, 10_000), st.integers(2, 40))
@settings(max_examples=30, deadline=None)
def test_rdp_properties(seed, n):
    t = walk(seed, n)
    mask = rdp_mask(t, 75.0)
    assert mask[0] and mask[-1]
    # eps=0 keeps everything off the chord
    assert rdp_mask(t, 0.0).sum() >= mask.sum()


@given(st.integers(0, 10_000), st.integers(1, 12), st.integers(1, 12))
@settings(max_examples=25, deadline=None)
def test_distance_kernel_properties(seed, na, nb):
    a, b = walk(seed, na), walk(seed + 1, nb)
    for fn in (dpk.discrete_frechet, dpk.hausdorff_distance):
        d_ab, d_ba = fn(a, b), fn(b, a)
        assert d_ab == pytest.approx(d_ba, rel=1e-12)
        assert d_ab >= 0
        assert fn(a, a) == pytest.approx(0.0, abs=1e-12)
    assert dpk.lcss_distance(a, a, 0.25) == 0.0
    assert dpk.edr_distance(a, a, 0.25) == 0.0
    assert 0.0 <= dpk.lcss_distance(a, b, 0.25) <= 1.0
    assert 0.0 <= dpk.edr_distance(a, b, 0.25) <= 1.0
    if na > 1 and nb > 1:
        assert dpk.edwp_distance(a, a) == pytest.approx(0.0, abs=1e-9)


def test_dbscan_semantics():
    # two tight groups + one noise point; eps=1, min_samples=2
    pts = np.array([[0, 0], [0.5, 0], [0.6, 0.1], [10, 10], [10.4, 10], [50, 50]])
    d = np.sqrt(((pts[:, None] - pts[None, :]) ** 2).sum(-1))
    labels = ck.dbscan_precomputed(d, eps=1.0, min_samples=2)
    assert labels.tolist() == [0, 0, 0, 1, 1, -1]


def test_dbscan_border_claimed_by_first_cluster():
    # chain where middle point is within eps of both clusters but not core
    d = np.array([
        [0.0, 0.5, 2.0, 9.0],
        [0.5, 0.0, 1.0, 9.0],
        [2.0, 1.0, 0.0, 1.0],
        [9.0, 9.0, 1.0, 0.0],
    ])
    labels = ck.dbscan_precomputed(d, eps=1.0, min_samples=2)
    assert labels[0] == labels[1] == 0
    assert labels[2] in (0, 1)


def test_greedy_merge_semantics():
    # reference clustering.py:125-144: closest disjoint pairs merge once
    cents = [(0.0, 0.0), (1.0, 0.0), (1.5, 0.0), (100.0, 0.0)]
    groups = ck.greedy_merge(cents, eps=3.0)
    # closest pair (1, 2) merges; 0 would pair with 1 but 1 is taken; 3 far
    assert [0] in groups and [3] in groups and [1, 2] in groups
    assert len(groups) == 3
    # merged pairs appended after surviving singletons (reference order)
    assert groups[-1] == [1, 2]


def test_silhouette_matches_naive():
    pts = np.array([[0, 0], [0.1, 0], [5, 5], [5.2, 5.1]])
    d = np.sqrt(((pts[:, None] - pts[None, :]) ** 2).sum(-1))
    labels = np.array([0, 0, 1, 1])
    s = ck.silhouette_from_matrix(d, labels)
    # hand computation
    expected = []
    for i in range(4):
        own = [j for j in range(4) if labels[j] == labels[i] and j != i]
        oth = [j for j in range(4) if labels[j] != labels[i]]
        a = np.mean([d[i, j] for j in own])
        b = np.mean([d[i, j] for j in oth])
        expected.append((b - a) / max(a, b))
    assert s == pytest.approx(np.mean(expected), rel=1e-12)


def test_segment_distance_matrix_matches_reference_formulas():
    starts = np.array([[0.0, 0.0], [3.0, 1.0]])
    ends = np.array([[2.0, 2.0], [5.0, 0.0]])
    embs = np.array([[1.0, 0.0], [0.0, 2.0]])
    m = ck.segment_distance_matrix(starts, ends, embs)
    d1 = math.dist(starts[0], starts[1]) + math.dist(ends[0], ends[1])
    a1 = math.atan2(2, 2)
    a2 = math.atan2(-1, 2)
    diff = abs(a1 - a2)
    d2 = abs(math.sin(diff)) * max(math.dist(starts[0], ends[0]), math.dist(starts[1], ends[1]))
    d3 = math.sqrt(1 + 4)
    assert m[0, 1] == pytest.approx(d1 + d2 + d3, rel=1e-12)
    assert m[0, 1] == m[1, 0]
    assert m[0, 0] == 0.0


@given(st.integers(0, 5_000), st.integers(2, 25), st.integers(2, 25))
@settings(max_examples=25, deadline=None)
def test_edwp_vectorized_bitwise_equal(seed, na, nb):
    a, b = walk(seed, na), walk(seed + 7, nb)
    assert dpk.edwp_distance_vec(a, b) == dpk.edwp_distance(a, b)


@pytest.mark.parametrize("seed", range(8))
def test_parallel_distance_matches_reference_formula(seed):
    """trajclus.py:52-72 semantics, verified against an independent inline
    implementation of the reference's vector algebra."""
    from trajlib_spark.kernels.traclus import parallel_distance

    rng = np.random.default_rng(seed)
    for _ in range(50):
        l1 = rng.normal(size=(2, 2)) * 100
        l2 = rng.normal(size=(2, 2)) * 100

        def proj(point, line):
            lv = line[1] - line[0]
            l2_ = lv @ lv
            if l2_ == 0:
                return line[0]
            return line[0] + ((point - line[0]) @ lv / l2_) * lv

        def eu(a, b):
            return float(np.sqrt(((a - b) ** 2).sum()))

        short, longer = (l1, l2) if eu(l1[0], l1[1]) < eu(l2[0], l2[1]) else (l2, l1)
        ps, pe = proj(short[0], longer), proj(short[1], longer)
        expect = min(
            min(eu(longer[0], ps), eu(longer[1], ps)),
            min(eu(longer[0], pe), eu(longer[1], pe)),
        )
        assert parallel_distance(l1, l2) == pytest.approx(expect, rel=1e-12)


# --- LCSS / EDR batch kernels ----------------------------------------------

def _ragged_batch(seed: int, lens: list[tuple[int, int]]):
    """Object arrays (xi, yi, xj, yj) of per-pair coordinate arrays, as an
    Arrow batch hands them to the kernels."""
    rng = np.random.default_rng(seed)
    cols = [np.empty(len(lens), dtype=object) for _ in range(4)]
    for p, (n, m) in enumerate(lens):
        a = (rng.random((n, 2)) - 0.5) * 3
        b = (rng.random((m, 2)) - 0.5) * 3
        cols[0][p], cols[1][p] = a[:, 0].copy(), a[:, 1].copy()
        cols[2][p], cols[3][p] = b[:, 0].copy(), b[:, 1].copy()
    return cols


_LEN = st.one_of(st.sampled_from([0, 1]), st.integers(2, 24), st.integers(129, 140))


@given(
    st.integers(0, 2**32 - 1),
    st.lists(st.tuples(_LEN, _LEN), min_size=0, max_size=10),
    st.sampled_from([0.1, 0.25, 0.5]),
    st.sampled_from([None, 300, 3_000]),
)
@example(0, [(130, 131)] * 64, 0.25, None)  # > _CHUNK_CELLS: two chunks
@settings(max_examples=30, deadline=None)
def test_lcss_edr_batch_kernels_equal_scalar(seed, lens, eps, chunk_cells):
    """lcss_distances / edr_distances pad each chunk of a ragged batch to
    its own max (n, m) and run the DP across the pair axis; every value
    must equal the scalar kernel bit for bit, empty sides included. A
    small chunk bound splits the batch into many chunks."""
    xi, yi, xj, yj = _ragged_batch(seed, lens)
    with mock.patch.object(dpk, "_CHUNK_CELLS", chunk_cells or dpk._CHUNK_CELLS):
        lc = dpk.lcss_distances(xi, yi, xj, yj, eps)
        ed = dpk.edr_distances(xi, yi, xj, yj, eps)
    assert lc.dtype == ed.dtype == np.float64 and lc.shape == ed.shape == (len(lens),)
    for p in range(len(lens)):
        t1 = np.column_stack([xi[p], yi[p]]).reshape(-1, 2)
        t2 = np.column_stack([xj[p], yj[p]]).reshape(-1, 2)
        assert lc[p] == dpk.lcss_distance(t1, t2, eps)
        assert ed[p] == dpk.edr_distance(t1, t2, eps)


def _batch_of(pairs):
    """Object arrays (xi, yi, xj, yj) for a list of (t1, t2) point arrays."""
    cols = [np.empty(len(pairs), dtype=object) for _ in range(4)]
    for p, (t1, t2) in enumerate(pairs):
        t1, t2 = np.asarray(t1).reshape(-1, 2), np.asarray(t2).reshape(-1, 2)
        cols[0][p], cols[1][p] = t1[:, 0].copy(), t1[:, 1].copy()
        cols[2][p], cols[3][p] = t2[:, 0].copy(), t2[:, 1].copy()
    return cols


@given(st.integers(0, 5_000), st.integers(0, 20), st.integers(0, 20))
@settings(max_examples=30, deadline=None)
def test_lcss_edr_vectorized_equal(seed, na, nb):
    """A one-pair batch of random walks (lengths 0..20) scores exactly as
    the scalar kernels do."""
    a, b = walk(seed, na), walk(seed + 3, nb)
    batch = _batch_of([(a, b)])
    assert dpk.lcss_distances(*batch, 40.0)[0] == dpk.lcss_distance(a, b, 40.0)
    assert dpk.edr_distances(*batch, 40.0)[0] == dpk.edr_distance(a, b, 40.0)


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_blocked_lcss_edr_equal_scalar(seed):
    """An equal-length batch runs the DP across the pair axis; every
    per-pair value must equal the scalar kernel bit-for-bit (same
    recurrence, same float division at the end)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 24))
    m = int(rng.integers(1, 24))
    P = int(rng.integers(1, 7))
    T1 = (rng.random((P, n, 2)) - 0.5) * 3
    T2 = (rng.random((P, m, 2)) - 0.5) * 3
    eps = float(rng.choice([0.1, 0.25, 0.5]))
    batch = _batch_of(list(zip(T1, T2)))
    bl = dpk.lcss_distances(*batch, eps)
    be = dpk.edr_distances(*batch, eps)
    for p in range(P):
        assert bl[p] == dpk.lcss_distance(T1[p], T2[p], eps)
        assert be[p] == dpk.edr_distance(T1[p], T2[p], eps)


def test_blocked_lcss_edr_empty_sides():
    e = np.empty((0, 2))
    f = np.ones((4, 2))
    assert (dpk.lcss_distances(*_batch_of([(e, f)] * 3), 0.25) == 1.0).all()
    assert (dpk.lcss_distances(*_batch_of([(f, e)] * 3), 0.25) == 1.0).all()
    assert (dpk.edr_distances(*_batch_of([(e, f)] * 3), 0.25) == 1.0).all()
    assert (dpk.edr_distances(*_batch_of([(e, e)] * 3), 0.25) == 0.0).all()


def test_lcss_edr_batch_memory_bounded_by_chunk():
    """Peak memory follows the chunk bound, not the batch: 4,000 pairs
    peak at most ~1.5× what 400 pairs of the same lengths do (plus the
    input's bytes), where a whole-batch padded DP would take 10×."""
    import tracemalloc

    side = int((dpk._CHUNK_CELLS / 200) ** 0.5)  # 400 pairs ≈ two chunks
    peaks = {}
    for P in (400, 4_000):
        xi, yi, xj, yj = _ragged_batch(P, [(side, side - 1)] * P)
        inputs = sum(a.nbytes for col in (xi, yi, xj, yj) for a in col)
        for kern in (dpk.lcss_distances, dpk.edr_distances):
            tracemalloc.start()
            try:
                kern(xi, yi, xj, yj, 0.25)
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
            peaks[P, kern.__name__] = (peak, inputs)
    for name in ("lcss_distances", "edr_distances"):
        small, _ = peaks[400, name]
        big, inputs = peaks[4_000, name]
        assert big <= 1.5 * small + inputs, (name, big, small, inputs)

"""newsimi test-set generation parity: the Spark composition must reproduce
the reference's per-trajectory logic row-for-row
(/root/reference/fedtraj/utils/preprocessing_porto.py:94-192) when the
reference-semantics oracle is driven by the same per-trajectory seeded
streams (the reference itself consumes one global UNSEEDED stream — not
reproducible even across its own runs, so seeded-per-trajectory is the
engine's documented replacement)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from trajlib_spark.operators import newsimi, similarity
from trajlib_spark.operators.augment import _rng_for, _truncated_rand

N_QUERY, N_DB = 5, 20


@pytest.fixture(scope="module")
def polys_pdf(spark, points):
    polys = similarity.collect_polylines(points)
    pdf = polys.toPandas().sort_values("traj_id").reset_index(drop=True)
    return pdf


def _oracle_slices(pdf):
    """The reference's slicing: test = trajs[int(0.8 l) : int(0.8 l)+n_db];
    query = v[::2] of the first n_query, db = v[1::2] of every test traj."""
    l = len(pdf)
    lo = int(l * 0.8)
    test = pdf.iloc[lo : lo + N_DB]
    out_q, out_db = {}, {}
    for i, (_, row) in enumerate(test.iterrows()):
        v = np.column_stack([row["xs"], row["ys"]])  # row.xs is Series.xs()!
        if i < N_QUERY:
            out_q[row["traj_id"]] = v[::2]
        out_db[row["traj_id"]] = v[1::2]
    return out_q, out_db


def _collect(df):
    return {
        r.traj_id: np.column_stack([r.xs, r.ys])
        for r in df.collect()
    }


def test_newsimi_raw_row_for_row(spark, points, polys_pdf):
    q, db = newsimi.newsimi_datasets(
        similarity.collect_polylines(points), N_QUERY, N_DB, variant="raw"
    )
    got_q, got_db = _collect(q), _collect(db)
    exp_q, exp_db = _oracle_slices(polys_pdf)
    assert set(got_q) == set(exp_q) and set(got_db) == set(exp_db)
    for t in exp_q:
        assert np.array_equal(got_q[t], exp_q[t]), t
    for t in exp_db:
        assert np.array_equal(got_db[t], exp_db[t]), t


def test_newsimi_downsample_row_for_row(spark, points, polys_pdf):
    rate = 0.3
    q, db = newsimi.newsimi_datasets(
        similarity.collect_polylines(points), N_QUERY, N_DB,
        variant="downsample", rate=rate,
    )
    got_q, got_db = _collect(q), _collect(db)
    exp_q, exp_db = _oracle_slices(polys_pdf)

    def downsample(v, tid, salt):
        # reference: np.sort(np.random.choice(l, ceil(l*(1-rate)), False))
        # (preprocessing_porto.py:126-133), on the engine's per-traj stream
        rng = _rng_for(str(tid), salt)
        idx = np.sort(rng.choice(len(v), math.ceil(len(v) * (1 - rate)), replace=False))
        return v[idx]

    for t, v in exp_q.items():
        assert np.array_equal(got_q[t], downsample(v, t, 0)), t
    for t, v in exp_db.items():
        assert np.array_equal(got_db[t], downsample(v, t, 1)), t


def test_newsimi_distort_row_for_row(spark, points, polys_pdf):
    rate = 0.4
    q, db = newsimi.newsimi_datasets(
        similarity.collect_polylines(points), N_QUERY, N_DB,
        variant="distort", rate=rate,
    )
    got_q, got_db = _collect(q), _collect(db)
    exp_q, exp_db = _oracle_slices(polys_pdf)

    def distort(v, tid, salt):
        # reference: per row, w.p. rate add (truncated_rand, truncated_rand)
        # (preprocessing_porto.py:157-169), on the engine's per-traj stream
        rng = _rng_for(str(tid), salt)
        v = v.copy()
        for i in range(len(v)):
            if rng.random() < rate:
                v[i] = v[i] + np.array([_truncated_rand(rng), _truncated_rand(rng)])
        return v

    for t, v in exp_q.items():
        assert np.array_equal(got_q[t], distort(v, t, 0)), t
    for t, v in exp_db.items():
        assert np.array_equal(got_db[t], distort(v, t, 1)), t

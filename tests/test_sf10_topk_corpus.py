"""The sf10 similarity-probe corpus (bench._sf10_topk_inputs) must carry
the structure its pruning-scaling claim rests on (VERDICT r7 #4): compact
trajectories (the raw synthetic ones are whole-extent — MBR radii
~11-13 km on a 20×16 km grid — a shape on which the grid-pruned top-k
path legitimately degrades to one full equi-join round, which the sf1
stage already evidences; the PRUNING claim needs trajectories pruning
exists for), spread deterministically across the grid, lattice-copied
in-grid, with a query panel that does NOT grow with the copy count. The
dedup probe taught this round-7 lesson: a corpus-shape mistake is not
benign at 10M points, so the design is pinned here at sf0.001 scale in
seconds through the real helpers."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from trajlib_spark.config import PORTO_GRID as G  # noqa: E402
from trajlib_spark.operators import similarity as sim  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_topk_corpus_structure(spark):
    polys, qs = bench._sf10_topk_inputs(spark, SF, 8)
    polys = polys.persist()
    base_n = (
        sim.collect_polylines(
            __import__("trajlib_spark.sources.synth", fromlist=["x"])
            .synthetic_points(spark, SF)
        ).count()
    )
    # every base contributes exactly `copies` distinct trajectories
    assert polys.count() == base_n * 8

    # compact: every MBR radius collapses to ~250 m (0.02 × the raw
    # 11-13 km) — the regime where ring-8 pruning has content
    a = sim._traj_anchor(polys.select("traj_id", "xs", "ys"), "j")
    rmax = a.agg(F.max("radius")).collect()[0][0]
    assert rmax < 400.0, rmax

    # in-grid: recentring margin (2.1 km) + the ±1.9 km lattice keeps
    # every copy inside the grid extent — no clamped anchors
    oob = polys.where(
        (F.array_min("xs") < G.x_min) | (F.array_max("xs") > G.x_max)
        | (F.array_min("ys") < G.y_min) | (F.array_max("ys") > G.y_max)
    ).count()
    assert oob == 0

    # the query panel comes from copy 0 only and is CONSTANT in copies —
    # the probe isolates db-density scaling
    polys4, qs4 = bench._sf10_topk_inputs(spark, SF, 4)
    ids8 = sorted(r.traj_id for r in qs.select("traj_id").collect())
    ids4 = sorted(r.traj_id for r in qs4.select("traj_id").collect())
    assert ids8 == ids4 and ids8
    assert all(i < 100_000 for i in ids8)
    polys.unpersist()


def test_topk_candidates_scale_with_density_not_n2(spark):
    """The scaling criterion itself, at test scale: halving corpus
    density at IDENTICAL spatial extent (drop the odd-numbered copies)
    must halve the ring-8 candidate count — linear in density. A
    quadratic candidate set (queries growing with the corpus, or a ring
    that degenerates to all-pairs) cannot produce a ratio of 2."""
    polys, qs = bench._sf10_topk_inputs(spark, SF, 8)
    polys = polys.persist()
    half = polys.where((F.floor(F.col("traj_id") / 100_000) % 2) == 0)
    c_full = bench._ring_candidates(polys, qs, 8)
    c_half = bench._ring_candidates(half, qs, 8)
    assert c_full > 0
    assert 1.5 <= c_full / max(1, c_half) <= 2.5, (c_full, c_half)
    polys.unpersist()


def test_topk_probe_runs_real_operator(spark):
    """The probe drives the REAL measure_topk grid path end-to-end at
    test scale and returns exactly k rows per query."""
    polys, qs = bench._sf10_topk_inputs(spark, SF, 4)
    nq = qs.count()
    tk = sim.measure_topk(polys, qs, "hausdorff", k=5, grid=G, ring=8)
    assert tk.count() == 5 * nq

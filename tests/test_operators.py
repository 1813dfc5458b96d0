"""Operator-level tests: staypoints, features, kNN, PIP, raster, segment,
similarity joins — each against an independent scalar/numpy oracle."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from trajlib_spark.config import PORTO_GRID
from trajlib_spark.kernels.traclus import cut_segments, traclus_mask
from trajlib_spark.operators import (
    cells,
    features,
    knn,
    raster,
    segment,
    similarity,
    spatial_join,
    staypoints,
)

G = PORTO_GRID


def _mk_points(spark, rows):
    return spark.createDataFrame(
        rows, "traj_id string, point_id long, ts_ms long, x double, y double"
    )


def test_collapse_consecutive_cells(spark):
    x0, y0 = G.x_min + 5.0, G.y_min + 5.0
    rows = [
        ("t", 1, 1000, x0, y0),          # cell A
        ("t", 2, 2000, x0 + 10, y0),     # cell A (dup -> dropped)
        ("t", 3, 3000, x0 + 150, y0),    # cell B
        ("t", 4, 4000, x0 + 10, y0),     # cell A again (kept: not consecutive)
    ]
    out = staypoints.collapse_consecutive_cells(_mk_points(spark, rows), G)
    got = [(r.point_id, r.seq) for r in out.orderBy("seq").collect()]
    assert got == [(1, 0), (3, 1), (4, 2)]


def test_sessionize_gap_rule(spark):
    rows = [
        ("t", 1, 0, 0.0, 0.0),
        ("t", 2, 360_000, 0.0, 0.0),       # exactly 360 s: same session
        ("t", 3, 720_001, 0.0, 0.0),       # 360.001 s: new session
        ("t", 4, 730_000, 0.0, 0.0),
    ]
    out = staypoints.sessionize(_mk_points(spark, rows), min_points=1)
    got = {r.point_id: r.session_idx for r in out.collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}
    out2 = staypoints.sessionize(_mk_points(spark, rows), min_points=3)
    assert out2.count() == 0  # both sessions have < 3 points


def test_spatial_features_three_point_oracle(spark):
    p = [(G.x_min + 100, G.y_min + 100), (G.x_min + 200, G.y_min + 150),
         (G.x_min + 350, G.y_min + 120)]
    rows = [("t", i + 1, 1000 * (i + 1), x, y) for i, (x, y) in enumerate(p)]
    out = features.spatial_features(_mk_points(spark, rows), G).orderBy("point_id").collect()
    lens = [math.dist(p[0], p[1]), math.dist(p[1], p[2])]
    dist = ((lens[0] + lens[1]) / 2) / (1100 / 1.414)
    rad = math.pi - math.atan2(p[0][0] - p[1][0], p[0][1] - p[1][1]) + math.atan2(
        p[2][0] - p[1][0], p[2][1] - p[1][1]
    )
    rad = 1 - abs(rad) / math.pi
    assert out[0].dist_feat == 0.0 and out[2].radian_feat == 0.0
    assert out[1].dist_feat == pytest.approx(dist, rel=1e-12)
    assert out[1].radian_feat == pytest.approx(rad, rel=1e-12)
    assert out[1].x_norm == pytest.approx((p[1][0] - G.x_min) / (G.x_max - G.x_min))


def test_kinematics_and_stats(spark):
    rows = [("t", 1, 0, 0.0, 0.0), ("t", 2, 15000, 30.0, 40.0), ("t", 3, 30000, 30.0, 140.0)]
    kin = features.kinematics(_mk_points(spark, rows)).orderBy("point_id").collect()
    assert kin[0].speed_mps is None
    assert kin[1].step_m == pytest.approx(50.0)
    assert kin[1].speed_mps == pytest.approx(50.0 / 15.0)
    assert kin[2].accel_mps2 == pytest.approx((100 / 15 - 50 / 15) / 15)
    st = features.traj_stats(_mk_points(spark, rows)).collect()[0]
    assert st.path_m == pytest.approx(150.0)
    assert st.chord_m == pytest.approx(math.dist((0, 0), (30, 140)))
    assert st.sinuosity == pytest.approx(150.0 / math.dist((0, 0), (30, 140)))
    assert st.travel_time_s == pytest.approx(30.0)


def test_knn_exact_vs_numpy(spark, points):
    sub = points.limit(300).cache()
    qs = sub.where(F.col("point_id") % 7 == 0)
    out = knn.knn_join(sub, qs, G, k=3).toPandas()
    pdf = sub.select("point_id", "x", "y").toPandas()
    xy = pdf[["x", "y"]].to_numpy()
    ids = pdf["point_id"].to_numpy()
    for qid in pdf[pdf.point_id % 7 == 0].point_id:
        qi = np.flatnonzero(ids == qid)[0]
        d = ((xy - xy[qi]) ** 2).sum(1)
        order = sorted((float(d[k]), int(ids[k])) for k in range(len(ids)) if ids[k] != qid)
        expect = [nid for _, nid in order[:3]]
        got = out[out.query_id == qid].sort_values("rank").neighbor_id.tolist()
        assert got == expect, qid


def _start_ring(monkeypatch, ring):
    """Start knn_join's ring expansion at ``ring`` cells instead of the
    radius pick_ring_radius derives from the point density."""
    monkeypatch.setattr(knn, "pick_ring_radius", lambda n_points, grid, k: ring)


def test_knn_forced_fallback(spark, points, monkeypatch):
    # ring=1 with sparse points forces several ring rounds; still exact
    sub = points.limit(50).cache()
    qs = sub.limit(5)
    _start_ring(monkeypatch, 1)
    out = knn.knn_join(sub, qs, G, k=10)
    assert out.groupBy("query_id").count().agg(F.min("count")).collect()[0][0] == 10


def _edge_points(rng, n_per_edge):
    """(x, y) rows within ±60 m of each MBR edge — inside, exactly on and
    outside it — over a 300 m stretch of the edge, so that nearest
    neighbours straddle the edge."""
    out = []
    for axis, edge in ((0, G.x_min), (0, G.x_max), (1, G.y_min), (1, G.y_max)):
        lo = (G.y_min, G.x_min)[axis] + 2000.0
        for m in range(n_per_edge):
            across = 0.0 if m % 4 == 0 else float(rng.uniform(-60.0, 60.0))
            along = lo + float(rng.uniform(0.0, 300.0))
            out.append((edge + across, along) if axis == 0 else (along, edge + across))
    return np.array(out)


@pytest.mark.parametrize("k,ring", [(1, 1), (3, None)])
def test_knn_join_exact_off_grid(spark, monkeypatch, k, ring):
    """The ring certificate holds for rows off the grid: points inside, on
    and outside every MBR edge get the same neighbours as a numpy scan (an
    out-of-MBR point used to be indexed at the centre cell, where the
    window bound no longer held)."""
    xy = _edge_points(np.random.default_rng(5), 12)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "point_id long, x double, y double",
    )
    if ring is not None:
        _start_ring(monkeypatch, ring)
    out = knn.knn_join(pts, pts, G, k=k)
    got = out.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank", "dist_sq").collect()
    expect = []
    for q in range(len(xy)):
        d = ((xy - xy[q]) ** 2).sum(1)
        ranked = sorted((float(d[m]), m) for m in range(len(xy)) if m != q)[:k]
        expect += [(q, m, r + 1, pytest.approx(dd, rel=1e-12))
                   for r, (dd, m) in enumerate(ranked)]
    assert [tuple(r) for r in got] == expect


@pytest.mark.parametrize("measure", ["hausdorff", "frechet", "edwp"])
def test_measure_topk_grid_exact_off_grid(spark, measure):
    """Grid-ring measure_topk is exact for trajectories whose anchors lie
    inside, on and outside the MBR edges: the same rows as a scalar scan
    and as the broadcast scan ``_brute_topk``."""
    from trajlib_spark.kernels import dp_distances as dpk

    rng = np.random.default_rng(9)
    kern = {"hausdorff": dpk.hausdorff_distance, "frechet": dpk.discrete_frechet,
            "edwp": dpk.edwp_distance_vec}[measure]
    lines = {t: a + rng.normal(0.0, 3.0, (int(rng.integers(2, 5)), 2))
             for t, a in enumerate(_edge_points(rng, 6))}
    polys = spark.createDataFrame(
        [(t, a[:, 0].tolist(), a[:, 1].tolist()) for t, a in lines.items()],
        "traj_id long, xs array<double>, ys array<double>",
    )
    cols = ("query_id", "neighbor_id", "rank", "dist")
    pruned = similarity.measure_topk(polys, polys, measure, k=2, grid=G, ring=1)
    got = pruned.orderBy("query_id", "rank").select(*cols).collect()
    brute = similarity._brute_topk(polys, polys, measure, k=2)
    assert got == brute.orderBy("query_id", "rank").select(*cols).collect()
    expect = []
    for q in sorted(lines):
        ranked = sorted((kern(lines[q], lines[t]), t) for t in lines if t != q)[:2]
        expect += [(q, t, r + 1, pytest.approx(d, rel=1e-12))
                   for r, (d, t) in enumerate(ranked)]
    assert [tuple(r) for r in got] == expect


def test_pip_against_numpy_raycast(spark, points):
    from trajlib_spark.sources import synth

    polys = synth.synthetic_polygons(spark, "/root/testdata/sf0.001")
    got = (
        spatial_join.point_in_polygon(points, polys, G, point_cols=["point_id"])
        .orderBy("point_id", "geo_id")
        .toPandas()
    )
    ppd = points.select("point_id", "x", "y").toPandas()
    rings = {r.geo_id: np.array(r.coord[0]) for r in polys.collect()}

    def inside(px, py, ring):
        c = 0
        for a, b in zip(ring[:-1], ring[1:]):
            if (a[1] > py) != (b[1] > py) and px < (b[0] - a[0]) * (py - a[1]) / (b[1] - a[1]) + a[0]:
                c += 1
        return c % 2 == 1

    expect = sorted(
        (int(pid), int(g))
        for pid, px, py in ppd.itertuples(index=False)
        for g, ring in rings.items()
        if inside(px, py, ring)
    )
    assert list(map(tuple, got.to_numpy())) == expect


def test_pip_degenerate_polygons(spark, points):
    # a sliver thinner than one cell + a polygon covering the whole grid
    sliver = [[G.x_min + 500.0, G.y_min + 500.0], [G.x_min + 520.0, G.y_min + 500.0],
              [G.x_min + 520.0, G.y_min + 5000.0], [G.x_min + 500.0, G.y_min + 5000.0],
              [G.x_min + 500.0, G.y_min + 500.0]]
    world = [[G.x_min - 10, G.y_min - 10], [G.x_max + 10, G.y_min - 10],
             [G.x_max + 10, G.y_max + 10], [G.x_min - 10, G.y_max + 10],
             [G.x_min - 10, G.y_min - 10]]
    polys = spark.createDataFrame(
        [(100, "polygon", [sliver]), (101, "polygon", [world])],
        "geo_id long, type string, coord array<array<array<double>>>",
    )
    out = spatial_join.point_in_polygon(points, polys, G, point_cols=["point_id"])
    counts = {r.geo_id: r["count"] for r in out.groupBy("geo_id").count().collect()}
    assert counts.get(101) == points.count()  # world polygon catches everything
    assert counts.get(100, 0) >= 0  # sliver handled without error


def _box(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _pip_rows(spark, points, rows):
    polys = spark.createDataFrame(
        rows, "geo_id long, type string, coord array<array<array<double>>>"
    )
    out = spatial_join.point_in_polygon(points, polys, G, point_cols=["point_id"])
    return sorted((r.point_id, r.geo_id) for r in out.collect())


def test_pip_skips_polygons_without_edges(spark, points):
    """Empty, null and edge-less coord arrays contain no point (and used to
    crash the driver-side cell classification)."""
    box = _box(G.x_min + 1000.0, G.y_min + 1000.0, G.x_min + 9000.0, G.y_min + 9000.0)
    alone = _pip_rows(spark, points, [(1, "polygon", [box])])
    assert alone
    one_point = [[[G.x_min + 2000.0, G.y_min + 2000.0]]]
    got = _pip_rows(spark, points, [
        (1, "polygon", [box]), (2, "polygon", []), (3, "polygon", None),
        (4, "polygon", [[]]), (5, "polygon", one_point),
    ])
    assert got == alone
    assert _pip_rows(spark, points, [(2, "polygon", []), (5, "polygon", one_point)]) == []


def test_pip_duplicate_geo_id_rows_stay_apart(spark, points):
    """Two polygon rows sharing a geo_id give exactly the union of their
    own containment rows: no cross product, no shape tested against the
    other row's cells."""
    a = _box(G.x_min + 1000.0, G.y_min + 1000.0, G.x_min + 8000.0, G.y_min + 8000.0)
    b = _box(G.x_min + 5000.0, G.y_min + 4000.0, G.x_min + 15000.0, G.y_min + 12000.0)
    only_a = _pip_rows(spark, points, [(7, "polygon", [a])])
    only_b = _pip_rows(spark, points, [(7, "polygon", [b])])
    assert only_a and only_b and set(only_a) & set(only_b)
    both = _pip_rows(spark, points, [(7, "polygon", [a]), (7, "polygon", [b])])
    assert both == sorted(only_a + only_b)


def test_raster_roundtrip_and_pyramid(spark, points):
    tc = raster.tile_counts(points, G).where(F.col("zoom") <= 2)
    # pyramid consistency: direct assignment on the zoom-2 grid == rollup
    g2 = G.at_zoom(2)
    direct = (
        cells.with_cell(points.drop("i_x", "i_y", "cell_id"), g2)
        .groupBy("i_x", "i_y")
        .count()
        .orderBy("i_x", "i_y")
        .collect()
    )
    rolled = tc.where("zoom = 2").select("i_x", "i_y", "cnt").orderBy("i_x", "i_y").collect()
    assert [(r.i_x, r.i_y, r["count"]) for r in direct] == [
        (r.i_x, r.i_y, r.cnt) for r in rolled
    ]
    dense = raster.to_dense_tiles(tc)
    back = raster.from_dense_tiles(dense)
    assert back.count() == tc.count()
    assert back.agg(F.sum("cnt")).collect()[0][0] == tc.agg(F.sum("cnt")).collect()[0][0]


def test_segment_operator_matches_kernel(spark, points):
    segs = segment.segment_trajectories(points).toPandas()
    pdf = points.select("traj_id", "ts_ms", "point_id", "x", "y").toPandas()
    tid = segs.traj_id.iloc[0]
    tp = pdf[pdf.traj_id.astype(str) == tid].sort_values(["ts_ms", "point_id"])
    mask = traclus_mask(tp[["x", "y"]].to_numpy())
    expect = cut_segments(mask)
    got = segs[segs.traj_id == tid].sort_values("seg_idx")
    assert list(zip(got.start_idx, got.end_idx)) == expect
    # overlap property: next segment starts where previous ends
    for a, b in zip(got.end_idx[:-1], got.start_idx[1:]):
        assert a == b


def test_similarity_operator_matches_kernel(spark, points):
    from trajlib_spark.kernels import dp_distances as dpk

    sub = points.where(F.col("traj_id") < 3)
    polys = similarity.collect_polylines(sub)
    d = similarity.multi_measure_join(polys, {"dist": ("frechet", 0.0)}).toPandas()
    pls = {r.traj_id: np.column_stack([r.xs, r.ys]) for r in polys.collect()}
    for row in d.itertuples(index=False):
        assert row.dist == pytest.approx(
            dpk.discrete_frechet(pls[row.i], pls[row.j]), rel=1e-12
        )
    # i < j upper triangle only
    assert (d.i < d.j).all()


def test_multi_measure_join_matches_single_measure_joins(spark, points):
    """The one-pass multi-measure join must equal the dp_distances kernels
    pair-for-pair over the upper-triangular pair index, with ε-match
    measures reading the z-scored arrays and metric measures the raw ones."""
    from trajlib_spark.kernels import dp_distances as dpk

    sub = points.where(F.col("traj_id") < 6)
    polys = similarity.collect_polylines(sub)
    both = similarity.normalize_polylines(polys, out_cols=("xs_n", "ys_n"))
    multi = similarity.multi_measure_join(
        both,
        measures={
            "lcss": ("lcss", 0.25), "edr": ("edr", 0.25),
            "frechet": ("frechet", 0.0), "hausdorff": ("hausdorff", 0.0),
        },
        coord_cols={"lcss": ("xs_n", "ys_n"), "edr": ("xs_n", "ys_n")},
    ).toPandas().set_index(["i", "j"]).sort_index()
    raw = {r.traj_id: np.column_stack([r.xs, r.ys]) for r in polys.collect()}
    normed = {
        r.traj_id: np.column_stack([r.xs, r.ys])
        for r in similarity.normalize_polylines(polys).collect()
    }
    ids = sorted(raw)
    pairs = [(a, b) for a in ids for b in ids if a < b]
    assert list(multi.index) == pairs
    reference = {
        "lcss": lambda a, b: dpk.lcss_distance(normed[a], normed[b], 0.25),
        "edr": lambda a, b: dpk.edr_distance(normed[a], normed[b], 0.25),
        "frechet": lambda a, b: dpk.discrete_frechet(raw[a], raw[b]),
        "hausdorff": lambda a, b: dpk.hausdorff_distance(raw[a], raw[b]),
    }
    for measure, ref in reference.items():
        np.testing.assert_allclose(
            multi[measure].to_numpy(), [ref(a, b) for a, b in pairs], rtol=1e-12
        )


def _polyline_dict(polys) -> dict:
    return {r.traj_id: np.column_stack([r.xs, r.ys]) for r in polys.collect()}


def test_multi_measure_join_on_both_paths(spark, points, pair_path):
    """multi_measure_join scores the same pairs to the
    same values whether the polylines are broadcast or joined."""
    from trajlib_spark.kernels import dp_distances as dpk

    polys = similarity.collect_polylines(points.where(F.col("traj_id") < 5))
    both = similarity.normalize_polylines(polys, out_cols=("xs_n", "ys_n"))
    out = similarity.multi_measure_join(
        both, measures={"lcss": ("lcss", 0.25), "frechet": ("frechet", 0.0)},
        coord_cols={"lcss": ("xs_n", "ys_n")},
    )
    assert pair_path.ran_in(out)
    raw = _polyline_dict(polys)
    normed = _polyline_dict(similarity.normalize_polylines(polys))
    got = sorted(map(tuple, out.select("i", "j", "lcss", "frechet").collect()))
    ids = sorted(raw)
    assert [(i, j) for i, j, *_ in got] == [(a, b) for a in ids for b in ids if a < b]
    for i, j, lc, fr in got:
        assert lc == pytest.approx(dpk.lcss_distance(normed[i], normed[j], 0.25), rel=1e-12)
        assert fr == pytest.approx(dpk.discrete_frechet(raw[i], raw[j]), rel=1e-12)


@pytest.mark.parametrize("path_kind", ["brute", "grid", "eps_match"])
def test_measure_topk_on_both_paths(spark, points, pair_path, path_kind):
    """Each measure_topk path (broadcast scan, grid ring rounds, ε-match
    cells) ranks the same neighbours at the same distances on either
    score_pairs path: the top-k of a scalar scan over every db row."""
    from trajlib_spark.kernels import dp_distances as dpk

    measure, kern, kwargs = {
        "brute": ("frechet", dpk.discrete_frechet, {}),
        "grid": ("hausdorff", dpk.hausdorff_distance, {"grid": G, "ring": 2}),
        "eps_match": ("lcss", lambda a, b: dpk.lcss_distance(a, b, 0.25), {}),
    }[path_kind]
    polys = similarity.collect_polylines(points.where(F.col("traj_id") < 24))
    if measure == "lcss":
        polys = similarity.normalize_polylines(polys)
    polys = polys.cache()
    qs = polys.where(F.col("traj_id") % 6 == 0)
    out = similarity.measure_topk(polys, qs, measure, k=4, **kwargs)
    assert pair_path.ran_in(out)
    lines = _polyline_dict(polys)
    expect = []
    for q in sorted(t for t in lines if t % 6 == 0):
        ranked = sorted((kern(lines[q], lines[t]), t) for t in lines if t != q)
        expect += [(q, t, r + 1, pytest.approx(d, rel=1e-12))
                   for r, (d, t) in enumerate(ranked[:4])]
    got = out.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank", "dist").collect()
    assert [tuple(r) for r in got] == expect
    polys.unpersist()


@pytest.mark.parametrize("call", [
    "multi_measure_join", "measure_topk", "measure_topk_brute", "measure_topk_grid",
])
def test_unknown_measure_rejected_when_plan_is_built(spark, call):
    """A bad measure name raises ValueError naming it and the valid set on
    the operator call itself, not inside a Python worker at action time."""
    schema = "traj_id long, xs array<double>, ys array<double>"
    polys = spark.createDataFrame(
        [(1, [0.0, 1.0], [0.0, 1.0]), (2, [5.0, 6.0], [5.0, 6.0])], schema
    )
    calls = {
        "multi_measure_join": lambda: similarity.multi_measure_join(
            polys, {"d": ("nope", 0.0)}),
        "measure_topk": lambda: similarity.measure_topk(polys, polys, "nope", k=5),
        "measure_topk_brute": lambda: similarity._brute_topk(polys, polys, "nope", k=5),
        "measure_topk_grid": lambda: similarity.measure_topk(
            polys, polys, "nope", k=5, grid=G),
    }
    with pytest.raises(ValueError, match=r"'nope'.*'frechet'"):
        calls[call]()


def test_multi_measure_join_single_kernel_pass(spark, points):
    """PLANS.md claim, machine-checked: the multi-measure join runs ONE
    Arrow kernel pass (one MapInPandas node) over one polyline payload,
    never one per measure."""
    sub = points.where(F.col("traj_id") < 6)
    both = similarity.normalize_polylines(
        similarity.collect_polylines(sub), out_cols=("xs_n", "ys_n")
    ).withColumn("fed_id", F.col("traj_id") % 2)
    out = similarity.multi_measure_join(
        both,
        measures={"lcss": ("lcss", 0.25), "frechet": ("frechet", 0.0)},
        coord_cols={"lcss": ("xs_n", "ys_n")},
        block_col="fed_id",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    # blocked pair space stays an equi-join (the unblocked form is an
    # intentional upper-triangular crossJoin and is not used by queries)
    assert not _plan_has_cross_join(out)


def test_global_row_number_leaves_session_cache_as_found(spark):
    """Each call ranks an eager local checkpoint: three calls number their
    rows 0..n-1 and add no entry to the session's CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for k in range(3):
        d, n = segment.global_row_number(spark.range(100 + k), ("id",))
        rows = sorted((r.id, r._rn0) for r in d.collect())
        assert n == 100 + k and rows == [(v, v) for v in range(n)]
    assert cm.numCachedEntries() == before


def test_symmetrize_normalize_leaves_session_cache_as_found(spark):
    """The mirrored frame is a lazy local checkpoint: three calls on new
    inputs normalize correctly and add no entry to the session's
    CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for k in range(3):
        d = spark.createDataFrame([(1, 2, 4.0 + k), (2, 3, 2.0)], "i long, j long, dist double")
        got = sorted(map(tuple, similarity.symmetrize_normalize(d).collect()))
        mx = 4.0 + k
        assert got == [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0 / mx), (3, 2, 2.0 / mx)]
    assert cm.numCachedEntries() == before


def test_eps_match_topk_leaves_session_cache_as_found(spark):
    """The ε-match top-k persists nothing (its anchors are lazy local
    checkpoints, the rest of its plan is lazy): two calls on new inputs,
    each with queries that need 1.0 fillers (two far clusters, k above a
    cluster's size), rank like a scalar scan and add no entry to the
    session's CacheManager."""
    from trajlib_spark.kernels import dp_distances as dpk

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for call in range(2):
        rng = np.random.default_rng(call)
        lines = {
            t: rng.random((int(rng.integers(2, 6)), 2)) * 0.4 + (10.0 if t > 3 else 0.0)
            for t in range(1, 7)
        }
        polys = spark.createDataFrame(
            [(t, a[:, 0].tolist(), a[:, 1].tolist()) for t, a in lines.items()],
            "traj_id long, xs array<double>, ys array<double>",
        )
        out = similarity.measure_topk(polys, polys, "lcss", k=4)
        expect = []
        for q in sorted(lines):
            ranked = sorted(
                (dpk.lcss_distance(lines[q], lines[t], 0.25), t) for t in lines if t != q
            )
            expect += [(q, t, r + 1, d) for r, (d, t) in enumerate(ranked[:4])]
        got = out.orderBy("query_id", "rank").select(
            "query_id", "neighbor_id", "rank", "dist").collect()
        assert [tuple(r) for r in got] == expect
    assert cm.numCachedEntries() == before


def test_grid_ring_topk_leaves_session_cache_as_found(spark):
    """The grid-ring top-k's anchors, per-round ranks and remaining
    queries are lazy local checkpoints: three Hausdorff calls on new
    inputs, over several ring rounds, rank like a scalar scan and add no
    entry to the session's CacheManager."""
    from trajlib_spark.kernels import dp_distances as dpk

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for call in range(3):
        rng = np.random.default_rng(call)
        lines = {}
        for t in range(12):
            a = rng.random(2) * [G.x_max - G.x_min - 1000, G.y_max - G.y_min - 1000]
            lines[t] = (a + [G.x_min + 500, G.y_min + 500]
                        + rng.normal(0.0, 50.0, (int(rng.integers(2, 6)), 2)))
        polys = spark.createDataFrame(
            [(t, a[:, 0].tolist(), a[:, 1].tolist()) for t, a in lines.items()],
            "traj_id long, xs array<double>, ys array<double>",
        )
        out = similarity.measure_topk(polys, polys, "hausdorff", k=2, grid=G, ring=1)
        expect = []
        for q in sorted(lines):
            ranked = sorted(
                (dpk.hausdorff_distance(lines[q], lines[t]), t) for t in lines if t != q
            )
            expect += [(q, t, r + 1) for r, (_d, t) in enumerate(ranked[:2])]
        got = out.orderBy("query_id", "rank").select(
            "query_id", "neighbor_id", "rank").collect()
        assert [tuple(r) for r in got] == expect
    assert cm.numCachedEntries() == before


def test_knn_join_leaves_session_cache_as_found(spark, monkeypatch):
    """knn_join's per-round ranks are lazy local checkpoints: three calls
    on new inputs, over several ring rounds, match a numpy scan and add
    no entry to the session's CacheManager."""
    _start_ring(monkeypatch, 1)
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for call in range(3):
        rng = np.random.default_rng(call)
        xy = rng.random((40, 2)) * [G.x_max - G.x_min, G.y_max - G.y_min] + [G.x_min, G.y_min]
        pts = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
            "point_id long, x double, y double",
        )
        out = knn.knn_join(pts, pts.where(F.col("point_id") < 4), G, k=3)
        got = out.orderBy("query_id", "rank").select("query_id", "neighbor_id").collect()
        expect = []
        for q in range(4):
            d = ((xy - xy[q]) ** 2).sum(1)
            expect += [(q, int(n)) for _d, n in sorted(
                (float(d[m]), m) for m in range(len(xy)) if m != q)[:3]]
        assert [tuple(r) for r in got] == expect
    assert cm.numCachedEntries() == before


def test_federated_split_positional(spark):
    trajs = spark.createDataFrame([(str(i),) for i in range(10)], "traj_id string")
    out = segment.federated_split(trajs, 3).orderBy("traj_id")
    got = [r.fed_id for r in out.collect()]
    # np.array_split over 10 rows ordered by traj_id string: '0','1',...,'9'
    assert sorted(got) == got  # shards are contiguous in order
    import collections

    sizes = collections.Counter(got)
    assert sorted(sizes.values(), reverse=True) == [4, 3, 3]


def test_positional_split_and_pad(spark):
    trajs = spark.createDataFrame([(f"{i:03d}",) for i in range(20)], "traj_id string")
    out = segment.positional_split(
        trajs, {"train": (0.0, 0.7), "eval": (0.7, 0.8), "test": (0.8, 1.0)}
    )
    import collections

    counts = collections.Counter(r.split for r in out.collect())
    assert counts == {"train": 14, "eval": 2, "test": 4}
    polys = spark.createDataFrame(
        [("t", [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "traj_id string, xs array<double>, ys array<double>",
    )
    padded = segment.pad_polylines(polys, 5).collect()[0]
    assert padded.xs_pad == [1.0, 2.0, 3.0, 3.0, 3.0]
    assert padded.ys_pad == [4.0, 5.0, 6.0, 6.0, 6.0]


def test_ann_l1_metric(spark, embs):
    import numpy as np
    from trajlib_spark.operators import ann

    qs = embs.where("vec_id % 200 = 0")
    out = ann.cosine_topk(embs, qs, k=5, metric="l1").toPandas()
    e = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in embs.collect()}
    qid = int(out.query_id.iloc[0])
    d = sorted((float(np.abs(e[qid] - v).sum()), j) for j, v in e.items() if j != qid)
    assert out[out.query_id == qid].sort_values("rank").neighbor_id.tolist() == [j for _, j in d[:5]]


def test_splits_match_array_split_property(spark):
    """positional/federated splits must reproduce np.array_split semantics
    for every (n, fed_num) — the partition-parallel rank must equal the
    single-window rank (VERDICT r1 item 3)."""
    for n, fed_num in [(1, 3), (7, 3), (10, 4), (53, 5), (100, 7)]:
        trajs = spark.createDataFrame(
            [(f"{i:04d}",) for i in range(n)], "traj_id string"
        ).repartition(4)
        got = {
            r.traj_id: r.fed_id
            for r in segment.federated_split(trajs, fed_num).collect()
        }
        expect = {}
        for s, chunk in enumerate(np.array_split([f"{i:04d}" for i in range(n)], fed_num)):
            for t in chunk:
                expect[t] = s
        assert got == expect, (n, fed_num)


def _plan_has_cross_join(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def test_knn_ring_doubling_no_cross_join(spark, points, monkeypatch):
    """Sparse/skewed density: under-filled queries re-fan at 4R, 16R, …
    instead of falling back to an unbounded cross join (VERDICT r1 item 5)."""
    sub = points.limit(50).cache()
    qs = sub.limit(5)
    _start_ring(monkeypatch, 1)
    out = knn.knn_join(sub, qs, G, k=10)
    assert not _plan_has_cross_join(out)
    pdf = out.toPandas()
    assert (pdf.groupby("query_id")["rank"].max() == 10).all()
    # exactness against numpy on the same fixture
    all_pts = sub.select("point_id", "x", "y").toPandas()
    xy = all_pts[["x", "y"]].to_numpy()
    ids = all_pts["point_id"].to_numpy()
    for qid in pdf.query_id.unique():
        qi = np.flatnonzero(ids == qid)[0]
        d = ((xy - xy[qi]) ** 2).sum(1)
        order = sorted((float(d[m]), int(ids[m])) for m in range(len(ids)) if ids[m] != qid)
        expect = [nid for _, nid in order[:10]]
        got = pdf[pdf.query_id == qid].sort_values("rank").neighbor_id.tolist()
        assert got == expect, qid


@pytest.mark.parametrize("measure", ["hausdorff", "frechet", "edwp"])
def test_measure_topk_pruned_matches_brute(spark, points, measure):
    """The grid-pruned measure_topk is exact: equals the broadcast
    brute-force path, with no cross join in the plan (VERDICT r1 item 4)."""
    pts = points.where(F.col("traj_id") < 40)
    polys = similarity.collect_polylines(pts).cache()
    qs = polys.where(F.col("traj_id") % 8 == 0)
    pruned = similarity.measure_topk(polys, qs, measure, k=5, grid=G, ring=2)
    assert not _plan_has_cross_join(pruned)
    brute = similarity.measure_topk(polys, qs, measure, k=5)
    got = pruned.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank").collect()
    expect = brute.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank").collect()
    assert got == expect


@pytest.mark.parametrize("measure", ["lcss", "edr"])
def test_measure_topk_eps_match_bounded_matches_brute(spark, points, measure):
    """The ε-match cell-blocked LCSS/EDR path is exact: non-candidates
    provably score 1.0, so bounded == brute row-for-row with no cross join
    in the plan (VERDICT r2 item 4)."""
    pts = points.where(F.col("traj_id") < 40)
    polys = similarity.normalize_polylines(similarity.collect_polylines(pts)).cache()
    qs = polys.where(F.col("traj_id") % 8 == 0)
    bounded = similarity.measure_topk(polys, qs, measure, k=5)
    assert not _plan_has_cross_join(bounded)
    brute = similarity._brute_topk(polys, qs, measure, k=5)
    got = bounded.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank").collect()
    expect = brute.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank").collect()
    assert got == expect


def _filler_case(measure: str, k: int, sparse: bool):
    tag = "" if (k, sparse) == (8, False) else f"-k{k}" + ("-sparse" if sparse else "")
    return pytest.param(measure, k, sparse, id=measure + tag)


@pytest.mark.parametrize("measure, k, sparse", [
    _filler_case(m, k, sparse)
    for m in ("lcss", "edr")
    for k, sparse in ((8, False), (1, False), (61, False), (8, True))
])
def test_measure_topk_eps_match_filler_tail(spark, measure, k, sparse):
    """Clustered corpus (10 clusters of 6): from k = 6 on, every query
    needs dist-1.0 fillers, the smallest non-candidate ids, which must
    reproduce the brute ranking exactly. k = 61 is above the 60-row db,
    and the sparse case numbers trajectories tid·7919 + 3, so the k+1
    smallest db ids are not 0..k."""
    rng = np.random.RandomState(7)
    rows = []
    for c in range(10):
        cx, cy = c * 50.0, (c % 3) * 40.0
        for t in range(6):
            tid = c * 6 + t
            if sparse:
                tid = tid * 7919 + 3
            for p in range(8):
                rows.append(
                    (tid, p * 1000, p,
                     float(cx + rng.randn() * 0.05),
                     float(cy + rng.randn() * 0.05))
                )
    pts = spark.createDataFrame(
        rows, "traj_id long, ts_ms long, point_id long, x double, y double"
    )
    polys = similarity.collect_polylines(pts).cache()
    qs = polys.where((F.col("traj_id") - (3 if sparse else 0)) % 6 == 0)
    bounded = similarity.measure_topk(polys, qs, measure, k=k)
    assert not _plan_has_cross_join(bounded)
    brute = similarity._brute_topk(polys, qs, measure, k=k)
    got = bounded.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank", "dist").collect()
    expect = brute.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank", "dist").collect()
    assert got == expect
    assert len(got) == 10 * min(k, 59)
    # the filler regime really happened: some top-k rows sit at exactly 1.0
    assert any(r.dist == 1.0 for r in got) == (k >= 6)
    polys.unpersist()


@pytest.mark.parametrize("k", [1, 3, 6])
def test_measure_topk_eps_match_edr_empty_polylines(spark, k):
    """EDR scores two empty polylines 0.0. An empty polyline has no
    MBR anchor, so the ε-match path anchors it at the origin with radius
    0: the empty pair is a candidate and ranks like the brute scan, also
    in a db of empty polylines only."""
    schema = "traj_id long, xs array<double>, ys array<double>"
    mixed = spark.createDataFrame([
        (1, [0.0, 0.1], [0.0, 0.1]), (2, [], []), (3, [5.0, 5.1], [5.0, 5.2]),
        (4, [0.05], [0.0]), (5, [], []), (6, [9.0, 9.0, 9.1], [3.0, 3.1, 3.0]),
    ], schema)
    for polys in (mixed, mixed.where(F.size("xs") == 0)):
        bounded = similarity.measure_topk(polys, polys, "edr", k=k)
        brute = similarity._brute_topk(polys, polys, "edr", k=k)
        got = bounded.orderBy("query_id", "rank").select(
            "query_id", "neighbor_id", "rank", "dist").collect()
        expect = brute.orderBy("query_id", "rank").select(
            "query_id", "neighbor_id", "rank", "dist").collect()
        assert got == expect
        assert (2, 5, 1, 0.0) in [tuple(r) for r in got]


def test_eps_match_topk_job_budget(spark, points):
    """The ε-match top-k call runs only the anchors' radius aggregate and
    score_pairs' gate and lookup collect; with a no-op sink over its
    result the whole query stays within 10 Spark jobs."""
    pts = points.where(F.col("traj_id") < 40)
    polys = similarity.normalize_polylines(similarity.collect_polylines(pts)).cache()
    polys.count()
    qs = polys.where(F.col("traj_id") % 8 == 0)
    sc = spark.sparkContext
    group = "eps_match_topk_jobs"
    sc.setJobGroup(group, group)
    try:
        similarity.measure_topk(polys, qs, "lcss", k=5).write.format("noop").mode(
            "overwrite").save()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        polys.unpersist()
    assert jobs <= 10


@pytest.mark.parametrize("measure", ["lcss", "hausdorff"])
def test_measure_topk_empty_inputs(spark, measure):
    """Empty db or empty query side returns an empty result instead of
    crashing on the NULL max-radius aggregate (ADVICE r3)."""
    schema = "traj_id long, xs array<double>, ys array<double>"
    empty = spark.createDataFrame([], schema)
    some = spark.createDataFrame(
        [(1, [0.0, 1.0], [0.0, 1.0]), (2, [5.0, 6.0], [5.0, 6.0])], schema
    )
    for db, qs in ((empty, some), (some, empty), (empty, empty)):
        out = similarity.measure_topk(db, qs, measure, k=3, grid=G)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "dist", "rank"]


@pytest.mark.parametrize("measure", ["hausdorff", "frechet", "edwp"])
def test_measure_topk_pruned_localized_early_exit(spark, measure):
    """Compact trajectories scattered across the grid: the radius bound
    certifies most queries at a SMALL ring (multi-round pruned path, not
    the degenerate full-cover round) — results must still equal brute
    force exactly."""
    rng = np.random.RandomState(11)
    rows = []
    for t in range(60):
        # anchor anywhere in the grid, points within ~150 m of it
        ax = G.x_min + 500 + rng.rand() * (G.x_max - G.x_min - 1000)
        ay = G.y_min + 500 + rng.rand() * (G.y_max - G.y_min - 1000)
        for k in range(12):
            rows.append((t, k * 1000, k * 1000, float(ax + rng.randn() * 50),
                         float(ay + rng.randn() * 50)))
    pts = spark.createDataFrame(
        rows, "traj_id long, ts_ms long, point_id long, x double, y double"
    )
    polys = similarity.collect_polylines(pts).cache()
    qs = polys.where(F.col("traj_id") % 10 == 0)
    pruned = similarity.measure_topk(polys, qs, measure, k=3, grid=G, ring=4)
    brute = similarity.measure_topk(polys, qs, measure, k=3)
    got = pruned.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank").collect()
    expect = brute.orderBy("query_id", "rank").select(
        "query_id", "neighbor_id", "rank").collect()
    assert got == expect
    assert not _plan_has_cross_join(pruned)


@pytest.fixture(params=["true", "false"])
def ansi(request, spark):
    """Run a case with ANSI mode on and off, restored afterwards."""
    key = "spark.sql.ansi.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, request.param)
    try:
        yield request.param
    finally:
        spark.conf.set(key, saved)


def test_symmetrize_normalize_empty_table(spark, ansi):
    """No distances → no rows, with the schema a non-empty table gets."""
    schema = "i long, j long, dist double"
    full = similarity.symmetrize_normalize(spark.createDataFrame([(1, 2, 4.0)], schema))
    empty = similarity.symmetrize_normalize(spark.createDataFrame([], schema))
    assert empty.schema == full.schema
    assert empty.collect() == []


def test_symmetrize_normalize_zero_max_matches_numpy(spark, ansi):
    """All distances 0: the reference's S / S.max() is 0/0 = NaN in numpy,
    not an ANSI DIVIDE_BY_ZERO or a NULL."""
    rows = [(1, 2, 0.0), (1, 3, 0.0), (2, 3, 0.0)]
    out = similarity.symmetrize_normalize(
        spark.createDataFrame(rows, "i long, j long, dist double")
    )
    got = sorted((r.i, r.j, r.dist) for r in out.collect())
    S = np.array([d for _, _, d in rows] * 2)
    with np.errstate(invalid="ignore"):
        expect = S / S.max()
    assert [(i, j) for i, j, _ in got] == sorted(
        [(i, j) for i, j, _ in rows] + [(j, i) for i, j, _ in rows]
    )
    np.testing.assert_array_equal([d for _, _, d in got], expect)

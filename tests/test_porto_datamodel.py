"""Porto scan/preprocess and data-model transforms vs scalar oracles."""

from __future__ import annotations

import hashlib
import json
import math

import pytest
from pyspark.sql import functions as F

from trajlib_spark.config import MAX_LAT, MAX_LON, MAX_TRAJ_LEN, MIN_LAT, MIN_LON, MIN_TRAJ_LEN
from trajlib_spark.data_model import cal_all_trajs, traj_table_from_points
from trajlib_spark.sources import porto


def porto_fixture(spark, n):
    """The first ``n`` rows of ``porto.porto_fixture_rows`` as a porto
    frame with the parsed ``wgs_seq`` polyline."""
    df = spark.createDataFrame(porto.porto_fixture_rows(n), porto.PORTO_SCHEMA)
    return df.withColumn("wgs_seq", F.from_json("POLYLINE", "array<array<double>>"))


def test_clean_trips_matches_reference_filters(spark):
    trips = porto_fixture(spark, 300)
    got = {r.traj_id for r in porto.clean_trips(trips).collect()}
    # scalar oracle: reference filter rules (preprocessing_porto.py:35-69)
    expect = set()
    for row in porto.porto_fixture_rows(300):
        trip_id, _, _, _, _, _, _, missing, poly = row
        pts = json.loads(poly)
        if missing:
            continue
        if not (MIN_TRAJ_LEN <= len(pts) <= MAX_TRAJ_LEN):
            continue
        if not all(
            MIN_LON < p[0] < MAX_LON and MIN_LAT < p[1] < MAX_LAT for p in pts
        ):
            continue
        expect.add(trip_id)
    assert got == expect
    assert len(got) > 0


def test_trips_to_points_cadence_and_values(spark):
    trips = porto_fixture(spark, 50).where(~F.col("MISSING_DATA"))
    pts = porto.trips_to_points(trips)
    one = (
        pts.where(F.col("traj_id") == trips.select("TRIP_ID").first()[0])
        .orderBy("pos")
        .collect()
    )
    base_s = trips.select("TIMESTAMP").first()[0]
    raw = json.loads(trips.select("POLYLINE").first()[0])
    assert len(one) == len(raw)
    for k, r in enumerate(one):
        assert r.ts_ms == (base_s + 15 * k) * 1000
        assert r.lon == raw[k][0] and r.lat == raw[k][1]
        ex = 6378137.0 * (r.lon * 0.017453292519943295)
        assert r.x == ex


def test_cal_all_trajs_sorted(spark, points):
    nested = cal_all_trajs(points).collect()
    pdf = points.select("traj_id", "ts_ms", "point_id", "lon").toPandas()
    for r in nested[:3]:
        sub = pdf[pdf.traj_id == r.traj_id].sort_values(["ts_ms", "point_id"])
        assert r.lon_list == sub.lon.tolist()
        assert r.ts_list == sorted(r.ts_list)
        assert r.n_points == len(sub)


def test_traj_table(spark, points):
    t = traj_table_from_points(points)
    pdf = points.groupBy("traj_id").agg(
        ((F.max("ts_ms") - F.min("ts_ms")) / 1000.0).alias("tt")
    ).collect()
    expect = {r.traj_id: r.tt for r in pdf}
    for r in t.collect():
        assert r.travel_time_s == pytest.approx(expect[r.traj_id])


def test_polygon_adjacency(spark):
    from trajlib_spark.config import PORTO_GRID
    from trajlib_spark.data_model import polygon_adjacency
    from trajlib_spark.operators.spatial_join import polygon_index
    from trajlib_spark.sources import synth

    polys = synth.synthetic_polygons(spark, "/root/testdata/sf0.001")
    cov = polygon_index(polys, PORTO_GRID)
    adj = polygon_adjacency(cov).collect()
    assert all(r.origin_id < r.dest_id for r in adj)
    pc = cov.select("geo_id", "cell_id").toPandas()
    # the 25 octagons' bbox-range covering, pinned: 18,203 distinct
    # (geo_id, cell_id) pairs, one index row each
    pairs = sorted(set(zip(pc.geo_id.tolist(), pc.cell_id.tolist())))
    assert len(pairs) == len(pc) == 18203
    digest = hashlib.sha256("\n".join(f"{g},{c}" for g, c in pairs).encode()).hexdigest()
    assert digest == "a1a64957ad6aba318c2d5a0f2cf5d8687395e85294897ffda3c7f8935ca20417"
    # oracle: bbox-overlap of covering-cell ranges
    cellsets = pc.groupby("geo_id")["cell_id"].apply(set).to_dict()
    expect = {
        (a, b)
        for a in cellsets
        for b in cellsets
        if a < b and cellsets[a] & cellsets[b]
    }
    assert {(r.origin_id, r.dest_id) for r in adj} == expect


def test_polygon_adjacency_skips_polygons_without_edges(spark):
    """Empty, null, ring-less and one-point polygons have no edge, cover no
    cell and so are adjacent to nothing: not to each other, and not to a
    polygon on the grid's top-right corner cell, where a NULL bounding box
    would clamp."""
    from trajlib_spark.config import PORTO_GRID as G
    from trajlib_spark.data_model import polygon_adjacency
    from trajlib_spark.operators.spatial_join import polygon_index

    x0, y0 = G.x_max - 250.0, G.y_max - 250.0
    corner = [[[x0, y0], [G.x_max + 10, y0], [G.x_max + 10, G.y_max + 10],
               [x0, G.y_max + 10], [x0, y0]]]
    one_point = [[[G.x_max - 100.0, G.y_max - 100.0]]]
    schema = "geo_id long, type string, coord array<array<array<double>>>"
    polys = spark.createDataFrame(
        [(1, "polygon", []), (2, "polygon", None), (3, "polygon", [[]]),
         (4, "polygon", corner), (5, "polygon", one_point), (6, "polygon", corner)],
        schema,
    )
    cov = polygon_index(polys, G)
    got = {(r.origin_id, r.dest_id) for r in polygon_adjacency(cov).collect()}
    assert got == {(4, 6)}
    ix0 = int(x0 - G.x_min) // int(G.x_unit)
    iy0 = int(y0 - G.y_min) // int(G.y_unit)
    want = {ix * G.y_size + iy for ix in range(ix0, G.x_size) for iy in range(iy0, G.y_size)}
    assert G.n_cells - 1 in want
    for gid in (4, 6):
        assert {r.cell_id for r in cov.where(F.col("geo_id") == gid).collect()} == want
    assert {r.geo_id for r in cov.select("geo_id").distinct().collect()} == {4, 6}


def test_csv_sink_roundtrip(spark, tmp_path):
    """CSV sink (survey §2.1): write the exploded point table to CSV with a
    header and read it back loss-free (floats via repr-style round-trip)."""
    from trajlib_spark.sources import porto

    trips = porto_fixture(spark, 30)
    pts = porto.trips_to_points(trips.where("NOT MISSING_DATA")).select(
        "traj_id", "pos", "ts_ms", "lon", "lat"
    )
    dst = str(tmp_path / "points_csv")
    pts.write.option("header", True).mode("overwrite").csv(dst)
    back = spark.read.option("header", True).schema(
        "traj_id string, pos int, ts_ms long, lon double, lat double"
    ).csv(dst)
    a = sorted(map(tuple, pts.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b

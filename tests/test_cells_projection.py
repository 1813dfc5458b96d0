"""Cell index + projection parity: Spark expressions vs a scalar python
oracle implementing the reference CellSpace semantics
(/root/reference/fedtraj/utils/cellspace.py:39-53) and lonlat2meters
(/root/reference/fedtraj/utils/tool_funcs.py:101-115).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trajlib_spark.config import PORTO_GRID, lonlat2meters_py, meters2lonlat_py
from trajlib_spark.functions.projection import inv_merc_lat, inv_merc_lon, merc_x, merc_y
from trajlib_spark.operators import cells

G = PORTO_GRID


def oracle_cell(x: float, y: float) -> tuple[int, int, int]:
    """Scalar reference semantics: clamp-to-center, int() trunc, floor-div."""
    if not (G.x_min <= x <= G.x_max and G.y_min <= y <= G.y_max):
        x = (G.x_min + G.x_max) / 2
        y = (G.y_min + G.y_max) / 2
    i_x = int(x - G.x_min) // int(G.x_unit)
    i_y = int(y - G.y_min) // int(G.y_unit)
    return i_x, i_y, i_x * G.y_size + i_y


@given(
    st.floats(G.x_min - 500, G.x_max + 500, allow_nan=False),
    st.floats(G.y_min - 500, G.y_max + 500, allow_nan=False),
)
@settings(max_examples=40, deadline=None)
def test_cell_id_matches_scalar_oracle(spark, x, y):
    ex, ey = cells.edge_idx(F.col("x"), F.col("y"), G)
    row = (
        spark.createDataFrame([(x, y)], "x double, y double")
        .select(
            cells.x_idx(F.col("x"), F.col("y"), G).alias("ix"),
            cells.y_idx(F.col("x"), F.col("y"), G).alias("iy"),
            cells.cell_id(F.col("x"), F.col("y"), G).alias("cid"),
            ex.alias("ex"),
            ey.alias("ey"),
        )
        .collect()[0]
    )
    assert (row.ix, row.iy, row.cid) == oracle_cell(x, y)
    assert (row.ex, row.ey) == cells.edge_idx_py(x, y, G)


def test_grid_dimensions():
    assert G.x_size == 203 and G.y_size == 162


def test_cell_id_roundtrip(spark):
    df = cells.all_cells(spark, G)
    ix, iy = cells.idx_from_cell_id(F.col("cell_id"), G)
    bad = df.where((ix != F.col("i_x")) | (iy != F.col("i_y"))).count()
    assert bad == 0
    assert df.count() == G.n_cells


def test_kring_counts(spark):
    # interior cell has 8 neighbors + center; corner has 3 + center
    df = spark.createDataFrame([(5, 5), (0, 0)], "ix long, iy long")
    out = df.select(
        F.size(cells.kring_cell_ids(F.col("ix"), F.col("iy"), G, 1)).alias("n")
    ).collect()
    assert [r.n for r in out] == [9, 4]


def test_neighbour_pairs_count(spark):
    # S/E sweeps: x*(y-1) + (x-1)*y; diagonals: 2*(x-1)*(y-1)
    x, y = G.x_size, G.y_size
    expected = x * (y - 1) + (x - 1) * y + 2 * (x - 1) * (y - 1)
    assert cells.neighbour_cell_pairs(spark, G).count() == expected


def test_cell_mbr(spark):
    row = (
        spark.range(1)
        .select(cells.cell_mbr(F.lit(3), F.lit(4), G).alias("m"))
        .collect()[0]["m"]
    )
    assert row.x_lo == pytest.approx(G.x_min + 300.0)
    assert row.y_hi == pytest.approx(G.y_min + 500.0)


def test_projection_matches_scalar(spark):
    pts = [(-8.6, 41.15), (-8.7005, 41.1001), (0.0, 0.0), (100.0, -45.0)]
    df = spark.createDataFrame(pts, "lon double, lat double").select(
        "lon", "lat", merc_x(F.col("lon")).alias("x"), merc_y(F.col("lat")).alias("y")
    )
    for r in df.collect():
        ex, ey = lonlat2meters_py(r.lon, r.lat)
        assert r.x == ex  # bit-identical arithmetic order
        assert r.y == pytest.approx(ey, abs=1e-9)


def test_projection_roundtrip(spark):
    df = spark.createDataFrame([(-8.61234, 41.17)], "lon double, lat double")
    out = df.select(
        inv_merc_lon(merc_x(F.col("lon"))).alias("lon2"),
        inv_merc_lat(merc_y(F.col("lat"))).alias("lat2"),
    ).collect()[0]
    assert out.lon2 == pytest.approx(-8.61234, abs=1e-9)
    assert out.lat2 == pytest.approx(41.17, abs=1e-9)
    # scalar inverse agrees too
    x, y = lonlat2meters_py(-8.61234, 41.17)
    lon, lat = meters2lonlat_py(x, y)
    assert lon == pytest.approx(-8.61234, abs=1e-12)
    assert lat == pytest.approx(41.17, abs=1e-12)


def test_with_cell_key_never_null(spark):
    df = spark.createDataFrame(
        [(None, None), (G.x_min - 1.0, G.y_min + 10.0), (G.x_min + 250.0, G.y_min + 420.0)],
        "x double, y double",
    )
    out = cells.with_cell(df, G)
    assert out.schema["cell_id"].nullable is False
    cx, cy = G.center
    center = oracle_cell(cx, cy)[2]
    assert cells.center_cell_id(G) == center
    got = [r.cell_id for r in out.collect()]
    assert got == [center, center, oracle_cell(G.x_min + 250.0, G.y_min + 420.0)[2]]
    cid = df.select(cells.cell_id(F.col("x"), F.col("y"), G).alias("c"))
    assert cid.schema["c"].nullable is False

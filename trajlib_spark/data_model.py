"""The engine's relational data model — typed schemas for every table the
reference keeps as convention-only pandas frames, plus the canonical
groupBy-collect transforms between flat and nested representations.

Reference model (/root/reference/trajlib/data_processing/utils/
data_definition.py):
- point table: essential (point_id, traj_id, timestamp) + lon/lat/road_id/
  grid_id (:12-14 + trajlib/data_processing/README.md)
- trajectory table: (traj_id, user_id, travel_time) (:13-15)
- GeoData: (geo_id, type, coord GeoJSON nesting) (:137-181)
- GeoRelationData: (rel_id, origin_id, dest_id) (:184-232)
- cal_all_trajs: per-trajectory timestamp-sorted attribute lists (:117-134)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

POINT_SCHEMA = T.StructType(
    [
        T.StructField("point_id", T.LongType()),
        T.StructField("traj_id", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("road_id", T.LongType()),
        T.StructField("grid_id", T.LongType()),
    ]
)

TRAJ_SCHEMA = T.StructType(
    [
        T.StructField("traj_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("travel_time_s", T.DoubleType()),
    ]
)

GEO_SCHEMA = T.StructType(
    [
        T.StructField("geo_id", T.LongType()),
        T.StructField("type", T.StringType()),  # point | linestring | polygon
        T.StructField(
            "coord", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
        ),
    ]
)

GEO_RELATION_SCHEMA = T.StructType(
    [
        T.StructField("rel_id", T.LongType()),
        T.StructField("origin_id", T.LongType()),
        T.StructField("dest_id", T.LongType()),
    ]
)

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType()),
        T.StructField("traj_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("seg_xs", T.ArrayType(T.DoubleType())),
        T.StructField("seg_ys", T.ArrayType(T.DoubleType())),
        T.StructField("emb", T.ArrayType(T.FloatType())),
    ]
)


def cal_all_trajs(points: DataFrame) -> DataFrame:
    """Per-trajectory timestamp-sorted lon / lat lists — the reference's
    cal_all_trajs (data_definition.py:117-134) as one sort_array +
    collect_list aggregation (no grouped-map UDF)."""
    attrs = ("lon", "lat")
    skey = F.struct(
        F.col("ts_ms"), F.col("point_id"), *[F.col(a).alias(f"_{a}") for a in attrs]
    )
    agg = points.groupBy("traj_id").agg(
        F.sort_array(F.collect_list(skey)).alias("_pts")
    )
    def field_getter(name: str):
        # a two-arg lambda would receive (element, index) from transform
        return lambda s: s[name]

    cols = [F.col("traj_id")] + [
        F.transform("_pts", field_getter(f"_{a}")).alias(f"{a}_list") for a in attrs
    ]
    return agg.select(
        *cols,
        F.transform("_pts", lambda s: s["ts_ms"]).alias("ts_list"),
        F.size("_pts").alias("n_points"),
    )


def traj_table_from_points(points: DataFrame) -> DataFrame:
    """Derive the trajectory table: travel_time = last - first timestamp
    (the reference's tte, trajlib/dataset/data_preprocessing.py:131-136);
    each trajectory is its own user, user_id = traj_id."""
    agg = points.groupBy("traj_id").agg(
        ((F.max("ts_ms") - F.min("ts_ms")) / 1000.0).alias("travel_time_s"),
    )
    return agg.select("traj_id", F.col("traj_id").alias("user_id"), "travel_time_s")


def polygon_adjacency(covering_cells: DataFrame) -> DataFrame:
    """GeoRelationData from the covering-cell index: polygons sharing a
    cell are adjacent (FIXTURES.md §F4). Equi-join on cell id; rel_id is a
    dense 1-based rank assigned with the partition-parallel
    global_row_number (no single-task global window)."""
    from .operators.segment import global_row_number

    a = covering_cells.select(F.col("geo_id").alias("origin_id"), "cell_id")
    b = covering_cells.select(F.col("geo_id").alias("dest_id"), "cell_id")
    pairs = (
        a.join(b, "cell_id")
        .where(F.col("origin_id") < F.col("dest_id"))
        .select("origin_id", "dest_id")
        .distinct()
    )
    ranked, _n = global_row_number(pairs, ("origin_id", "dest_id"))
    return ranked.select(
        (F.col("_rn0") + 1).cast("long").alias("rel_id"), "origin_id", "dest_id"
    )

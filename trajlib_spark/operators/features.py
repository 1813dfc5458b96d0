"""Per-point and per-trajectory feature extraction as window expressions.

``spatial_features`` reproduces generate_spatial_features
(/root/reference/fedtraj/utils/traj.py:126-154) bit-for-bit over an
exploded point table instead of a per-trajectory Python loop:

- dist  = mean of adjacent step lengths / (local_mask_sidelen / 1.414)
- radian = 1 - |π - atan2(x_prev - x, y_prev - y) + atan2(x_next - x, y_next - y)| / π
  (note the reference feeds atan2(dx, dy) — x first)
- x_norm/y_norm = position min-max-normalized inside the grid MBR
- first/last point of each trajectory get (x_norm, y_norm, 0, 0)

``kinematics`` adds the documented extensions (speed, acceleration, bearing
per step — the reference's Porto cadence fixes Δt = 15 s,
/root/reference/trajlib/data_processing/data_reader/porto.py:26-28, but we
use the actual per-point timestamps).

``traj_stats`` aggregates path length (/root/reference/fedtraj/utils/
traj.py:157-161), chord length, sinuosity = path/chord, travel time, and
point count per trajectory.

Points are (traj_id, ts_ms, point_id, x, y) rows, ordered by (ts_ms,
point_id) within a trajectory. One shuffle (hash by traj key);
everything else is codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DIST_FEATURE_SCALE, GridConfig
from ..functions.geometry import l2_distance

PI = math.pi


def spatial_features(
    points: DataFrame,
    grid: GridConfig,
    traj: str = "traj_id",
    order: list[str] | None = None,
) -> DataFrame:
    order = order or ["ts_ms", "point_id"]
    w = Window.partitionBy(traj).orderBy(*order)
    xp, yp = F.lag("x").over(w), F.lag("y").over(w)
    xn, yn = F.lead("x").over(w), F.lead("y").over(w)
    xc, yc = F.col("x"), F.col("y")

    prev_len = l2_distance(xp, yp, xc, yc)
    next_len = l2_distance(xc, yc, xn, yn)
    interior = xp.isNotNull() & xn.isNotNull()

    dist = ((prev_len + next_len) / F.lit(2.0)) / F.lit(DIST_FEATURE_SCALE)
    rad = (
        F.lit(PI)
        - F.atan2(xp - xc, yp - yc)
        + F.atan2(xn - xc, yn - yc)
    )
    radian = F.lit(1.0) - F.abs(rad) / F.lit(PI)

    x_norm = (xc - F.lit(grid.x_min)) / F.lit(grid.x_max - grid.x_min)
    y_norm = (yc - F.lit(grid.y_min)) / F.lit(grid.y_max - grid.y_min)

    return points.withColumns({
        "x_norm": x_norm,
        "y_norm": y_norm,
        "dist_feat": F.when(interior, dist).otherwise(F.lit(0.0)),
        "radian_feat": F.when(interior, radian).otherwise(F.lit(0.0)),
    })


def kinematics(points: DataFrame) -> DataFrame:
    """step_m (meters from previous point), dt_s, speed_mps, accel_mps2,
    bearing_rad (atan2(dy, dx) in (-π, π], geographic-style bearing of the
    incoming step). First point of a trajectory has NULL kinematics."""
    w = Window.partitionBy("traj_id").orderBy("ts_ms", "point_id")
    xp, yp = F.lag("x").over(w), F.lag("y").over(w)
    xc, yc = F.col("x"), F.col("y")
    step = l2_distance(xp, yp, xc, yc)
    dt = (F.col("ts_ms") - F.lag("ts_ms").over(w)) / F.lit(1000.0)
    speed = F.when(dt > 0, step / dt)
    df = points.withColumns({
        "step_m": step,
        "dt_s": dt,
        "speed_mps": speed,
        "bearing_rad": F.atan2(yc - yp, xc - xp),
    })
    accel = (F.col("speed_mps") - F.lag("speed_mps").over(w)) / F.col("dt_s")
    return df.withColumn("accel_mps2", F.when(F.col("dt_s") > 0, accel))


def traj_stats(points: DataFrame) -> DataFrame:
    """Per-trajectory aggregates: n_points, path_m, chord_m, sinuosity,
    travel_time_s, plus start/end coordinates. Single groupBy after the
    window pass; partial aggregation is map-side."""
    order = ["ts_ms", "point_id"]
    w = Window.partitionBy("traj_id").orderBy(*order)
    stepped = points.withColumn(
        "_step", l2_distance(F.lag("x").over(w), F.lag("y").over(w), F.col("x"), F.col("y"))
    )
    ordcols = [F.col(c) for c in order]
    agg = stepped.groupBy("traj_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(F.sum("_step"), F.lit(0.0)).alias("path_m"),
        F.min_by(F.struct("x", "y"), F.struct(*ordcols)).alias("_first"),
        F.max_by(F.struct("x", "y"), F.struct(*ordcols)).alias("_last"),
        ((F.max("ts_ms") - F.min("ts_ms")) / F.lit(1000.0)).alias("travel_time_s"),
    )
    chord = l2_distance(
        F.col("_first.x"), F.col("_first.y"), F.col("_last.x"), F.col("_last.y")
    )
    return agg.withColumns({
        "chord_m": chord,
        "sinuosity": F.when(chord > 0, F.col("path_m") / chord),
    }).drop("_first", "_last")

"""Stay-point collapse and trip sessionization as window expressions.

- ``collapse_consecutive_cells`` = the reference's ``merc2cell2``
  (/root/reference/fedtraj/utils/traj.py:118-123): map each point to its
  grid cell and drop points whose cell equals the previous kept point's
  cell. Because duplicates are *consecutive*, lag() over the raw order is
  exactly equivalent to the reference's sequential scan.
- ``sessionize`` = the Beijing raw-log trip cutter
  (/root/reference/fedtraj/utils/beijng2traj.py:61-90): a new trip starts
  when the time gap to the previous point exceeds 360 s; trips with fewer
  than 5 points are dropped.

Both are single-shuffle plans (one hash partition by traj/user key); at
100 TB the input should already be bucketed/partitioned by that key, making
these shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import MIN_TRIP_POINTS, SESSION_GAP_S, GridConfig
from . import cells


def collapse_consecutive_cells(
    points: DataFrame,
    grid: GridConfig,
    traj: str = "traj_id",
    order: list[str] | None = None,
) -> DataFrame:
    """Returns the kept points with (i_x, i_y, cell_id, seq) where seq is
    the 0-based position in the collapsed sequence. A point table without
    ``cell_id`` gets its cells from Mercator x/y."""
    order = order or ["ts_ms", "point_id"]
    if "cell_id" not in points.columns:
        points = cells.with_cell(points, grid)
    w = Window.partitionBy(traj).orderBy(*order)
    kept = points.withColumn("_prev_cell", F.lag("cell_id").over(w)).where(
        F.col("_prev_cell").isNull() | (F.col("cell_id") != F.col("_prev_cell"))
    )
    wk = Window.partitionBy(traj).orderBy(*order)
    return kept.withColumn("seq", F.row_number().over(wk) - 1).drop("_prev_cell")


def sessionize(points: DataFrame, min_points: int = MIN_TRIP_POINTS) -> DataFrame:
    """Attach (session_idx, session_id) per (traj_id, ts_ms, point_id)
    point; drop sessions shorter than ``min_points``. Gap rule: strictly
    greater than ``config.SESSION_GAP_S`` seconds since the previous point
    starts a new session (beijng2traj.py:79
    ``time_difference.total_seconds() > 360``)."""
    w = Window.partitionBy("traj_id").orderBy("ts_ms", "point_id")
    gap_ms = SESSION_GAP_S * 1000
    new_sess = F.when(
        (F.col("ts_ms") - F.lag("ts_ms").over(w)) > F.lit(gap_ms), 1
    ).otherwise(0)
    df = points.withColumn("session_idx", F.sum(new_sess).over(w))
    df = df.withColumn(
        "session_id", F.concat_ws("#", F.col("traj_id").cast("string"), F.col("session_idx"))
    )
    if min_points and min_points > 1:
        cnt = Window.partitionBy("traj_id", "session_idx")
        df = df.withColumn("_n", F.count(F.lit(1)).over(cnt)).where(
            F.col("_n") >= min_points
        ).drop("_n")
    return df

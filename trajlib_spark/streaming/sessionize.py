"""Structured-Streaming variant of the trip sessionizer.

The reference is batch-only (survey §2.14); this is the engine's streaming
extension: the 360-s gap rule (/root/reference/fedtraj/utils/
beijng2traj.py:72-89) maps exactly onto ``session_window(ts, gap)`` with a
watermark for late data. Output: one row per closed session per key with
point count and span — the streaming analog of staypoints.sessionize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SESSION_GAP_S


# the late-data horizon of streaming_sessions
WATERMARK = "30 minutes"


def streaming_sessions(events: DataFrame) -> DataFrame:
    """events must be a streaming DataFrame (readStream) of (user_id, ts)
    rows; sessions close after ``config.SESSION_GAP_S`` seconds without a
    point. Returns the windowed aggregation; attach writeStream with
    outputMode('append')."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window(F.col("ts"), f"{SESSION_GAP_S} seconds"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("window_start"),
            F.col("session_window.end").alias("window_end"),
            "n_points",
            "start_ts",
            "end_ts",
        )
    )

"""Structured-Streaming tile counting — the streaming analog of
raster.tile_counts (survey §2.4/§2.10; the reference is batch-only, this
is the engine's streaming extension alongside streaming/sessionize.py).

Each micro-batch's points get their cell id with the SAME pure-Catalyst
expressions as the batch path (operators/cells.py — expressions are
stream/batch agnostic), then a watermarked tumbling-window count per cell:
the incremental vector→raster bridge. Late points update their window
until the watermark passes; ``append`` emits each (window, cell) row once,
closed and final.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import GridConfig
from ..operators import cells


WINDOW = "1 minute"  # the tumbling count window
WATERMARK = "10 minutes"  # the late-data horizon


def streaming_tile_counts(points: DataFrame, grid: GridConfig) -> DataFrame:
    """points must be a streaming DataFrame with event time ``ts`` and
    Mercator ``x``/``y``. → (window_start, window_end, cell_id, i_x, i_y,
    cnt) per ``WINDOW``; attach writeStream with outputMode('append')."""
    with_cells = cells.with_cell(points.withColumn("ts", F.col("ts").cast("timestamp")), grid)
    return (
        with_cells.withWatermark("ts", WATERMARK)
        .groupBy(F.window(F.col("ts"), WINDOW), "cell_id", "i_x", "i_y")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cell_id", "i_x", "i_y", "cnt",
        )
    )

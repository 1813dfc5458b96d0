"""Tile pyramid and the vector↔raster bridge.

The grid's zoom levels halve resolution per step (config.GridConfig.at_zoom);
because ceil-division composes (ceil(ceil(a/u)/2) == ceil(a/2u)), the level-z
cell index of a point is exactly the base index right-shifted by z — so the
whole pyramid is a rollup over the base assignment, no re-projection, and the
zoom-z cell id is consistent with assigning points directly on the zoom-z
grid (property-tested). Tile geometry comes from get_mbr semantics
(/root/reference/fedtraj/utils/cellspace.py:20-24).

Raster bridge: cells → dense per-tile numpy arrays (grouped-map pandas UDF,
one row per TILE_SIZE×TILE_SIZE tile) and back (explode of the flattened
array, pure Catalyst). Dense tiles are the raster representation; the cell
rows are the vector one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import GridConfig
from . import cells

TILE_SIZE = 64
ZOOMS = (0, 1, 2, 3)  # the pyramid's levels


def tile_counts(points: DataFrame, grid: GridConfig, salt: int = 0) -> DataFrame:
    """(zoom, i_x, i_y, cell_id, cnt) per pyramid level of ``ZOOMS`` over
    Mercator x/y, built as a HIERARCHICAL rollup: the source is scanned exactly once for the finest
    level, and every coarser level aggregates the previous level's (tiny)
    cell table — parent count = sum of its 4 children. A per-level
    groupBy over the source would rescan (and re-mine) the input once per
    zoom, which at 100 TB is the whole cost of the query."""
    zooms = sorted(ZOOMS)
    idx = points.select(
        cells.x_idx(F.col("x"), F.col("y"), grid).alias("bx"),
        cells.y_idx(F.col("x"), F.col("y"), grid).alias("by"),
    )
    if salt and salt > 1:
        # two-phase salted count for pathologically hot cells (a plain
        # count groupBy is usually fine — map-side partial aggregation
        # already collapses hot keys — but callers seeing reducer skew can
        # spread each key over `salt` reducers explicitly)
        from . import skew

        base = skew.salted_count(idx, ["bx", "by"], salt=salt)
    else:
        base = idx.groupBy("bx", "by").agg(F.count(F.lit(1)).alias("cnt"))
    # Round 9: the per-level chained rollups (each its own exchange +
    # stage, run back-to-back) collapse into ONE explode + ONE aggregate:
    # every base cell emits its (zoom, i_x >> z, i_y >> z) row per level,
    # and a single groupBy sums the counts — the source is still scanned
    # exactly once, the exploded table is ≤ |levels| × |base cells| (tiny;
    # bounded by the grid, not the input), and 3 sequential shuffle stages
    # become 1. Counts are the same integer sums (associativity), so the
    # (zoom, i_x, i_y, cell_id, cnt) row set is identical.
    rolled = (
        base.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(z).alias("zoom"),
                        F.shiftright(F.col("bx"), z).alias("i_x"),
                        F.shiftright(F.col("by"), z).alias("i_y"),
                    )
                    for z in zooms
                ])
            ).alias("L"),
            "cnt",
        )
        .select(
            F.col("L.zoom").alias("zoom"),
            F.col("L.i_x").alias("i_x"),
            F.col("L.i_y").alias("i_y"),
            "cnt",
        )
        .groupBy("zoom", "i_x", "i_y")
        .agg(F.sum("cnt").alias("cnt"))
    )
    ysize = None
    for z in zooms:
        gz = grid.at_zoom(z)
        cond = F.col("zoom") == F.lit(z)
        ysize = (
            F.when(cond, F.lit(gz.y_size))
            if ysize is None
            else ysize.when(cond, F.lit(gz.y_size))
        )
    return rolled.select(
        "zoom",
        "i_x",
        "i_y",
        (F.col("i_x") * ysize + F.col("i_y")).cast("long").alias("cell_id"),
        "cnt",
    )


def to_dense_tiles(counts: DataFrame) -> DataFrame:
    """(zoom, tile_x, tile_y, pixels array<long>) — pixels is the
    row-major flattened TILE_SIZE×TILE_SIZE count raster (sparse cells = 0).
    Grouped by tile so each group is one bounded numpy array."""
    tile_size = TILE_SIZE
    t = counts.withColumns(
        {
            "tile_x": (F.col("i_x") / tile_size).cast("long"),
            "tile_y": (F.col("i_y") / tile_size).cast("long"),
            "px": F.col("i_x") % tile_size,
            "py": F.col("i_y") % tile_size,
        }
    )

    def densify(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros(tile_size * tile_size, dtype=np.int64)
        arr[pdf["py"].to_numpy() * tile_size + pdf["px"].to_numpy()] = pdf["cnt"].to_numpy()
        return pd.DataFrame(
            {
                "zoom": [int(pdf["zoom"].iloc[0])],
                "tile_x": [int(pdf["tile_x"].iloc[0])],
                "tile_y": [int(pdf["tile_y"].iloc[0])],
                "pixels": [arr.tolist()],
            }
        )

    return t.groupBy("zoom", "tile_x", "tile_y").applyInPandas(
        densify, "zoom int, tile_x long, tile_y long, pixels array<long>"
    )


def from_dense_tiles(tiles: DataFrame) -> DataFrame:
    """Inverse bridge: dense tiles → (zoom, i_x, i_y, cnt) vector cells,
    zero pixels dropped. Pure Catalyst (posexplode)."""
    tile_size = TILE_SIZE
    return (
        tiles.select(
            "zoom", "tile_x", "tile_y", F.posexplode("pixels").alias("pos", "cnt")
        )
        .where(F.col("cnt") > 0)
        .select(
            "zoom",
            (F.col("tile_x") * tile_size + F.col("pos") % tile_size).alias("i_x"),
            (F.col("tile_y") * tile_size + (F.col("pos") / tile_size).cast("long")).alias("i_y"),
            "cnt",
        )
    )

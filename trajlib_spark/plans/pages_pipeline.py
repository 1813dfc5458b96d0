"""The flagship end-to-end plan (north rule): pages → extracted text →
geotagged points → cell/tile assignment → point-in-polygon join → tile
pyramid, with every stage checkpointed + lineage rows so a run resumes
mid-pipeline.

This is the web-table graft of the reference preprocess pipeline
(/root/reference/fedtraj/utils/preprocessing_porto.py:326-343): CSV→points
becomes pages→mined points; the bbox filter generalizes to the polygon
join; cell assignment is identical CellSpace arithmetic.

The operator chain is written once, in ``steps``. ``flagship_frames``
composes it lazily in memory (the bench, ``__spark_entry__.entry``);
``pipeline_stages`` composes it through the store (``run_pipeline.py``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import PORTO_GRID
from ..operators import cells, extract, raster, spatial_join, staypoints
from ..sources.store import TableStore, run_stages

# the flagship's stages; the checkpointed pipeline also commits "collapsed"
FLAGSHIP = ("points", "cells", "pip_join", "tiles")


def steps(polygons: DataFrame) -> dict[str, tuple[str, Callable[[DataFrame], DataFrame]]]:
    """stage → (the stage it reads, step building it from that stage's frame)."""
    grid = PORTO_GRID
    return {
        "points": ("pages", extract.pages_to_points),
        "cells": ("points", lambda pts: cells.with_cell(pts, grid)),
        "collapsed": ("cells", lambda pts: staypoints.collapse_consecutive_cells(
            pts, grid, traj="url", order=["ts_ms", "pos"]
        )),
        "pip_join": ("cells", lambda pts: spatial_join.point_in_polygon(
            pts, polygons, grid, point_cols=["url", "pos", "cell_id"]
        )),
        "tiles": ("cells", lambda pts: raster.tile_counts(pts, grid)),
    }


def flagship_frames(pages: DataFrame, polygons: DataFrame) -> dict[str, DataFrame]:
    """The FLAGSHIP stages as lazy frames over the live pages: each frame is
    built on the frame of the stage it reads, so one cells prefix feeds
    both sinks."""
    frames = {"pages": pages}
    chain = steps(polygons)
    for name in FLAGSHIP:
        src, step = chain[name]
        frames[name] = step(frames[src])
    return frames


def pipeline_stages(pages: DataFrame, polygons: DataFrame):
    """Stage list for run_stages: each step reads its input from the store
    (so resume works) except the first, which reads the live pages frame."""

    def from_store(src, step):
        return lambda spark, store: step(store.load(spark, src))

    return [("pages", lambda spark, store: pages)] + [
        (name, from_store(src, step)) for name, (src, step) in steps(polygons).items()
    ]


def run_pages_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    store: TableStore,
    resume: bool = True,
) -> dict[str, str]:
    return run_stages(spark, store, pipeline_stages(pages, polygons), resume=resume)

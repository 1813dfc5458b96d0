"""Uniform-grid cell index (the engine's H3/S2 analog) as pure Catalyst
column expressions — no UDFs, so cell assignment stays inside whole-stage
codegen and fuses with the parquet scan.

Reference semantics (/root/reference/fedtraj/utils/cellspace.py):
- cell id layout ``i_x * y_size + i_y`` (:26-27)
- out-of-MBR points snap to the MBR center (:39-43) — quirk reproduced
  for cell assignment; ``edge_idx`` is the clamp-to-edge index that
  polygon coverage (through its scalar twin ``edge_idx_py``) and the kNN
  ring certificates use instead
- truncation order ``int(x - x_min) // x_unit`` (:47-48): integer cast of
  the offset *before* the unit division. For the non-negative offsets that
  remain after clamping this equals ``floor(floor(x - x_min) / x_unit)``,
  which is what we emit (property-tested against the scalar oracle).
- ``get_mbr`` (:20-24), ``neighbour_cellids`` 8-neighborhood (:55-67),
  and the neighbour-pair enumeration (:71-108).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GridConfig


def clamp_x(x: Column, y: Column, grid: GridConfig) -> Column:
    """Snap-to-center for out-of-range points (cellspace.py:39-43).
    Note the reference snaps *both* coordinates if *either* is outside."""
    cx, _ = grid.center
    return F.when(_in_mbr(x, y, grid), x).otherwise(F.lit(cx))


def clamp_y(x: Column, y: Column, grid: GridConfig) -> Column:
    _, cy = grid.center
    return F.when(_in_mbr(x, y, grid), y).otherwise(F.lit(cy))


def _in_mbr(x: Column, y: Column, grid: GridConfig) -> Column:
    return (
        (x >= F.lit(grid.x_min))
        & (x <= F.lit(grid.x_max))
        & (y >= F.lit(grid.y_min))
        & (y <= F.lit(grid.y_max))
    )


def _idx(v: Column, v_min: float, unit: float) -> Column:
    # int(v - v_min) // unit with v - v_min >= 0  ==  floor(floor(.)/unit)
    return F.floor(F.floor(v - F.lit(v_min)) / F.lit(unit)).cast("long")


def x_idx(x: Column, y: Column, grid: GridConfig) -> Column:
    return _idx(clamp_x(x, y, grid), grid.x_min, grid.x_unit)


def y_idx(x: Column, y: Column, grid: GridConfig) -> Column:
    return _idx(clamp_y(x, y, grid), grid.y_min, grid.y_unit)


def edge_idx(x: Column, y: Column, grid: GridConfig) -> tuple[Column, Column]:
    """(i_x, i_y) of the point clamped onto the MBR edge, each clipped to
    [0, size − 1]: the truncation of ``x_idx`` for in-MBR points, and the
    nearest edge cell for the rest. Projection onto the MBR never
    lengthens a distance, so with the integer units ``GridConfig`` keeps,
    two points whose indices differ by more than r on an axis are more
    than r·unit apart, on or off the grid."""
    def one(v: Column, v_min: float, v_max: float, unit: float, size: int) -> Column:
        clamped = F.greatest(F.lit(v_min), F.least(F.lit(v_max), v))
        return F.least(F.lit(size - 1), F.greatest(F.lit(0), _idx(clamped, v_min, unit)))

    return (one(x, grid.x_min, grid.x_max, grid.x_unit, grid.x_size),
            one(y, grid.y_min, grid.y_max, grid.y_unit, grid.y_size))


def cell_id_from_idx(i_x: Column, i_y: Column, grid: GridConfig) -> Column:
    return (i_x * F.lit(grid.y_size) + i_y).cast("long")


def _idx_py(v: float, v_min: float, unit: float) -> int:
    """``_idx`` in Python: the same floor arithmetic on a float."""
    return math.floor(math.floor(v - v_min) / unit)


def edge_idx_py(x: float, y: float, grid: GridConfig) -> tuple[int, int]:
    """Scalar twin of ``edge_idx``, for indexes built on the driver."""
    def one(v: float, v_min: float, v_max: float, unit: float, size: int) -> int:
        return min(size - 1, max(0, _idx_py(max(v_min, min(v_max, v)), v_min, unit)))

    return (one(x, grid.x_min, grid.x_max, grid.x_unit, grid.x_size),
            one(y, grid.y_min, grid.y_max, grid.y_unit, grid.y_size))


def center_cell_id(grid: GridConfig) -> int:
    """Cell id of the MBR center, where clamp_x/clamp_y park null and
    out-of-MBR points."""
    cx, cy = grid.center
    return _idx_py(cx, grid.x_min, grid.x_unit) * grid.y_size + _idx_py(
        cy, grid.y_min, grid.y_unit)


def _never_null(cid: Column, grid: GridConfig) -> Column:
    # The clamps send null and out-of-MBR coordinates to the center, so the
    # cell expression is never null; the coalesce (a no-op on every row)
    # only tells Catalyst so. See with_cell for why that matters.
    return F.coalesce(cid, F.lit(center_cell_id(grid)).cast("long"))


def cell_id(x: Column, y: Column, grid: GridConfig) -> Column:
    return _never_null(
        cell_id_from_idx(x_idx(x, y, grid), y_idx(x, y, grid), grid), grid
    )


def idx_from_cell_id(cid: Column, grid: GridConfig) -> tuple[Column, Column]:
    """Inverse: cell_id → (i_x, i_y) (cellspace.py:30-31)."""
    ys = F.lit(grid.y_size)
    return (cid / ys).cast("long"), cid % ys


def cell_mbr(i_x: Column, i_y: Column, grid: GridConfig) -> Column:
    """Tile geometry struct (x_lo, y_lo, x_hi, y_hi) (cellspace.py:20-24)."""
    x_lo = F.lit(grid.x_min) + F.lit(grid.x_unit) * i_x
    y_lo = F.lit(grid.y_min) + F.lit(grid.y_unit) * i_y
    return F.struct(
        x_lo.alias("x_lo"),
        y_lo.alias("y_lo"),
        (x_lo + F.lit(grid.x_unit)).alias("x_hi"),
        (y_lo + F.lit(grid.y_unit)).alias("y_hi"),
    )


def kring_cell_ids(i_x: Column, i_y: Column, grid: GridConfig, k: int) -> Column:
    """Array of boundary-clipped cell ids in the Chebyshev window of radius
    k around (i_x, i_y), the center included (k=1 is the reference's
    8-neighborhood plus the center, cellspace.py:55-67). Pure expression —
    explode it to fan out a kNN candidate join. Out-of-grid neighbors are
    dropped (boundary clipping, cellspace.py:59-60)."""
    cells = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx, ny = i_x + F.lit(dx), i_y + F.lit(dy)
            ok = (nx >= 0) & (nx < F.lit(grid.x_size)) & (ny >= 0) & (ny < F.lit(grid.y_size))
            cells.append(F.when(ok, cell_id_from_idx(nx, ny, grid)))
    return F.array_compact(F.array(*cells))


def all_cells(spark: SparkSession, grid: GridConfig) -> DataFrame:
    """One row per grid cell: (cell_id, i_x, i_y). Generated distributed
    via spark.range — never collected on the driver."""
    ys = grid.y_size
    return (
        spark.range(grid.n_cells)
        .select(
            F.col("id").alias("cell_id"),
            (F.col("id") / F.lit(ys)).cast("long").alias("i_x"),
            (F.col("id") % F.lit(ys)).alias("i_y"),
        )
    )


def neighbour_cell_pairs(spark: SparkSession, grid: GridConfig) -> DataFrame:
    """Every adjacent cell pair exactly once (S, E, SE, SW sweeps), the
    cell-graph edge list of cellspace.py:71-108 — built as 4 selects over
    the cell range + union, no cross join."""
    cells = all_cells(spark, grid)
    sweeps = []
    for dx, dy in ((0, 1), (1, 0), (1, 1), (1, -1)):
        nx, ny = F.col("i_x") + F.lit(dx), F.col("i_y") + F.lit(dy)
        sweeps.append(
            cells.where(
                (nx >= 0) & (nx < F.lit(grid.x_size)) & (ny >= 0) & (ny < F.lit(grid.y_size))
            ).select(
                F.col("cell_id").alias("src_cell"),
                cell_id_from_idx(nx, ny, grid).alias("dst_cell"),
            )
        )
    out = sweeps[0]
    for s in sweeps[1:]:
        out = out.unionAll(s)
    return out


def with_cell(df: DataFrame, grid: GridConfig) -> DataFrame:
    """Attach (i_x, i_y, cell_id) columns computed from Mercator x/y.

    ``cell_id`` is never null (null and out-of-MBR points snap to the
    center cell) and is declared non-nullable in the schema. Joining on a
    nullable key makes Catalyst infer ``isnotnull(cell_id)`` and push it
    below the projects, where the Filter re-evaluates the whole chain
    (coordinate parse, Mercator sin/ln, cell CASE) once per reference, with
    no common-subexpression elimination. On a non-nullable key the
    inferred filter folds to true, and the chain runs once, in the project.
    """
    xc, yc = F.col("x"), F.col("y")
    ix, iy = x_idx(xc, yc, grid), y_idx(xc, yc, grid)
    return df.withColumns({
        "i_x": ix,
        "i_y": iy,
        "cell_id": _never_null(cell_id_from_idx(ix, iy, grid), grid),
    })

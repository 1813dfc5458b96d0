"""Point-in-polygon spatial join, Spark-first.

Two-phase plan (the STRtree-broadcast analog from the survey §4.2):

1. **Coarse**: ``polygon_index`` rasterizes each polygon, on the driver, to
   the grid cells covering its bounding box and marks the cells that lie
   wholly inside it. The (geo_id, cell_id, full, coord) index is one Arrow
   table that Catalyst broadcast-joins with the point table on cell_id — a
   hash join, no theta join, no UDF. The same index gives the GeoRelation
   adjacency (``data_model.polygon_adjacency``).
2. **Refine**: an exact even-odd ray-cast implemented with array
   higher-order functions (aggregate/filter over the ring edges), staying
   inside codegen. Even-odd over all rings handles holes for free.

Reference semantics generalized: the reference only has the rectangular
``inrange`` containment test (/root/reference/fedtraj/utils/
preprocessing_porto.py:24-33) applied to every point of a trajectory; this
operator is the polygon-set generalization demanded by the GeoData model
(/root/reference/trajlib/data_processing/utils/data_definition.py:137-181).

At 100 TB: the polygon index is tiny (regions/countries) → broadcast; the
point side never shuffles at all — the join is map-side. Hot cells don't
matter here because the build side is the polygon index, not the points.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import GridConfig
from . import cells


def ray_cast_inside(x: Column, y: Column, coord: Column) -> Column:
    """Even-odd crossing test as a pure Catalyst expression over bound
    Columns. For each ring (closed: last vertex == first) count edges
    crossing the horizontal ray to +inf from the point; odd total = inside.
    The when() guard keeps the division away from horizontal edges
    (y2 == y1), which would error under Spark's ANSI mode; the crossing
    precondition already implies y2 != y1. The oracle SQL
    (synth.pip_crossing_case) implements the identical arithmetic.

    CRITICAL plan-safety detail: the point coordinates are threaded through
    the aggregate's *zero* value instead of being captured by the lambda
    bodies. Spark's reference tracking drops attributes that only appear
    captured inside lambda functions, which makes the optimizer believe
    this predicate references the polygon side alone and push it below the
    join — producing an invalid plan
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at runtime, observed on 4.1.x).
    With x/y in the zero argument the reference set is correct and the
    predicate stays at the join.
    """

    def crossing(e: Column, px: Column, py: Column) -> Column:
        ax, ay = e["0"][0], e["0"][1]
        bx, by = e["1"][0], e["1"][1]
        return F.when(
            (ay > py) != (by > py),
            px < ((bx - ax) * (py - ay) / (by - ay) + ax),
        ).otherwise(F.lit(False))

    def merge(acc: Column, ring: Column) -> Column:
        n = F.size(ring)
        edges = F.arrays_zip(F.slice(ring, 1, n - 1), F.slice(ring, 2, n - 1))
        cnt = F.size(F.filter(edges, lambda e: crossing(e, acc["px"], acc["py"])))
        return F.struct(
            (acc["c"] + cnt).alias("c"),
            acc["px"].alias("px"),
            acc["py"].alias("py"),
        )

    zero = F.struct(F.lit(0).alias("c"), x.alias("px"), y.alias("py"))
    total = F.aggregate(coord, zero, merge, lambda acc: acc["c"])
    return total % 2 == 1


def polygon_index(polygons: DataFrame, grid: GridConfig) -> DataFrame:
    """(geo_id, cell_id, full, coord): one row per grid cell that meets a
    polygon row's bounding box, clamped onto the MBR edge. coord rides on
    every row, so rows sharing a geo_id stay apart and the refine phase
    needs no second join. A polygon with no ring of >= 2 points has no
    edge, contains no point and covers no cell.

    The index is built on the driver: the polygon side is the bounded
    build side by design (regions/countries, broadcast anyway), and numpy
    classifies each cell in milliseconds where the same arithmetic as a
    Catalyst HOF expression cost ~0.5 s of planning per pass.

    A cell is ``full`` when the rectangle of every point it can hold,
    grown by a margin, is provably inside the polygon: no polygon edge's
    bbox overlaps the rectangle (so the even-odd parity is constant across
    it) and its lower-left corner has odd parity. Probes against full
    cells skip the ray cast. The margin (-2 below, +3 above) covers the
    floor-of-floor index slack of +1 with room. Out-of-MBR points park in
    the center cell at arbitrary coordinates, so that cell is never full.
    """
    import numpy as np
    import pyarrow as pa

    x_min, x_unit = grid.x_min, grid.x_unit
    y_min, y_unit, y_size = grid.y_min, grid.y_unit, grid.y_size
    center_cell_v = cells.center_cell_id(grid)

    polys = polygons.select("geo_id", "coord").toArrow()
    out_row, out_cell, out_full = [], [], []
    for row, coord in enumerate(polys.column("coord").to_pylist()):
        coord = coord or []
        segs = []
        for ring in coord:
            if ring and len(ring) >= 2:
                R = np.array(ring, dtype=np.float64)
                segs.append((R[:-1], R[1:]))
        if not segs:
            continue
        pts_all = np.array(
            [p for ring in coord if ring for p in ring], dtype=np.float64
        )
        xs_a, ys_a = pts_all[:, 0], pts_all[:, 1]
        ix_lo, iy_lo = cells.edge_idx_py(float(np.min(xs_a)), float(np.min(ys_a)), grid)
        ix_hi, iy_hi = cells.edge_idx_py(float(np.max(xs_a)), float(np.max(ys_a)), grid)
        cell_ids = (
            np.arange(ix_lo, ix_hi + 1, dtype=np.int64)[:, None] * y_size
            + np.arange(iy_lo, iy_hi + 1, dtype=np.int64)[None, :]
        ).ravel()
        A = np.concatenate([a for a, _ in segs])
        B = np.concatenate([b for _, b in segs])
        ax, ay, bx, by = A[:, 0], A[:, 1], B[:, 0], B[:, 1]
        ix = np.floor(cell_ids / float(y_size))
        iy = (cell_ids % y_size).astype(np.float64)
        rx_lo = (x_min + ix * x_unit - 2.0)[:, None]
        rx_hi = (x_min + (ix + 1) * x_unit + 3.0)[:, None]
        ry_lo = (y_min + iy * y_unit - 2.0)[:, None]
        ry_hi = (y_min + (iy + 1) * y_unit + 3.0)[:, None]
        overlap = (
            (np.maximum(ax, bx)[None, :] >= rx_lo)
            & (np.minimum(ax, bx)[None, :] <= rx_hi)
            & (np.maximum(ay, by)[None, :] >= ry_lo)
            & (np.minimum(ay, by)[None, :] <= ry_hi)
        ).any(axis=1)
        cond = (ay[None, :] > ry_lo) != (by[None, :] > ry_lo)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (bx - ax)[None, :] * (ry_lo - ay[None, :]) / (by - ay)[
                None, :
            ] + ax[None, :]
        inside = ((cond & (rx_lo < xint)).sum(axis=1) % 2) == 1
        full = (cell_ids != center_cell_v) & ~overlap & inside
        out_row.extend([row] * len(cell_ids))
        out_cell.extend(cell_ids.tolist())
        out_full.extend(full.tolist())

    taken = polys.take(pa.array(out_row, pa.int64()))
    index = pa.Table.from_arrays(
        [taken.column("geo_id"), pa.array(out_cell, pa.int64()),
         pa.array(out_full, pa.bool_()), taken.column("coord")],
        names=["geo_id", "cell_id", "full", "coord"],
    )
    return polygons.sparkSession.createDataFrame(index)


def point_in_polygon(
    points: DataFrame,
    polygons: DataFrame,
    grid: GridConfig,
    point_cols: list[str] | None = None,
) -> DataFrame:
    """Join rows (point columns…, geo_id) for every point inside a polygon.

    ``points`` needs Mercator columns x/y; cell_id is computed if absent.
    ``polygons`` is GeoData-shaped: (geo_id, coord array<array<array<double>>>).
    """
    if "cell_id" not in points.columns:
        points = cells.with_cell(points, grid)
    index = F.broadcast(polygon_index(polygons, grid))
    # refine lives in the join condition: evaluated exactly at the hash
    # join's probe, immune to pushdown/replan mangling
    cond = (points["cell_id"] == index["cell_id"]) & (
        index["full"]
        | ray_cast_inside(points["x"], points["y"], index["coord"])
    )
    cand = points.join(index, cond)
    out_cols = point_cols or [c for c in points.columns if c != "cell_id"]
    return cand.select(*[points[c] for c in out_cols], index["geo_id"])

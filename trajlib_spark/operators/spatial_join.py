"""Point-in-polygon spatial join, Spark-first.

Two-phase plan (the STRtree-broadcast analog from the survey §4.2):

1. **Coarse**: each polygon is rasterized to the grid cells covering its
   bounding box (pure expressions over the GeoJSON coord array), giving a
   small (cell_id, geo_id, coord) index that Catalyst broadcast-joins with
   the point table on cell_id — a hash join, no theta join, no UDF.
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
from pyspark.sql import types as T

from ..config import GridConfig
from . import cells


def polygon_covering_cells(polygons: DataFrame, grid: GridConfig) -> DataFrame:
    """(geo_id, cell_id, coord): every grid cell whose MBR intersects the
    polygon's bounding box. coord is carried along so the refine phase
    needs no second join."""
    pts = F.flatten(F.col("coord"))
    xs = F.transform(pts, lambda p: p[0])
    ys = F.transform(pts, lambda p: p[1])
    # coverage clamps the bounding box to the MBR edge (point assignment
    # snaps out-of-MBR points to the center instead)
    ix_lo, iy_lo = cells.edge_idx(F.array_min(xs), F.array_min(ys), grid)
    ix_hi, iy_hi = cells.edge_idx(F.array_max(xs), F.array_max(ys), grid)
    df = polygons.select(
        "geo_id",
        "coord",
        ix_lo.alias("ix_lo"),
        ix_hi.alias("ix_hi"),
        iy_lo.alias("iy_lo"),
        iy_hi.alias("iy_hi"),
    )
    df = df.select(
        "geo_id",
        "coord",
        F.explode(F.sequence("ix_lo", "ix_hi")).alias("i_x"),
        "iy_lo",
        "iy_hi",
    ).select(
        "geo_id",
        "coord",
        "i_x",
        F.explode(F.sequence("iy_lo", "iy_hi")).alias("i_y"),
    )
    return df.select(
        "geo_id",
        cells.cell_id_from_idx(F.col("i_x"), F.col("i_y"), grid).alias("cell_id"),
        "coord",
    )


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
    # Round 9: classify each covering cell ONCE at index-build time. A cell
    # is _full when a margin-grown rectangle containing every point the
    # cell can hold is provably inside the polygon: (a) no polygon edge's
    # bbox overlaps the rectangle — the boundary never enters it, so the
    # even-odd parity is constant across it — and (b) one rectangle corner
    # has odd parity. Probes against _full cells then skip the per-point
    # ray cast entirely (the interpreted HOF that dominated the pip stage);
    # only boundary-cell probes still pay it, and Or short-circuits. The
    # margin covers the inner-floor index slack (+1) with room (±2); the
    # grid's snap-to-center quirk parks out-of-MBR points in the CENTER
    # cell at arbitrary coordinates, so that one cell is never _full.
    # The covering cells AND the classification are computed ON THE DRIVER
    # in numpy: the polygon side is the bounded build side by design (the
    # module docstring's 100 TB story — regions/countries, already collected
    # to a broadcast), and the former giant Catalyst HOF expression cost
    # ~0.5 s of per-pass fixed ANALYSIS + interpreted evaluation on the
    # flagship critical path (measured: the cost barely scaled from 500 to
    # 18k index rows — it was planning-bound). The numpy replay computes
    # the identical arithmetic — same clamped-floor covering ranges, same
    # edge-bbox predicate per edge, same crossing expression
    # (bx−ax)·(py−ay)/(by−ay)+ax with IEEE doubles, same any-over-all-edges
    # / parity-over-all-rings shape (classification diffed cell-exact
    # against the Catalyst expression: 18 203 rows, 0 diffs) — in
    # milliseconds, and ships (cell, _full) scalars back per cell. geo_id
    # and coord go back once per polygon row, in a small local frame that
    # the tiny broadcast join re-attaches on the row index (a mapInPandas
    # variant that shipped coord per row measured SLOWER than the HOF
    # because of the nested-array Arrow transfer).
    import math

    import numpy as np
    import pandas as pd

    x_min, x_unit, x_max, x_size = grid.x_min, grid.x_unit, grid.x_max, grid.x_size
    y_min, y_unit, y_max, y_size = grid.y_min, grid.y_unit, grid.y_max, grid.y_size
    center_cell_v = cells.center_cell_id(grid)

    def _bidx(v: float, v_min: float, v_max: float, unit: float, size: int) -> int:
        clamped = max(v_min, min(v_max, v))
        idx = int(math.floor(math.floor(clamped - v_min) / unit))
        return min(size - 1, max(0, idx))

    # Each collected polygon row gets its own index (_pidx), and coord is
    # re-attached on that index, so rows sharing a geo_id stay apart.
    # A polygon with no ring of >= 2 points has no edge and so contains
    # no point: it is skipped and covers no cells.
    out_pidx, out_cell, out_full, kept = [], [], [], []
    for r in polygons.select("geo_id", "coord").collect():
        gid, coord = r["geo_id"], r["coord"] or []
        segs = []
        for ring in coord:
            if ring and len(ring) >= 2:
                R = np.array(ring, dtype=np.float64)
                segs.append((R[:-1], R[1:]))
        if not segs:
            continue
        pidx = len(kept)
        kept.append((pidx, gid, coord))
        pts_all = np.array(
            [p for ring in coord if ring for p in ring], dtype=np.float64
        )
        xs_a, ys_a = pts_all[:, 0], pts_all[:, 1]
        ix_lo = _bidx(float(np.min(xs_a)), x_min, x_max, x_unit, x_size)
        ix_hi = _bidx(float(np.max(xs_a)), x_min, x_max, x_unit, x_size)
        iy_lo = _bidx(float(np.min(ys_a)), y_min, y_max, y_unit, y_size)
        iy_hi = _bidx(float(np.max(ys_a)), y_min, y_max, y_unit, y_size)
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
        out_pidx.extend([pidx] * len(cell_ids))
        out_cell.extend(cell_ids.tolist())
        out_full.extend(full.tolist())

    spark = polygons.sparkSession
    schema = "_pidx long, _g_cell long, _full boolean"
    poly_schema = T.StructType([T.StructField("_pidx", T.LongType(), False),
                                polygons.schema["geo_id"], polygons.schema["coord"]])
    if kept:
        cells_df = spark.createDataFrame(
            pd.DataFrame(
                {"_pidx": out_pidx, "_g_cell": out_cell, "_full": out_full}
            ),
            schema=schema,
        )
        poly_df = spark.createDataFrame(
            pd.DataFrame(kept, columns=["_pidx", "geo_id", "coord"]),
            schema=poly_schema,
        )
    else:
        cells_df = spark.createDataFrame([], schema)
        poly_df = spark.createDataFrame([], poly_schema)
    index = F.broadcast(cells_df.join(F.broadcast(poly_df), "_pidx"))
    # refine lives in the join condition: evaluated exactly at the hash
    # join's probe, immune to pushdown/replan mangling
    cond = (points["cell_id"] == index["_g_cell"]) & (
        index["_full"]
        | ray_cast_inside(points["x"], points["y"], index["coord"])
    )
    cand = points.join(index, cond)
    out_cols = point_cols or [c for c in points.columns if c != "cell_id"]
    return cand.select(*[points[c] for c in out_cols], index["geo_id"])

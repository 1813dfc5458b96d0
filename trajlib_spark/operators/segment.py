"""Trajectory restructuring: TRACLUS segmentation, RDP simplification, and
federated sharding — grouped-map pandas UDFs (the per-trajectory recurrences
are inherently sequential, but trajectories are embarrassingly parallel,
which is exactly the grouped-map contract).

Reference semantics:
- traclus_partition + cut_trajectorys_into_segments
  (/root/reference/fedtraj/utils/trajclus.py:176-235;
  /root/reference/fedtraj/model/trainer/utils.py:133-168): segments are
  [cp_k, cp_{k+1}] inclusive, overlapping by one point.
- RDP with ε = traj_simp_dist = 100 (/root/reference/trajlib/utils/
  rdp.py:22-35; /root/reference/fedtraj/config.py:69).
- federated split: positional N-way shards (/root/reference/trajlib/utils/
  tool_funcs.py:228-236 — np.array_split order).

Scale: one shuffle to group by traj_id (none if the table is already
bucketed by it); per-group cost bounded by max_traj_len; Arrow batches
amortize the Python boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import TRAJ_SIMP_DIST
from ..kernels.rdp import rdp_mask
from ..kernels.traclus import cut_segments, traclus_mask

_SEGMENT_SCHEMA = (
    "traj_id string, seg_idx int, start_idx int, end_idx int, n_points int, "
    "seg_xs array<double>, seg_ys array<double>"
)


def segment_trajectories(points: DataFrame) -> DataFrame:
    """→ one row per TRACLUS segment with its polyline.

    Shape: nest to polylines first (sort_array inside the agg — one
    shuffle), then run the MDL kernel over WHOLE Arrow batches of
    trajectories via mapInPandas. groupBy().applyInPandas would invoke the
    python function once per trajectory (N python calls); batching cuts the
    per-call overhead by ~the batch size while the work stays identical."""
    from .similarity import collect_polylines

    polys = collect_polylines(points.select("traj_id", "ts_ms", "point_id", "x", "y"))
    # per-TRAJECTORY python kernel: respread explicitly (AQE coalesces the
    # few-MB polyline table onto 1-2 cores otherwise)
    polys = polys.repartition(
        polys.sparkSession.sparkContext.defaultParallelism, "traj_id"
    )

    def cut(batches):
        for pdf in batches:
            rows = []
            for tid, xs, ys in zip(pdf["traj_id"], pdf["xs"], pdf["ys"]):
                xs = np.asarray(xs, dtype=np.float64)
                ys = np.asarray(ys, dtype=np.float64)
                tr = np.column_stack([xs, ys])
                for k, (a, b) in enumerate(cut_segments(traclus_mask(tr))):
                    rows.append(
                        (str(tid), k, int(a), int(b), int(b - a + 1),
                         xs[a : b + 1].tolist(), ys[a : b + 1].tolist())
                    )
            yield pd.DataFrame(
                rows,
                columns=["traj_id", "seg_idx", "start_idx", "end_idx",
                         "n_points", "seg_xs", "seg_ys"],
            )

    return polys.mapInPandas(cut, _SEGMENT_SCHEMA)


def simplify_trajectories(points: DataFrame) -> DataFrame:
    """Attach a boolean RDP keep-flag ``rdp_keep`` per point, ε =
    ``config.TRAJ_SIMP_DIST`` (filter on it to simplify)."""
    src = points.select("traj_id", "ts_ms", "point_id", "x", "y")
    schema = ("traj_id string, ts_ms long, point_id long, x double, y double, "
              "rdp_keep boolean")

    def simp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_ms", "point_id"], kind="mergesort").copy()
        tr = np.column_stack([pdf["x"].to_numpy(), pdf["y"].to_numpy()])
        pdf["rdp_keep"] = rdp_mask(tr, TRAJ_SIMP_DIST)
        pdf["traj_id"] = pdf["traj_id"].astype(str)
        return pdf

    return src.groupBy("traj_id").applyInPandas(simp, schema)


def global_row_number(df: DataFrame, order: tuple[str, ...]) -> tuple[DataFrame, int]:
    """0-based global row number ``_rn0`` in ``order`` WITHOUT a single-task global
    window: range-partition on the order keys (ascending partition ids hold
    ascending key ranges), rank inside each partition in parallel, then add
    per-partition offsets computed from a tiny count-per-partition job.
    This is the two-pass zipWithIndex pattern — every stage is
    partition-parallel, so it holds at any N. Returns (df + ``_rn0``,
    total row count). Deterministic when the order keys are unique. Row
    numbers and counts read one eager local checkpoint, whose blocks go
    with the frame (the session's cache is left as it was)."""
    P = max(
        df.sparkSession.sparkContext.defaultParallelism,
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    d = df.repartitionByRange(P, *[F.col(c) for c in order]).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=True)
    counts = dict(d.groupBy("_pid").count().collect())
    kv, acc = [], 0
    for pid in sorted(counts):
        kv += [F.lit(pid), F.lit(acc)]
        acc += counts[pid]
    off_expr = F.element_at(F.create_map(*kv), F.col("_pid")) if kv else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order])
    return (
        d.withColumn("_rn0", (off_expr + F.row_number().over(w) - 1).cast("long"))
        .drop("_pid"),
        acc,
    )


def positional_split(
    df: DataFrame, fractions: dict[str, tuple[float, float]]
) -> DataFrame:
    """Deterministic train/eval/test slicing by positional fractions in
    ``traj_id`` order — the reference's read_traj_dataset splits
    (/root/reference/fedtraj/utils/data_loader.py:31-40: e.g. train
    [0, 0.7), eval [0.7, 0.8), test [0.8, 1.0)). Adds a `split` column;
    rows outside every range get NULL. Ranking is partition-parallel
    (global_row_number), never a single-task global window."""
    d, n = global_row_number(df, ("traj_id",))
    rn = F.col("_rn0")
    expr = F.lit(None).cast("string")
    for name, (lo, hi) in reversed(list(fractions.items())):
        lo_i, hi_i = int(lo * n), int(hi * n)
        expr = F.when((rn >= F.lit(lo_i)) & (rn < F.lit(hi_i)), F.lit(name)).otherwise(expr)
    return d.withColumn("split", expr).drop("_rn0")


def pad_polylines(polys: DataFrame, max_len: int) -> DataFrame:
    """Pad nested polylines (xs, ys) to ``max_len`` by repeating the last
    point, as xs_pad / ys_pad —
    the ML-boundary padding step (/root/reference/trajlib/dataset/
    data_preprocessing.py:109-120), as a pure Catalyst transform (storage
    stays variable-length; only the model-facing view is padded)."""

    def pad(col: str) -> F.Column:
        arr = F.col(col)
        return F.transform(
            F.sequence(F.lit(1), F.lit(max_len)),
            lambda i: F.element_at(arr, F.least(i, F.size(arr))),
        )

    return polys.withColumns({"xs_pad": pad("xs"), "ys_pad": pad("ys")})


def federated_split(trajs: DataFrame, fed_num: int) -> DataFrame:
    """Attach fed_id ∈ [0, fed_num): positional N-way split in ``traj_id`` order
    (np.array_split semantics: the first n % fed_num shards get one extra
    row). Deterministic given the order columns; ranking is
    partition-parallel (global_row_number), never a single-task window."""
    d, n = global_row_number(trajs, ("traj_id",))
    base, extra = divmod(n, fed_num)
    # row_number 1..n → shard via array_split boundaries
    boundaries = []
    acc = 0
    for s in range(fed_num):
        acc += base + (1 if s < extra else 0)
        boundaries.append(acc)
    rn = F.col("_rn0") + 1
    expr = F.lit(fed_num - 1)
    for s in range(fed_num - 2, -1, -1):
        expr = F.when(rn <= F.lit(boundaries[s]), F.lit(s)).otherwise(expr)
    return d.withColumn("fed_id", expr).drop("_rn0")

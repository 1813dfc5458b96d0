"""Porto taxi CSV scan and the reference preprocess pipeline, Spark-first.

Reference semantics:
- CSV → point rows: parse the POLYLINE JSON into per-point rows, synthesize
  15-second timestamps from the trip TIMESTAMP, assign global point ids
  (/root/reference/trajlib/data_processing/data_reader/porto.py:8-61).
  Re-expressed as from_json + posexplode + window arithmetic — the
  reference's iterrows loop becomes three Catalyst operators.
- clean_and_output_data (/root/reference/fedtraj/utils/
  preprocessing_porto.py:35-69): drop MISSING_DATA, keep
  min_traj_len <= len <= max_traj_len, keep trajectories whose points are
  ALL strictly inside the bbox (inrange, :24-33), project to Mercator.
  Filters expressed on the nested array (size/forall) so they run before
  the explode and push into the scan.

A deterministic porto-shaped fixture generator (FIXTURES.md §F2) is
included so tests need no external data.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import (
    MAX_LAT,
    MAX_LON,
    MAX_TRAJ_LEN,
    MIN_LAT,
    MIN_LON,
    MIN_TRAJ_LEN,
)
from ..functions.projection import merc_x, merc_y

PORTO_SCHEMA = (
    "TRIP_ID string, CALL_TYPE string, ORIGIN_CALL string, ORIGIN_STAND string, "
    "TAXI_ID long, TIMESTAMP long, DAY_TYPE string, MISSING_DATA boolean, "
    "POLYLINE string"
)


def read_porto_csv(spark: SparkSession, path: str) -> DataFrame:
    """Raw trips with the POLYLINE parsed to array<array<double>>."""
    return spark.read.csv(path, header=True, schema=PORTO_SCHEMA).withColumn(
        "wgs_seq", F.from_json("POLYLINE", "array<array<double>>")
    )


def clean_trips(trips: DataFrame) -> DataFrame:
    """The reference preprocess: missing filter → length filter → strict
    bbox containment of EVERY point → Mercator-projected nested polyline
    (preprocessing_porto.py:35-69). Output: (traj_id, trajlen, wgs_seq,
    merc_xs, merc_ys)."""
    inrange = F.forall(
        "wgs_seq",
        lambda p: (p[0] > F.lit(MIN_LON))
        & (p[0] < F.lit(MAX_LON))
        & (p[1] > F.lit(MIN_LAT))
        & (p[1] < F.lit(MAX_LAT)),
    )
    return (
        trips.where(~F.col("MISSING_DATA"))
        .withColumn("trajlen", F.size("wgs_seq"))
        .where(F.col("trajlen").between(MIN_TRAJ_LEN, MAX_TRAJ_LEN))
        .where(inrange)
        .select(
            F.col("TRIP_ID").alias("traj_id"),
            "trajlen",
            "wgs_seq",
            F.transform("wgs_seq", lambda p: F.lit(6378137.0) * (p[0] * F.lit(0.017453292519943295))).alias("merc_xs"),
            F.transform(
                "wgs_seq",
                lambda p: F.lit(3189068.5)
                * F.log(
                    (F.lit(1.0) + F.sin(p[1] * F.lit(0.017453292519943295)))
                    / (F.lit(1.0) - F.sin(p[1] * F.lit(0.017453292519943295)))
                ),
            ).alias("merc_ys"),
        )
    )


def trips_to_points(trips: DataFrame) -> DataFrame:
    """Explode trips to the normalized point table
    (point_id, traj_id, ts_ms, lon, lat, x, y) with the reference's
    synthetic 15-second cadence (porto.py:26-28: (TIMESTAMP + 15 i);
    the reference stores ns, we standardize on ms)."""
    pts = trips.select(
        F.col("TRIP_ID").alias("traj_id"),
        F.col("TIMESTAMP").alias("base_s"),
        F.posexplode("wgs_seq").alias("pos", "p"),
    ).select(
        "traj_id",
        "pos",
        ((F.col("base_s") + F.lit(15) * F.col("pos")) * 1000).alias("ts_ms"),
        F.col("p")[0].alias("lon"),
        F.col("p")[1].alias("lat"),
    )
    return pts.withColumns(
        {
            "x": merc_x(F.col("lon")),
            "y": merc_y(F.col("lat")),
            # content-derived id: deterministic under ANY partition layout
            # or core count (monotonically_increasing_id encodes the
            # partition index and silently changes when the scan splits
            # differently); (traj_id, pos) is unique by construction, so
            # the 64-bit hash is unique w.h.p. and point_id stays a valid
            # tie-break — within a trajectory ts_ms already orders points
            "point_id": F.xxhash64(F.col("traj_id"), F.col("pos")),
        }
    )


def porto_fixture_rows(n: int, seed: int = 42) -> list[tuple]:
    """Deterministic porto-shaped rows (FIXTURES.md §F2): seeded random
    walks straddling the length/bbox/missing filters on purpose."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        length = int(rng.integers(2, 251))
        lon = MIN_LON + rng.random() * (MAX_LON - MIN_LON)
        lat = MIN_LAT + rng.random() * (MAX_LAT - MIN_LAT)
        pts = []
        for _ in range(length):
            lon += float(rng.uniform(-0.001, 0.001))
            lat += float(rng.uniform(-0.001, 0.001))
            pts.append([round(lon, 6), round(lat, 6)])
        if i % 13 == 0:  # push partially out of bbox
            pts = [[p[0] + 1.0, p[1]] for p in pts]
        rows.append(
            (
                str(1372636858620000000 + i),
                "ABC"[i % 3],
                None if i % 7 else "7",
                None if i % 5 else "2.0",
                20000000 + (i % 50),
                1372636858 + 60 * i,
                "A",
                i % 23 == 0,
                json.dumps(pts, separators=(",", ":")),
            )
        )
    return rows


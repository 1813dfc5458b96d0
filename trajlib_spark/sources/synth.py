"""Deterministic synthetic derivations over the driver's testdata tables.

The correctness gate runs every Spark query against a DuckDB oracle on the
same parquet files, so anything both sides consume (points mined per event,
polygons per nation) is defined here ONCE as SQL text with double-typed
(`…e0`) literals and identical parenthesization, and executed verbatim by
both engines. Pure +,-,*,/,% double/int arithmetic is bit-identical across
engines; sin/ln differ by ≤1 ULP, which downstream integer outputs absorb.

Semantics grafted from the reference:
- points play the trajectory-point table (traj_id := user_id,
  timestamp := event ts; cf. /root/reference/trajlib/data_processing/utils/
  data_definition.py:12-15) with lon/lat inside the Porto bbox
  (/root/reference/fedtraj/config.py:125-130);
- polygons play the GeoData polygon set (data_definition.py:137-181):
  25 deterministic octagons in Web-Mercator meters, one per nation row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import (
    DEG2RAD,
    LAT_HASH_ADD,
    LAT_HASH_MOD,
    LAT_HASH_MULT,
    LAT_SPAN,
    LON_HASH_MOD,
    LON_HASH_MULT,
    LON_SPAN,
    MERC_Y_SCALE,
    MIN_LAT,
    MIN_LON,
    PORTO_GRID,
    SEMI_MAJOR_AXIS,
)
from . import tables


def dlit(v: float) -> str:
    """Render a float as a literal that parses as DOUBLE (not DECIMAL) in
    both Spark SQL and DuckDB."""
    s = repr(float(v))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


# --- points: one synthetic geotagged point per event row -------------------

_LON_EXPR = (
    f"{dlit(MIN_LON)} + ((CAST((event_id * {LON_HASH_MULT}) % {LON_HASH_MOD} AS DOUBLE)"
    f" / {dlit(LON_HASH_MOD)}) * {dlit(LON_SPAN)})"
)
_LAT_EXPR = (
    f"{dlit(MIN_LAT)} + ((CAST((event_id * {LAT_HASH_MULT} + {LAT_HASH_ADD}) % {LAT_HASH_MOD} AS DOUBLE)"
    f" / {dlit(LAT_HASH_MOD)}) * {dlit(LAT_SPAN)})"
)
_X_EXPR = f"{dlit(SEMI_MAJOR_AXIS)} * (lon * {dlit(DEG2RAD)})"
_Y_EXPR = (
    f"{dlit(MERC_Y_SCALE)} * ln((1.0e0 + sin(lat * {dlit(DEG2RAD)}))"
    f" / (1.0e0 - sin(lat * {dlit(DEG2RAD)})))"
)


def points_sql(dialect: str, events: str = "events") -> str:
    """Synthetic point table: (point_id, traj_id, ts_ms, lon, lat, x, y)."""
    # testdata timestamps are TZ-naive; the Spark session is pinned to UTC
    # so casting NTZ → TIMESTAMP is the identity and matches DuckDB's
    # epoch_ms over the same naive value.
    ms = "unix_millis(CAST(ts AS TIMESTAMP))" if dialect == "spark" else "epoch_ms(ts)"
    return f"""
SELECT point_id, traj_id, ts_ms, lon, lat,
       {_X_EXPR} AS x,
       {_Y_EXPR} AS y
FROM (
  SELECT event_id AS point_id,
         user_id  AS traj_id,
         {ms}     AS ts_ms,
         {_LON_EXPR} AS lon,
         {_LAT_EXPR} AS lat
  FROM {events}
) raw_points
"""


def synthetic_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of points_sql — identical text via the SQL API, so the
    plan is fully Catalyst-optimizable (scan-fused projections)."""
    # The NTZ→TIMESTAMP cast inside points_sql is interpreted in the
    # session timezone; DuckDB's epoch_ms over the same naive value is
    # UTC. Pin it here so the caller's session config can't skew ts_ms.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = tables.read_table(spark, f"{sf_dir}/events.parquet", tables.EVENTS)
    events.createOrReplaceTempView("ts_synth_events")
    return spark.sql(points_sql("spark", events="ts_synth_events"))


# --- polygons: 25 deterministic octagons, one per nation row ---------------

_G = PORTO_GRID
# n_nationkey is INT32 — widen before multiplying (Spark 4 runs ANSI mode,
# where int32 overflow is an error rather than a wrap).
_NK = "CAST(n_nationkey AS BIGINT)"
_CX_EXPR = (
    f"{dlit(_G.x_min + 1000.0)} + ((CAST(({_NK} * {LON_HASH_MULT}) % 997 AS DOUBLE)"
    f" / 997.0e0) * {dlit((_G.x_max - _G.x_min) - 2000.0)})"
)
_CY_EXPR = (
    f"{dlit(_G.y_min + 1000.0)} + ((CAST(({_NK} * {LAT_HASH_MULT} + 7) % 991 AS DOUBLE)"
    f" / 991.0e0) * {dlit((_G.y_max - _G.y_min) - 2000.0)})"
)
_HW_EXPR = f"400.0e0 + CAST(({_NK} * 37) % 23 AS DOUBLE) * 100.0e0"
_HH_EXPR = f"300.0e0 + CAST(({_NK} * 53) % 19 AS DOUBLE) * 100.0e0"

# Octagon vertices, counter-clockwise (rectangle with cut corners).
_VERTS: list[tuple[str, str]] = [
    ("(cx - hw) + cut", "cy - hh"),
    ("(cx + hw) - cut", "cy - hh"),
    ("cx + hw", "(cy - hh) + cut"),
    ("cx + hw", "(cy + hh) - cut"),
    ("(cx + hw) - cut", "cy + hh"),
    ("(cx - hw) + cut", "cy + hh"),
    ("cx - hw", "(cy + hh) - cut"),
    ("cx - hw", "(cy - hh) + cut"),
]


def polygons_base_sql(nation: str = "nation") -> str:
    """CTE body producing (geo_id, cx, cy, hw, hh, cut)."""
    return f"""
SELECT geo_id, cx, cy, hw, hh, 0.4e0 * least(hw, hh) AS cut
FROM (
  SELECT n_nationkey AS geo_id,
         {_CX_EXPR} AS cx,
         {_CY_EXPR} AS cy,
         {_HW_EXPR} AS hw,
         {_HH_EXPR} AS hh
  FROM {nation}
) poly_params
"""


def polygon_edges_sql() -> str:
    """(geo_id, x1, y1, x2, y2) — the 8 directed edges of each octagon."""
    arms = []
    n = len(_VERTS)
    for i in range(n):
        x1, y1 = _VERTS[i]
        x2, y2 = _VERTS[(i + 1) % n]
        arms.append(
            f"SELECT geo_id, {x1} AS x1, {y1} AS y1, {x2} AS x2, {y2} AS y2 FROM poly_base"
        )
    union = "\nUNION ALL\n".join(arms)
    return f"WITH poly_base AS ({polygons_base_sql()})\n{union}"


def synthetic_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark polygon table in GeoData shape: (geo_id, type, coord) with
    coord = array<array<array<double>>> — one closed outer ring."""
    nation = tables.read_table(spark, f"{sf_dir}/nation.parquet", tables.NATION)
    nation.createOrReplaceTempView("ts_synth_nation")
    base = spark.sql(polygons_base_sql(nation="ts_synth_nation"))
    ring_elems = [
        F.array(F.expr(x), F.expr(y)) for x, y in _VERTS
    ]
    # close the ring (GeoJSON convention: last vertex == first)
    ring_elems.append(F.array(F.expr(_VERTS[0][0]), F.expr(_VERTS[0][1])))
    return base.select(
        F.col("geo_id").cast("long").alias("geo_id"),
        F.lit("polygon").alias("type"),
        F.array(F.array(*ring_elems)).alias("coord"),
    )


def pip_crossing_case(px: str, py: str, e: str = "e") -> str:
    """The even-odd crossing predicate for one directed edge
    ({e}.x1,{e}.y1)→({e}.x2,{e}.y2) against the ray from point ({px},{py})
    to +inf. CASE-guarded so horizontal edges never divide by zero (Spark
    ANSI mode errors on it; DuckDB would return NULL). Must stay textually
    equivalent to spatial_join.ray_cast_inside."""
    return (
        f"CASE WHEN (({e}.y1 > {py}) <> ({e}.y2 > {py})) "
        f"THEN {px} < (({e}.x2 - {e}.x1) * ({py} - {e}.y1) / ({e}.y2 - {e}.y1) + {e}.x1) "
        f"ELSE false END"
    )


"""Planar / spherical geometry scalar functions as Catalyst expressions.

Reference semantics:
- l2_distance: /root/reference/fedtraj/utils/tool_funcs.py:52-53
- haversine (non-standard Earth radius 6 367 000 m): tool_funcs.py:56-72
- radian (bearing in [0, 2π), rounded to 3 decimals): tool_funcs.py:76-97
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

HAVERSINE_RADIUS_M = 6367.0 * 1000.0  # reference quirk: 6367 km, not 6371
PI = math.pi
HALF_PI = 1.5707963267948966
THREE_HALF_PI = 4.71238898038469
TWO_PI = 6.283185307179586


def l2_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    return F.sqrt(F.pow(x2 - x1, F.lit(2.0)) + F.pow(y2 - y1, F.lit(2.0)))


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    dlon = rlon2 - rlon1
    dlat = rlat2 - rlat1
    a = (
        F.pow(F.sin(dlat / 2.0), F.lit(2.0))
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2.0), F.lit(2.0))
    )
    return F.lit(2.0) * F.asin(F.sqrt(a)) * F.lit(HAVERSINE_RADIUS_M)


def bearing_radian(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Segment angle in [0, 2π) rounded to 3 decimals; exact piecewise
    structure of the reference (atan of dy/dx plus quadrant corrections,
    tool_funcs.py:76-97) rather than atan2, to keep float parity."""
    dy = lat2 - lat1
    dx = lon2 - lon1
    base = F.atan(dy / dx)
    r = (
        F.when(dx == 0.0, F.when(dy >= 0.0, F.lit(HALF_PI)).otherwise(F.lit(THREE_HALF_PI)))
        .when(dx < 0.0, base + F.lit(PI))
        .when(dy < 0.0, base + F.lit(TWO_PI))
        .otherwise(base)
    )
    # + 0.0 normalizes a possible IEEE -0.0 to +0.0 (byte-parity with the
    # DuckDB oracle, which applies the matching `round(...) + 0e0`).
    return F.round(r, 3) + F.lit(0.0)

"""Engine configuration: bounding boxes, the uniform cell grid, and shared
deterministic-derivation constants.

The grid semantics mirror the reference CellSpace
(/root/reference/fedtraj/utils/cellspace.py:4-53): an axis-aligned MBR in
Web-Mercator meters, unit cells ``x_unit × y_unit``, cell ids laid out as
``i_x * y_size + i_y``, out-of-range points snapped to the MBR center, and
the idiosyncratic ``int(offset) // unit`` truncation order
(cellspace.py:47-48) which we reproduce exactly for tile parity.

All constants that must agree bit-for-bit between the Spark pipeline and the
DuckDB oracle SQL are defined here once and interpolated as ``repr()`` double
literals into both sides.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

# Porto bounding box, from the reference Config
# (/root/reference/fedtraj/config.py:125-130).
MIN_LON = -8.7005
MIN_LAT = 41.1001
MAX_LON = -8.5192
MAX_LAT = 41.2086
LON_SPAN = MAX_LON - MIN_LON
LAT_SPAN = MAX_LAT - MIN_LAT

# Reference grid parameters (/root/reference/fedtraj/config.py:41-42).
CELL_SIZE = 100.0
CELLSPACE_BUFFER = 50.0

# Feature scaling constant: local_mask_sidelen = 11 * cell_size
# (/root/reference/fedtraj/config.py:62), divided by 1.414 in
# generate_spatial_features (/root/reference/fedtraj/utils/traj.py:135).
LOCAL_MASK_SIDELEN = 11.0 * CELL_SIZE
DIST_FEATURE_SCALE = LOCAL_MASK_SIDELEN / 1.414

# Trajectory filters (/root/reference/fedtraj/config.py:39-40).
MIN_TRAJ_LEN = 5
MAX_TRAJ_LEN = 200

# Sessionization gap, seconds (/root/reference/fedtraj/utils/beijng2traj.py:79)
# and the minimum points per trip (:89).
SESSION_GAP_S = 360
MIN_TRIP_POINTS = 5

# RDP simplification epsilon (/root/reference/fedtraj/config.py:69).
TRAJ_SIMP_DIST = 100.0

# LCSS / EDR epsilon on normalized coordinates
# (/root/reference/fedtraj/config.py:75).
LCSS_EDR_EPS = 0.25

# Clustering parameters (/root/reference/clustering.py:179-186).
DBSCAN_EPS = 1000.0
DBSCAN_MIN_SAMPLES = 2
FED_MERGE_EPS = 3.0

# Web-Mercator constants (/root/reference/fedtraj/utils/tool_funcs.py:101-115).
DEG2RAD = 0.017453292519943295
SEMI_MAJOR_AXIS = 6378137.0
MERC_Y_SCALE = 3189068.5  # semimajoraxis / 2


def lonlat2meters_py(lon: float, lat: float) -> tuple[float, float]:
    """Scalar Web-Mercator projection, exact reference arithmetic order
    (/root/reference/fedtraj/utils/tool_funcs.py:101-106)."""
    east = lon * DEG2RAD
    north = lat * DEG2RAD
    t = math.sin(north)
    return SEMI_MAJOR_AXIS * east, MERC_Y_SCALE * math.log((1 + t) / (1 - t))


def meters2lonlat_py(x: float, y: float) -> tuple[float, float]:
    """Inverse projection (/root/reference/fedtraj/utils/tool_funcs.py:110-115)."""
    lon = x / SEMI_MAJOR_AXIS / DEG2RAD
    t = math.exp(y / MERC_Y_SCALE)
    lat = math.asin((t - 1) / (t + 1)) / DEG2RAD
    return lon, lat


@dataclass(frozen=True)
class GridConfig:
    """Uniform cell grid over a Web-Mercator MBR.

    Mirrors CellSpace (/root/reference/fedtraj/utils/cellspace.py:4-53):
    ``x_size = ceil((x_max - x_min) / x_unit)`` and cell id
    ``i_x * y_size + i_y``. ``x_unit`` stays an integer-valued float so
    that ``int(offset) // x_unit`` (reference truncation order) equals
    ``floor(floor(offset) / x_unit)`` for the non-negative offsets that
    remain after clamping.
    """

    x_unit: float
    y_unit: float
    x_min: float
    y_min: float
    x_max: float
    y_max: float

    @property
    def x_size(self) -> int:
        return int(math.ceil((self.x_max - self.x_min) / self.x_unit))

    @property
    def y_size(self) -> int:
        return int(math.ceil((self.y_max - self.y_min) / self.y_unit))

    @property
    def n_cells(self) -> int:
        return self.x_size * self.y_size

    @property
    def center(self) -> tuple[float, float]:
        return (self.x_min + self.x_max) / 2, (self.y_min + self.y_max) / 2

    def at_zoom(self, zoom: int) -> "GridConfig":
        """Tile-pyramid level: cell edge doubles per zoom-out step
        (zoom 0 = base grid). Same MBR, so parent/child cells nest by
        integer halving of (i_x, i_y)."""
        f = float(2 ** zoom)
        return GridConfig(
            x_unit=self.x_unit * f,
            y_unit=self.y_unit * f,
            x_min=self.x_min,
            y_min=self.y_min,
            x_max=self.x_max,
            y_max=self.y_max,
        )


def _porto_grid() -> GridConfig:
    """Reference grid construction: project the bbox corners, buffer by
    50 m (/root/reference/fedtraj/utils/preprocessing_porto.py:72-86)."""
    x0, y0 = lonlat2meters_py(MIN_LON, MIN_LAT)
    x1, y1 = lonlat2meters_py(MAX_LON, MAX_LAT)
    return GridConfig(
        x_unit=CELL_SIZE,
        y_unit=CELL_SIZE,
        x_min=x0 - CELLSPACE_BUFFER,
        y_min=y0 - CELLSPACE_BUFFER,
        x_max=x1 + CELLSPACE_BUFFER,
        y_max=y1 + CELLSPACE_BUFFER,
    )


PORTO_GRID = _porto_grid()

# Deterministic point-derivation constants (events table → synthetic points).
# Pure integer/double arithmetic so Spark and DuckDB agree bit-for-bit.
LON_HASH_MULT = 2654435761
LON_HASH_MOD = 1000003
LAT_HASH_MULT = 98765431
LAT_HASH_ADD = 12345
LAT_HASH_MOD = 999983

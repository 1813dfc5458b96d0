"""newsimi test-dataset generation — the reference's query/db split with
downsampled and distorted variants (/root/reference/fedtraj/utils/
preprocessing_porto.py:94-192), composed Spark-first from engine
primitives:

- test slice = rows [int(0.8·n), int(0.8·n) + n_db) in ``traj_id`` order —
  positional slicing via the partition-parallel global_row_number (no
  single-task window);
- per trajectory, the QUERY polyline keeps the EVEN-index points
  (``v[::2]``) and the DB polyline the ODD-index points (``v[1::2]``) —
  a pure-Catalyst indexed array filter, no Python;
- variants: ``raw`` | ``downsample`` (keep ceil(len·(1−rate)) random
  sorted points, preprocessing_porto.py:120-134) | ``distort`` (each point
  shifted w.p. rate by truncated-gaussian offsets, :151-170), both as
  seeded Arrow-batched augmentations.

Determinism: the reference draws from one global unseeded stream in row
order — irreproducible even across its own runs and impossible to
parallelize. The engine replaces it with a per-trajectory crc32-seeded
stream applying the same per-trajectory logic; tests/test_newsimi.py
verifies row-for-row parity against a reference-semantics oracle driven by
the same streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import augment
from .segment import global_row_number

RATES = (0.1, 0.2, 0.3, 0.4, 0.5)  # the reference's sweep (:185-189)


def _index_filter(col: str, parity: int) -> F.Column:
    # Spark's filter lambda index is 0-based → v[::2] is i % 2 == 0
    return F.filter(col, lambda _x, i: i % F.lit(2) == F.lit(parity))


def newsimi_datasets(
    polys: DataFrame,
    n_query: int = 1000,
    n_db: int = 100_000,
    variant: str = "raw",
    rate: float = 0.0,
) -> tuple[DataFrame, DataFrame]:
    """→ (query_polys, db_polys), each (traj_id, xs, ys); the query side
    draws its augmentation stream with salt 0 and the db side with
    salt 1."""
    if variant not in ("raw", "downsample", "distort"):
        raise ValueError("variant must be raw | downsample | distort")
    d, n = global_row_number(polys.select("traj_id", "xs", "ys"), ("traj_id",))
    lo = int(n * 0.8)
    test = d.where((F.col("_rn0") >= lo) & (F.col("_rn0") < lo + n_db))
    query = test.where(F.col("_rn0") < lo + n_query).select(
        "traj_id", _index_filter("xs", 0).alias("xs"), _index_filter("ys", 0).alias("ys")
    )
    db = test.select(
        "traj_id", _index_filter("xs", 1).alias("xs"), _index_filter("ys", 1).alias("ys")
    )
    if variant == "downsample":
        query = augment.apply_stochastic(query, "newsimi_downsample", salt=0, rate=rate)
        db = augment.apply_stochastic(db, "newsimi_downsample", salt=1, rate=rate)
    elif variant == "distort":
        query = augment.apply_stochastic(query, "newsimi_distort", salt=0, rate=rate)
        db = augment.apply_stochastic(db, "newsimi_distort", salt=1, rate=rate)
    return query, db

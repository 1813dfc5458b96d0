"""Explicit skew handling for hot cells (north rule: "skewed hot cells are
handled with salted repartitioning and explicit AQE hints").

Two layers, outermost first:

1. AQE (session.py turns on adaptive + skewJoin) — splits skewed
   shuffle-join partitions at runtime; covers equi-joins.
2. ``salted_aggregate`` — two-phase aggregation for hot GROUP BY keys that
   partial aggregation alone can't fix (e.g. collect_list-style aggs where
   map-side combine doesn't shrink data): shard each key into
   ``salt`` sub-keys, aggregate per (key, salt), then merge per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt: int) -> DataFrame:
    """Deterministic per-row salt ``_salt`` (task-retry-safe: hash of all
    columns, not rand())."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    merge_aggs: list[Column],
    salt: int = 16,
) -> DataFrame:
    """Two-phase GROUP BY: groupBy(keys + salt) with ``partial_aggs`` then
    groupBy(keys) with ``merge_aggs`` over the partial results. The hot key
    spreads over ``salt`` reducers in phase 1; phase 2 touches only
    #keys × salt rows."""
    salted = with_salt(df, salt)
    phase1 = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return phase1.groupBy(*keys).agg(*merge_aggs)


def salted_count(df: DataFrame, keys: list[str], salt: int = 16) -> DataFrame:
    """Skew-proof count per key group (tile-count shape)."""
    return salted_aggregate(
        df,
        keys,
        [F.count(F.lit(1)).alias("_c")],
        [F.sum("_c").alias("cnt")],
        salt=salt,
    )

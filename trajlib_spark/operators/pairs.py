"""One slim-pair scorer for every (i, j) kernel pass.

The pairwise operators (the trajectory measures in ``similarity``, the
near-dup verifies in ``dedup``) all end the same way: candidate (i, j)
id pairs, a payload per id (a polyline, a text, a vector), and a numpy
kernel that scores a batch of pairs from their payloads. ``score_pairs``
is that step, and the only place that decides how a payload reaches its
pairs:

- The slim pairs are spread once over ``defaultParallelism``: a kernel
  costs per PAIR, while adaptive execution sizes partitions by BYTES and
  would put a few-MB pair table on one or two cores.
- One observed job reads the payload's bytes, from its column types. If
  they fit the session's broadcast budget, the payload is collected once
  and broadcast as an id-keyed lookup, so only 16-byte id pairs move.
  Otherwise, or with ``autoBroadcastJoinThreshold`` -1, each side is
  attached by a join after the spread.
- The kernel sees the same ``payload_of`` on both paths, and a pair whose
  id has no payload row gives no row (the inner-join rule).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, StringType

_WIDTH = {"boolean": 1, "byte": 1, "short": 2, "integer": 4, "long": 8, "float": 4,
          "double": 8, "date": 4, "timestamp": 8, "timestamp_ntz": 8}


def broadcast_budget(spark: SparkSession) -> int:
    """Bytes the driver may collect for a driver-side path: the session's
    ``autoBroadcastJoinThreshold``, the size Catalyst already lets the
    driver hold for a broadcast. Read through the JVM SQLConf, so "10m"
    parses; -1 (broadcast off) reads as 0."""
    return max(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold(), 0)


def collect_within_budget(frame: DataFrame) -> pa.Table | None:
    """``frame`` as one Arrow table if its rows fit the broadcast budget,
    else None. The columns must be fixed-width, so a row's bytes come from
    the schema, and the frame is read once: cap = budget // row bytes
    (kept a JVM int), then ``limit(cap + 1)``. A frame over the budget
    costs up to the budget's bytes read and dropped; a threshold of -1
    reads nothing."""
    row_bytes = 0
    for f in frame.schema.fields:
        if f.dataType.typeName() not in _WIDTH:
            raise TypeError(
                f"column {f.name!r} has type {f.dataType.simpleString()}; "
                "a budgeted collect needs fixed-width columns"
            )
        row_bytes += _WIDTH[f.dataType.typeName()]
    cap = min(broadcast_budget(frame.sparkSession) // row_bytes, 2**31 - 2)
    if not cap:
        return None
    tbl = frame.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def _row_bytes(frame: DataFrame, key: str) -> F.Column:
    """Bytes of a payload row's non-key columns, from their types."""
    total = F.lit(0).cast("long")
    for f in frame.schema.fields:
        t, c = f.dataType, F.col(f.name)
        if f.name == key:
            continue
        if isinstance(t, (StringType, BinaryType)):
            total = total + F.coalesce(F.octet_length(c), F.lit(0))
        elif isinstance(t, ArrayType) and t.elementType.typeName() in _WIDTH:
            total = total + F.greatest(F.size(c), F.lit(0)) * _WIDTH[t.elementType.typeName()]
        elif t.typeName() in _WIDTH:
            total = total + _WIDTH[t.typeName()]
        else:
            raise TypeError(
                f"pair payload column {f.name!r} has type {t.simpleString()}; "
                "strings, binaries, fixed-width scalars and arrays of them"
            )
    return total


def _fits_budget(frames: list[DataFrame], key: str) -> bool:
    """Whether the payload frames together fit the broadcast budget, read
    by one job observed over a no-op write (a global agg() would add a
    shuffle stage, a job of its own). A threshold of -1 runs no job."""
    budget = broadcast_budget(frames[0].sparkSession)
    if budget <= 0:
        return False
    sized = None
    for f in frames:
        part = f.select(_row_bytes(f, key).alias("_b"))
        sized = part if sized is None else sized.unionAll(part)
    gate = Observation()
    sized.observe(gate, F.sum("_b").alias("bytes")).write.format("noop").mode(
        "overwrite").save()
    return (gate.get["bytes"] or 0) <= budget


def _lookups(frames: list[DataFrame], key: str) -> list[dict[str, np.ndarray]]:
    """Each frame as {key: sorted ids, column: values in id order}, all
    frames read by ONE collect. A row with a null key is no payload."""
    both = None
    for s, f in enumerate(frames):
        tagged = f.where(F.col(key).isNotNull()).select(F.lit(s).alias("_side"), "*")
        both = tagged if both is None else both.unionByName(tagged, allowMissingColumns=True)
    tbl = both.toArrow()
    side = tbl.column("_side").to_numpy()
    out = []
    for s, f in enumerate(frames):
        rows = np.flatnonzero(side == s)
        order = rows[np.argsort(tbl.column(key).to_numpy()[rows], kind="stable")]
        out.append({c: tbl.column(c).to_pandas().to_numpy()[order] for c in f.columns})
    return out


def _find(ids: np.ndarray, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(positions of ``keys`` in the sorted ``ids``, found mask)."""
    if not len(ids):
        return np.zeros(len(keys), dtype=np.int64), np.zeros(len(keys), dtype=bool)
    pos = np.minimum(np.searchsorted(ids, keys), len(ids) - 1)
    return pos, ids[pos] == keys


def score_pairs(
    left: DataFrame, right: DataFrame, key: str, kernel: Callable, schema: str,
) -> Callable[[DataFrame], DataFrame]:
    """A scorer ``score(pairs)`` → (i, j, <schema>) for slim (i, j) pair
    tables. ``kernel(ii, jj, payload_of)`` runs once per Arrow batch of the
    pairs whose i has a row in ``left`` and whose j has one in ``right``
    (both keyed by ``key``, one row per id; pass one frame twice for a
    self-join and it is read once) and returns a pandas frame of columns
    i, j and ``schema``'s; ``payload_of("i", c)`` / ``payload_of("j", c)``
    give column ``c`` of the batch's left / right payload rows. The gate
    and the broadcast run once, in this call, however many pair tables
    the scorer is applied to (``measure_topk``'s ring rounds)."""
    frames = [left] if left is right else [left, right]
    sc = left.sparkSession.sparkContext

    if _fits_budget(frames, key):
        tables = [sc.broadcast(t) for t in _lookups(frames, key)]

        def view(pdf: pd.DataFrame):
            lk = {"i": tables[0].value, "j": tables[-1].value}
            ii, jj = pdf["i"].to_numpy(), pdf["j"].to_numpy()
            pi, hit_i = _find(lk["i"][key], ii)
            pj, hit_j = _find(lk["j"][key], jj)
            ok = hit_i & hit_j
            pos = {"i": pi[ok], "j": pj[ok]}
            return ii[ok], jj[ok], lambda s, c: lk[s][c][pos[s]]

        def attach(spread: DataFrame) -> DataFrame:
            return spread
    else:
        def side(frame: DataFrame, s: str) -> DataFrame:
            return frame.select(F.col(key).alias(s), *[
                F.col(c).alias(f"_payload_{s}_{c}") for c in frame.columns if c != key
            ])

        def view(pdf: pd.DataFrame):
            return (pdf["i"].to_numpy(), pdf["j"].to_numpy(),
                    lambda s, c: pdf[f"_payload_{s}_{c}"].to_numpy())

        def attach(spread: DataFrame) -> DataFrame:
            return spread.join(side(left, "i"), "i").join(side(right, "j"), "j")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ii, jj, payload_of = view(pdf)
            if len(ii):
                out = kernel(ii, jj, payload_of)
                if len(out):
                    yield out

    def score(pairs: DataFrame) -> DataFrame:
        t = dict(pairs.dtypes)
        spread = pairs.select("i", "j").repartition(sc.defaultParallelism, "i", "j")
        return attach(spread).mapInPandas(run, f"i {t['i']}, j {t['j']}, {schema}")

    return score


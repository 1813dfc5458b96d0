"""Structured-Streaming deduplication — the streaming half of the
training-data pipeline's dedup story (batch: operators/dedup.py).

``streaming_exact_dedup`` keeps one survivor per md5 content hash via
``dropDuplicatesWithinWatermark`` — Spark keeps one state row per hash
only within the watermark horizon, so state is bounded by arrival rate ×
horizon, not corpus size (the semantics a 100 TB ingest needs: exact
global dedup of an unbounded stream is unbounded state by definition).
The survivor is engine-arrival-ordered, not event-time min — Spark
documents no intra-batch ordering for this operator.

Late data beyond the watermark simply re-admits a duplicate — the
documented, tunable trade (horizon vs dedup recall) every streaming
dedup makes.

Edge case (measured): a row whose event time is exactly epoch 0 is
treated as already-expired by the initial watermark and silently dropped
— don't feed epoch-0 event times (synthetic fixtures included; offset
them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(docs: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """docs must be a streaming DataFrame with event time ``ts`` and
    ``text``. Emits the first-seen row per exact text hash within the
    watermark horizon; duplicates arriving inside the horizon are dropped
    with bounded state."""
    return (
        docs.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("text_hash", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )

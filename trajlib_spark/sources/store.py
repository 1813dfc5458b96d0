"""Checkpointed table store with per-partition lineage and resume.

Iceberg-compatible *semantics* without the Iceberg runtime jar (none is
available offline — survey §4.2): each table commit is

    <root>/<table>/data/*.parquet          (the snapshot)
    <root>/<table>/_manifest.json          (atomic pointer, written last)

A manifest that exists and parses = a committed snapshot; a crashed write
leaves data files but no manifest, so the stage re-runs — the same
atomic-swap contract MERGE-less Iceberg gives us. With the Iceberg jar on a
real cluster, swap `save`/`load` for `writeTo(...).createOrReplace()`.

Lineage: every commit adds one parquet file to <root>/_lineage with one row
per output file (run_id, stage, partition_id, input_files, row_count,
wall_ms, committed_at), per the north rule's "per-partition lineage rows".
The data write is a commit's only Spark job: the row counts are read from
the written files' parquet footers on the driver with pyarrow.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .tables import data_files, partition_columns, read_table

# The types every _lineage file holds, so lineage files written by the
# Spark-job store of earlier versions and by this one read together.
LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_id bigint, input_files array<string>, "
    "row_count bigint, wall_ms int, committed_at timestamp"
)


def _publish(path: str, write) -> None:
    """Make ``path`` appear atomically: ``write(tmp)`` fills a hidden sibling
    that Spark and pyarrow readers skip, then one rename publishes it."""
    head, name = os.path.split(path)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, "." + name)
    write(tmp)
    os.replace(tmp, path)


@dataclass
class TableStore:
    root: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    # -- paths ---------------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _data(self, table: str) -> str:
        return os.path.join(self._dir(table), "data")

    def _manifest(self, table: str) -> str:
        return os.path.join(self._dir(table), "_manifest.json")

    # -- commits ---------------------------------------------------------------
    def exists(self, table: str) -> bool:
        """True iff a committed snapshot exists (manifest present + parses)."""
        return self._committed(table) is not None

    def _committed(self, table: str) -> dict | None:
        """The table's manifest, if a committed snapshot exists."""
        try:
            with open(self._manifest(table)) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        return m if "row_count" in m else None

    def save(self, df: DataFrame, table: str, stage: str | None = None,
             partition_by: list[str] | None = None) -> None:
        """Write snapshot + lineage, manifest last (the atomic pointer)."""
        t0 = time.time()
        stage = stage or table

        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._data(table))
        wall_ms = int((time.time() - t0) * 1000)

        # Lineage: one row per non-empty output file, in path order; the
        # counts come from the footers just written, not from a Spark job.
        counts = [n for n in (pq.read_metadata(p).num_rows
                              for p in data_files(self._data(table))) if n]
        now, inputs = datetime.now(timezone.utc), sorted(df.inputFiles())
        lineage = pa.Table.from_pylist(
            [dict(run_id=self.run_id, stage=stage, partition_id=i, input_files=inputs,
                  row_count=c, wall_ms=wall_ms, committed_at=now)
             for i, c in enumerate(counts)],
            schema=to_arrow_schema(StructType.fromDDL(LINEAGE_SCHEMA)),
        )
        path = os.path.join(self._dir("_lineage"), f"part-{uuid.uuid4().hex}.parquet")
        _publish(path, lambda tmp: pq.write_table(lineage, tmp, store_schema=False))

        manifest = {"table": table, "stage": stage, "run_id": self.run_id,
                    "row_count": sum(counts), "committed_at": time.time(),
                    "schema": df.schema.jsonValue(), "version": 1}
        _publish(self._manifest(table),
                 lambda tmp: Path(tmp).write_text(json.dumps(manifest)))

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        """The committed snapshot, read with the schema its manifest
        records (no inference job). Partition columns are left out of it,
        so Spark types them from the directory names as an inferring read
        does."""
        m = self._committed(table)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        data = self._data(table)
        parts = set(partition_columns(data))
        schema = StructType.fromJson(m["schema"])
        return read_table(spark, data, StructType(
            [f for f in schema.fields if f.name not in parts]))

    def drop(self, table: str) -> None:
        shutil.rmtree(self._dir(table), ignore_errors=True)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self._dir("_lineage"))


def run_stages(
    spark: SparkSession,
    store: TableStore,
    stages: list[tuple[str, "callable"]],
    resume: bool = True,
) -> dict[str, str]:
    """Run (table_name, fn(spark, store) -> DataFrame) stages in order,
    skipping any whose snapshot is already committed (resume-from-
    checkpoint). Returns {table: 'computed'|'skipped'}."""
    status = {}
    for table, fn in stages:
        if resume and store.exists(table):
            status[table] = "skipped"
            continue
        df = fn(spark, store)
        store.save(df, table, stage=table)
        status[table] = "computed"
    return status

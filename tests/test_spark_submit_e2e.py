"""North-rule packaging evidence: the engine ships as a spark-submit
--py-files package (BASELINE.json: "run via spark-submit --py-files on a
multi-executor cluster"). This test drives the REAL spark-submit binary
with dist/trajlib_spark.zip from a foreign working directory — the zip is
the only trajlib_spark on the path, so a stale or incomplete artifact
fails here, not on a cluster. Also proves resume-from-checkpoint across
driver processes: the second submit must skip every committed stage."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _submit(cwd: str, store: str, resume: bool = True) -> dict:
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", os.path.join(cwd, "trajlib_spark.zip"),
        os.path.join(cwd, "run_pipeline.py"),
        "--store", store, "--pages", "synth:2000",
        "--sf-dir", "/root/testdata/sf0.001", "--master", "local[4]",
    ]
    if not resume:
        cmd.append("--no-resume")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=420
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def _check_lineage(store: str, stages: dict):
    """Committed snapshots + per-partition lineage rows exist in the store
    (north rule: partition_id / input_files / row_count per stage): each
    stage's partition ids are dense from 0 and its row counts sum to its
    manifest's. Read with pyarrow: no Spark session in this test process."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(store, "_lineage")).to_pandas()
    assert {"stage", "partition_id", "row_count"} <= set(tbl.columns)
    assert set(stages) <= set(tbl["stage"]), sorted(set(tbl["stage"]))
    assert (tbl["row_count"] > 0).all() and len(tbl) >= len(stages)
    for table in stages:
        with open(os.path.join(store, table, "_manifest.json")) as f:
            manifest = json.load(f)
        rows = tbl[tbl["stage"] == table]
        assert sorted(rows["partition_id"]) == list(range(len(rows))), table
        assert rows["row_count"].sum() == manifest["row_count"], table
    return tbl.sort_values(["stage", "partition_id"], ignore_index=True)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_roundtrip(tmp_path):
    # foreign CWD: only the zip + the entry script, no repo package dir
    cwd = str(tmp_path / "submit")
    os.makedirs(cwd)
    shutil.copy(os.path.join(ROOT, "dist", "trajlib_spark.zip"), cwd)
    shutil.copy(os.path.join(ROOT, "run_pipeline.py"), cwd)
    store = str(tmp_path / "warehouse")

    first = _submit(cwd, store)
    stages = first["stages"]
    assert stages and all(v == "computed" for v in stages.values()), stages
    assert "tiles" in stages

    lineage = _check_lineage(store, stages)

    # second driver process resumes: every stage skipped, lineage untouched
    second = _submit(cwd, store)
    assert all(v == "skipped" for v in second["stages"].values()), second
    assert _check_lineage(store, stages).equals(lineage)

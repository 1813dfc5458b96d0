"""The status-store reader's record on a tiny noop query."""

import os

import pytest

import statusstore

RECORD_KEYS = {
    "executions", "rows_out", "duration_s", "shuffle_bytes", "spill_bytes",
    "python_s", "python_bytes", "task_max_ms", "task_median_ms", "task_skew",
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from trajlib_spark.session import get_spark, stop_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = get_spark(app_name="perfbench-test", master="local[2]", extra_conf={
        "spark.ui.showConsoleProgress": "false", "spark.local.dir": local,
    })
    yield s
    stop_spark(s)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_parse_metric_forms():
    assert statusstore.parse_metric("100,000") == 100000
    assert statusstore.parse_metric("969.0 B") == 969
    assert statusstore.parse_metric("62 ms") == pytest.approx(0.062)
    assert statusstore.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, 2.0 B, 3.0 B (stage 1.0: task 3))"
    ) == 1536


def test_record_shape_on_noop_aggregate(spark):
    df = spark.range(0, 1000, 1, 4).selectExpr("id % 10 AS k").groupBy("k").count()
    m = statusstore.mark(spark)
    _noop(df)
    rec = statusstore.read(spark, m)
    assert set(rec) == RECORD_KEYS
    assert rec["executions"] == 1
    assert rec["rows_out"] == 10
    assert rec["shuffle_bytes"] > 0
    assert rec["spill_bytes"] == 0
    assert rec["python_bytes"] == 0 and rec["python_s"] == 0
    assert rec["duration_s"] > 0
    assert rec["task_max_ms"] >= rec["task_median_ms"] > 0
    assert rec["task_skew"] >= 1.0
    # the counts repeat exactly on a rerun
    m2 = statusstore.mark(spark)
    _noop(df)
    again = statusstore.read(spark, m2)
    for key in ("executions", "rows_out", "shuffle_bytes", "spill_bytes"):
        assert again[key] == rec[key], key


def test_python_boundary_counts(spark):
    def ident(batches):
        yield from batches

    df = spark.range(0, 5000, 1, 2).mapInPandas(ident, "id long")
    m = statusstore.mark(spark)
    _noop(df)
    rec = statusstore.read(spark, m)
    assert rec["rows_out"] == 5000
    assert rec["python_bytes"] > 0
    assert rec["python_s"] >= 0


def test_nothing_after_mark_reads_empty(spark):
    m = statusstore.mark(spark)
    rec = statusstore.read(spark, m)
    assert rec["executions"] == 0 and rec["rows_out"] == 0

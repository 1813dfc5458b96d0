"""Declared table schemas and the one parquet reader (sources.tables), and
the plan-building paths that must run no Spark job."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF, job_count

DECLARED = ("events", "documents", "embeddings", "nation", "lineitem",
            "customer", "orders")


def _events(n: int = 4) -> dict[str, pa.Array]:
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([1_700_000_000_000_000 + i for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([i % 2 for i in range(n)], pa.int64()),
        "event_type": pa.array(["click"] * n, pa.string()),
        "value": pa.array([float(i) for i in range(n)], pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    }


def _write(tmp_path, cols: dict[str, pa.Array]) -> str:
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def test_read_table_missing_column_names_it(spark, tmp_path):
    from trajlib_spark.sources import tables

    cols = _events()
    del cols["props"]
    path = _write(tmp_path, cols)
    with pytest.raises(ValueError, match=r"'props' \(string\) is missing") as e:
        tables.read_table(spark, path, tables.EVENTS)
    assert path in str(e.value)


def test_read_table_other_type_names_both(spark, tmp_path):
    from trajlib_spark.sources import tables

    cols = _events()
    cols["event_id"] = cols["event_id"].cast(pa.int32())
    path = _write(tmp_path, cols)
    with pytest.raises(ValueError, match=r"'event_id' is int .*declared bigint") as e:
        tables.read_table(spark, path, tables.EVENTS)
    assert path in str(e.value)


def test_read_table_empty_directory(spark, tmp_path):
    from trajlib_spark.sources import tables

    path = str(tmp_path / "empty")
    os.makedirs(path)
    with pytest.raises(ValueError, match="no parquet data files") as e:
        tables.read_table(spark, path, tables.NATION)
    assert path in str(e.value)


def test_read_table_extra_columns_read_fine(spark, tmp_path):
    from trajlib_spark.sources import tables

    cols = {"extra": pa.array(["x"] * 4, pa.string()), **_events()}
    path = _write(tmp_path, cols)
    df = tables.read_table(spark, path, tables.EVENTS)
    assert df.columns == [c for c in _events()]
    assert sorted(r["event_id"] for r in df.collect()) == [0, 1, 2, 3]


# (directory, table) for every sf* directory beside the tier-1 one
SF_TABLES = [(d, t) for d in sorted(glob.glob(os.path.join(os.path.dirname(SF), "sf*")))
             for t in DECLARED if os.path.exists(f"{d}/{t}.parquet")]


@pytest.mark.skipif(not SF_TABLES, reason="no sf* test data directories")
@pytest.mark.parametrize("sf_dir,table", SF_TABLES,
                         ids=[f"{os.path.basename(d)}-{t}" for d, t in SF_TABLES])
def test_declared_schema_is_the_inferred_one(spark, sf_dir, table):
    from trajlib_spark.sources import tables

    path = f"{sf_dir}/{table}.parquet"
    declared = tables.read_table(spark, path, getattr(tables, table.upper()))
    assert declared.schema == spark.read.parquet(path).schema


def test_declared_pages_schema_is_the_inferred_one(spark, tmp_path):
    """Pages as the benchmark stages them (pyarrow, from make_page) and as
    bench.py / run_pipeline.py store them (a Spark write)."""
    from trajlib_spark.sources import pages, tables

    rows = [pages.make_page(i, True) for i in range(20)]
    url, ts_ms, html, text, lang = zip(*rows)
    arrow = str(tmp_path / "arrow_pages")
    os.makedirs(arrow)
    pq.write_table(pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array([t * 1000 for t in ts_ms], pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    }), os.path.join(arrow, "part-00000.parquet"))
    written = str(tmp_path / "spark_pages")
    pages.generate_pages(spark, 20, skew=True).write.parquet(written)
    for path in (arrow, written):
        declared = tables.read_table(spark, path, tables.PAGES)
        assert declared.schema == spark.read.parquet(path).schema, path
    assert (sorted(tables.read_table(spark, arrow, tables.PAGES).collect())
            == sorted(tables.read_table(spark, written, tables.PAGES).collect()))


@pytest.mark.parametrize("name", ["segment_pairs", "stay_collapse", "tile_pyramid"])
def test_board_query_builds_without_a_job(spark, name):
    import __spark_entry__ as E

    assert job_count(spark, lambda: E.queries()[name](spark, SF)) == 0


def test_synthetic_polygons_builds_without_a_job(spark):
    from trajlib_spark.sources import synth

    assert job_count(spark, lambda: synth.synthetic_polygons(spark, SF)) == 0


def test_session_has_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()

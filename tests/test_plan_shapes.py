"""The executed plans of the flagship's lazy frames
(``pages_pipeline.flagship_frames`` over 500 stored pages), one test per
hot-path claim. PLANS.md indexes these tests."""

from __future__ import annotations

import pytest

from trajlib_spark.plans import pages_pipeline
from trajlib_spark.sources import pages as pages_src
from trajlib_spark.sources import synth, tables

from conftest import SF


@pytest.fixture(scope="module")
def flagship(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan_pages") / "pages")
    pages_src.generate_pages(spark, 500, skew=True).write.parquet(path)
    polys = synth.synthetic_polygons(spark, SF)
    return pages_pipeline.flagship_frames(
        tables.read_table(spark, path, tables.PAGES), polys)


def _final_plan(df) -> str:
    """The executed plan after the frame ran: AQE's final plan, without
    the initial plan it prints below it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_cells_plan_has_no_exchange(flagship):
    """Cell assignment is one codegen'd projection chain over the pages
    scan: no shuffle, no UDF."""
    plan = _final_plan(flagship["cells"])
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_pip_join_plan_broadcasts_the_polygons(flagship):
    """The PIP join probes a broadcast polygon cell index: a
    BroadcastHashJoin, and the point side is never hash-partitioned."""
    plan = _final_plan(flagship["pip_join"])
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_tiles_plan_is_one_scan_and_two_aggregates(flagship):
    """The tile pyramid scans its source once, with no per-level union:
    exactly two hash exchanges, the base cell count and the pyramid sum."""
    plan = _final_plan(flagship["tiles"])
    assert plan.count("FileScan parquet") == 1, plan
    assert "Union" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan

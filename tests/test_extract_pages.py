"""Pages generation + extraction: the byte-identity invariant
(BASELINE.json input_hint) and the coordinate miner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trajlib_spark.config import MAX_LAT, MAX_LON, MIN_LAT, MIN_LON
from trajlib_spark.operators import extract
from trajlib_spark.sources import pages as pages_src


def test_extract_text_byte_identity(spark):
    pg = pages_src.generate_pages(spark, 300)
    ext = extract.with_extracted_text(pg)
    assert ext.where(F.col("extracted_text") != F.col("text")).count() == 0


def test_extract_handles_entities_and_nested_tags():
    html = b'<html><body><p>a &amp; b <b>bold</b> &lt;tag&gt; &amp;lt;</p><p>second</p></body></html>'
    assert extract.extract_text_py(html) == "a & b bold <tag> &lt;\nsecond"


def test_extract_ignores_non_p_content():
    html = b"<html><head><title>nope</title></head><body><div>nope</div><p>yes</p></body></html>"
    assert extract.extract_text_py(html) == "yes"


def test_miner_finds_mentions_in_order():
    txt = "at 41.150000, -8.600000 then 40.000000, -8.100000 end 1.5, 2.5"
    got = extract.mine_coordinates_py(txt)
    assert got == [(41.15, -8.6), (40.0, -8.1)]  # 6-decimal mentions only


def test_pages_deterministic(spark):
    a = pages_src.generate_pages(spark, 100).orderBy("url").collect()
    b = pages_src.generate_pages(spark, 100).orderBy("url").collect()
    assert a == b


def test_pages_to_points_bbox_and_cadence(spark):
    pg = pages_src.generate_pages(spark, 400)
    pts = extract.pages_to_points(pg)
    rows = pts.collect()
    assert len(rows) > 0
    for r in rows:
        assert MIN_LON < r.lon < MAX_LON and MIN_LAT < r.lat < MAX_LAT
    # 15-s cadence: consecutive positions 15000 ms apart
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    multi = next(v for v in by_url.values() if len(v) >= 2)
    multi.sort(key=lambda r: r.pos)
    assert multi[1].ts_ms - multi[0].ts_ms == 15000


def _mined_py(pg):
    """(url, pos, ts_ms, lon, lat) of every mention, mined by
    ``mine_coordinates_py`` over the collected pages, before the bbox."""
    pdf = pg.select("url", "warc_ts", "text").toPandas()
    base_ms = (pdf["warc_ts"].astype("int64") // 10**6).to_numpy()
    return [
        (u, k, int(t) + 15000 * k, lon, lat)
        for u, t, txt in zip(pdf["url"], base_ms, pdf["text"])
        for k, (lat, lon) in enumerate(extract.mine_coordinates_py(txt or ""))
    ]


def test_decoys_filtered(spark):
    pg = pages_src.generate_pages(spark, 500)
    raw = len(_mined_py(pg))
    filt = extract.pages_to_points(pg).count()
    assert raw > filt  # decoy pages exist and are dropped


def test_skew_hotspot(spark):
    from trajlib_spark.config import PORTO_GRID
    from trajlib_spark.operators import cells

    pg = pages_src.generate_pages(spark, 2000, skew=True)
    pts = cells.with_cell(extract.pages_to_points(pg), PORTO_GRID)
    top = (
        pts.groupBy("cell_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    total = pts.count()
    assert top["count"] / total > 0.02  # hot cell clearly skewed


def test_generate_pages_partition_layout_invariant(spark):
    """num_partitions pre-splits the id range before generation (the
    no-shuffle path the big bench tables use); the TABLE must be
    identical to the default-layout generation — row content is a pure
    function of the id."""
    from trajlib_spark.sources import pages as pages_src

    a = pages_src.generate_pages(spark, 500, skew=True)
    b = pages_src.generate_pages(spark, 500, skew=True, num_partitions=7)
    ra = sorted((r.url, r.warc_ts, r.html, r.text, r.lang) for r in a.collect())
    rb = sorted((r.url, r.warc_ts, r.html, r.text, r.lang) for r in b.collect())
    assert ra == rb


def test_jvm_and_arrow_miners_agree(spark):
    """The codegen miner gives the rows of the canonical python miner, bit
    for bit, with the strict bbox applied in python: decoy mentions are
    dropped and every other mention keeps its position and timestamp."""
    pg = pages_src.generate_pages(spark, 2000, skew=True)
    mined = _mined_py(pg)
    want = sorted(
        r for r in mined
        if MIN_LON < r[3] < MAX_LON and MIN_LAT < r[4] < MAX_LAT
    )
    pts = extract.pages_to_points(pg)
    assert pts.columns == ["url", "pos", "ts_ms", "lon", "lat", "x", "y"]
    jvm = sorted(tuple(r) for r in pts.select("url", "pos", "ts_ms", "lon", "lat").collect())
    assert len(jvm) > 0 and len(want) < len(mined)
    assert jvm == want


def test_point_prefix_plan_shape(spark):
    """The point prefix runs once per mention: no regex split of the
    mention, and no Filter re-evaluating the Mercator projection (which an
    inferred isnotnull on a nullable cell key would push below the
    projects)."""
    from trajlib_spark.config import PORTO_GRID as G
    from trajlib_spark.operators import cells, spatial_join

    pg = pages_src.generate_pages(spark, 50)
    pts = cells.with_cell(extract.pages_to_points(pg), G)
    x0, y0, x1, y1 = G.x_min + 1000.0, G.y_min + 1000.0, G.x_min + 9000.0, G.y_min + 9000.0
    polys = spark.createDataFrame(
        [(1, [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]])],
        "geo_id long, coord array<array<array<double>>>",
    )
    pip = spatial_join.point_in_polygon(pts, polys, G)
    plan = pip._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in plan
    filters = [ln for ln in plan.splitlines()
               if ln.lstrip(" :+-").startswith("Filter")]
    assert not [f for f in filters if "SIN(" in f or "ln(" in f], filters

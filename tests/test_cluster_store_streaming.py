"""Clustering pipeline with planted clusters, TableStore resume semantics,
streaming sessionizer, augmentations, multimodal plumbing."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import job_count, session_cache_state


def _planted_segments(spark):
    """Two tight spatial clusters per fed + one outlier; embeddings equal so
    d3 = 0 and geometry decides."""
    rows = []
    sid = 0
    for fed in (0, 1):
        for cx in (0.0, 50_000.0):  # two far-apart groups
            for k in range(3):
                off = fed * 10.0 + k * 5.0
                rows.append(
                    (fed, sid, cx + off, off, cx + off + 100.0, off + 100.0,
                     [0.0] * 4)
                )
                sid += 1
        rows.append((fed, sid, 9e6, 9e6, 9.0001e6, 9e6, [0.0] * 4))  # noise
        sid += 1
    return spark.createDataFrame(
        rows,
        "fed_id int, segment_id long, start_x double, start_y double, "
        "end_x double, end_y double, emb array<double>",
    )


def test_cluster_pipeline(spark):
    from trajlib_spark.operators import cluster

    segs = _planted_segments(spark)
    labeled = cluster.cluster_segments(segs, eps=1000.0, min_samples=2)
    lab = labeled.toPandas()
    for fed in (0, 1):
        part = lab[lab.fed_id == fed]
        assert set(part.label) == {-1, 0, 1}  # 2 clusters + noise
        assert (part.label == -1).sum() == 1
    aggs = cluster.cluster_aggregates(labeled, segs)
    a = aggs.toPandas()
    assert len(a) == 4 and (a["size"] == 3).all()
    merged = cluster.federated_merge(aggs, eps=1000.0)
    m = merged.toPandas()
    # fed-0 group at cx=0 merges with fed-1 group at cx≈0 (centroids ~15 apart)
    assert m.global_cluster.nunique() == 2
    # silhouette over combined distances
    segs_lab = (
        segs.join(labeled, ["fed_id", "segment_id"])
        .join(merged, ["fed_id", "label"])
        .where(F.col("label") != -1)
    )
    pairs = []
    pdf = segs_lab.toPandas()
    from trajlib_spark.kernels import clustering as ck

    starts = pdf[["start_x", "start_y"]].to_numpy()
    ends = pdf[["end_x", "end_y"]].to_numpy()
    embs = np.stack(pdf["emb"].to_numpy())
    dm = ck.segment_distance_matrix(starts, ends, embs)
    expected = ck.silhouette_from_matrix(dm, pdf.global_cluster.to_numpy())
    rows = [
        (int(pdf.segment_id[i]), int(pdf.segment_id[j]), float(dm[i, j]))
        for i in range(len(pdf)) for j in range(len(pdf)) if i != j
    ]
    pair_df = spark.createDataFrame(rows, "i long, j long, dist double")
    got = cluster.silhouette_distributed(
        segs_lab.select("segment_id", "global_cluster"), pair_df
    )
    assert got == pytest.approx(expected, rel=1e-9)


def test_segment_distance_terms_match_numpy_kernel(spark):
    """The Catalyst segment distance that segment_pairs, symmetrize_norm and
    silhouette run (cluster.segment_distance_terms + embedding_distance)
    equals the DBSCAN kernel's numpy matrix on random segments,
    zero-length, parallel and antiparallel ones included."""
    from trajlib_spark.kernels import clustering as ck
    from trajlib_spark.operators import cluster

    rng = np.random.default_rng(18)
    n = 14
    starts = rng.uniform(-1e4, 1e4, size=(n, 2))
    ends = starts + rng.uniform(-800.0, 800.0, size=(n, 2))
    ends[1] = starts[1]  # zero-length
    starts[2] = ends[2] = (3.0, -7.0)  # zero-length
    starts[3] = ends[3] = (3.0, -7.0)  # the same point again
    shift = np.array([250.0, -40.0])
    starts[4], ends[4] = starts[0] + shift, ends[0] + shift  # parallel to 0
    starts[5], ends[5] = starts[0], starts[0] + 2.0 * (ends[0] - starts[0])  # collinear
    starts[6], ends[6] = ends[0] - shift, starts[0] - shift  # antiparallel to 0
    starts[7], ends[7] = ends[0], starts[0]  # 0 reversed
    starts[8], ends[8] = (0.0, 0.0), (100.0, 0.0)  # antiparallel along an axis
    starts[9], ends[9] = (0.0, 50.0), (-100.0, 50.0)
    embs = rng.normal(size=(n, 4))
    embs[3] = embs[2]
    segs = spark.createDataFrame(
        [(k, *map(float, starts[k]), *map(float, ends[k]), list(map(float, embs[k])))
         for k in range(n)],
        "segment_id long, start_x double, start_y double, end_x double, "
        "end_y double, emb array<double>",
    )
    d1, d2 = cluster.segment_distance_terms(("start_x", "start_y", "end_x", "end_y"))
    d3 = cluster.embedding_distance("emb")
    got = segs.alias("a").crossJoin(segs.alias("b")).select(
        F.col("a.segment_id").alias("i"), F.col("b.segment_id").alias("j"),
        (d1 + d2 + d3).alias("d"),
    ).collect()
    want = ck.segment_distance_matrix(starts, ends, embs)
    assert len(got) == n * n
    for r in got:
        assert r.d == pytest.approx(want[r.i, r.j], rel=1e-12), (r.i, r.j)
    assert {r.d for r in got if r.i == r.j} == {0.0}
    assert next(r.d for r in got if (r.i, r.j) == (2, 3)) == 0.0


@pytest.mark.parametrize("query", ["silhouette", "cluster_merge"])
def test_cluster_query_leaves_session_cache_as_found(spark, query):
    """The query releases what it caches: after it runs and a GC, the
    session holds no more CacheManager entries and persistent RDDs than
    before it (fewer, if an earlier test's unreachable frames were freed
    meanwhile)."""
    import __spark_entry__ as E
    from conftest import SF

    before = session_cache_state(spark)
    rows = E.queries()[query](spark, SF).collect()
    assert rows
    after = session_cache_state(spark)
    assert after[0] <= before[0] and after[1] <= before[1], (before, after)


def test_store_resume_and_lineage(spark):
    from trajlib_spark.sources.store import TableStore, run_stages

    root = tempfile.mkdtemp()
    try:
        store = TableStore(root)
        calls = []

        def mk(name, n):
            def fn(sp, st):
                calls.append(name)
                return sp.range(n).withColumnRenamed("id", f"{name}_id")
            return fn

        stages = [("s1", mk("s1", 10)), ("s2", mk("s2", 20)), ("s3", mk("s3", 30))]
        st1 = run_stages(spark, store, stages)
        assert st1 == {"s1": "computed", "s2": "computed", "s3": "computed"}
        # simulate crash after stage 2: drop s3, rerun → only s3 recomputes
        store.drop("s3")
        calls.clear()
        st2 = run_stages(spark, store, stages)
        assert st2 == {"s1": "skipped", "s2": "skipped", "s3": "computed"}
        assert calls == ["s3"]
        assert store.load(spark, "s3").count() == 30
        lin = store.lineage(spark)
        assert set(lin.columns) == {
            "run_id", "stage", "partition_id", "input_files", "row_count",
            "wall_ms", "committed_at",
        }
        assert lin.where("stage = 's3'").agg(F.sum("row_count")).collect()[0][0] == 60
    finally:
        shutil.rmtree(root)


def test_store_uncommitted_write_is_invisible(spark):
    import os

    from trajlib_spark.sources.store import TableStore

    root = tempfile.mkdtemp()
    try:
        store = TableStore(root)
        # data files without a manifest = crashed write = not committed
        spark.range(5).write.parquet(os.path.join(root, "tbl", "data"))
        assert not store.exists("tbl")
        store.save(spark.range(5), "tbl")
        assert store.exists("tbl")
    finally:
        shutil.rmtree(root)


def _store_frames(spark):
    return {
        "plain": (spark.range(1000).repartition(4), None),
        "partitioned": (
            spark.range(1000).withColumn("_k", F.col("id") % 3).repartition(4), ["_k"]
        ),
        "empty": (spark.range(0), None),
    }


@pytest.mark.parametrize("kind", ["plain", "partitioned"])
def test_store_commit_runs_only_its_data_write(spark, tmp_path, kind):
    from trajlib_spark.sources.store import TableStore

    df, partition_by = _store_frames(spark)[kind]
    store = TableStore(str(tmp_path / "store"))
    save = job_count(spark, lambda: store.save(df, "t", partition_by=partition_by))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    plain = job_count(spark, lambda: writer.parquet(str(tmp_path / "plain")))
    assert save == plain


@pytest.mark.parametrize("kind", ["plain", "partitioned", "empty"])
def test_store_load_runs_no_job_and_matches_inferring_read(spark, tmp_path, kind):
    """A load reads with the schema its manifest records: no schema
    inference job, and the same columns and types as ``spark.read.parquet``
    (a partition column last, typed from its directory names)."""
    from trajlib_spark.sources.store import TableStore

    df, partition_by = _store_frames(spark)[kind]
    store = TableStore(str(tmp_path / "store"))
    store.save(df, "t", partition_by=partition_by)
    got = {}
    assert job_count(spark, lambda: got.update(df=store.load(spark, "t"))) == 0
    inferred = spark.read.parquet(str(tmp_path / "store" / "t" / "data"))
    assert got["df"].schema == inferred.schema
    assert sorted(got["df"].collect()) == sorted(inferred.collect())


def test_store_save_leaves_no_persisted_rdd(spark, tmp_path):
    from trajlib_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "store"))
    before = session_cache_state(spark)[1]
    store.save(spark.range(100).repartition(4), "t")
    assert session_cache_state(spark)[1] == before


@pytest.mark.parametrize("kind", ["plain", "partitioned", "empty"])
def test_store_lineage_matches_written_files(spark, tmp_path, kind):
    """One lineage row per non-empty file Spark reads back, in path order,
    with that file's row count; the manifest holds their sum."""
    import json
    import os

    from trajlib_spark.sources.store import TableStore

    df, partition_by = _store_frames(spark)[kind]
    store = TableStore(str(tmp_path / "store"))
    store.save(df, kind, partition_by=partition_by)

    per_file = (
        spark.read.parquet(str(tmp_path / "store" / kind / "data"))
        .groupBy(F.input_file_name().alias("f")).count().orderBy("f").collect()
    )
    want = [r["count"] for r in per_file]
    lin = store.lineage(spark).where(F.col("stage") == kind).orderBy("partition_id")
    rows = lin.collect()
    assert [r["partition_id"] for r in rows] == list(range(len(want)))
    assert [r["row_count"] for r in rows] == want
    assert all(r["committed_at"] is not None for r in rows)
    with open(os.path.join(store.root, kind, "_manifest.json")) as f:
        assert json.load(f)["row_count"] == sum(want) == df.count()
    if kind == "empty":
        assert want == [] and store.lineage(spark).count() == 0
    else:
        assert len(want) > 1


def test_store_lineage_reads_files_of_both_writers(spark, tmp_path):
    """A _lineage dir holding a file written through Spark (bigint
    partition_id, int wall_ms: the types of the Spark-job store) and one the
    store writes with pyarrow reads in one call with the declared schema."""
    from pyspark.sql.types import StructType

    from trajlib_spark.sources.store import LINEAGE_SCHEMA, TableStore

    root = str(tmp_path / "store")
    spark.range(2).select(
        F.lit("old").alias("run_id"), F.lit("s0").alias("stage"),
        F.col("id").alias("partition_id"),
        F.array(F.lit("in.parquet")).alias("input_files"),
        F.lit(7).cast("long").alias("row_count"), F.lit(12).alias("wall_ms"),
        F.current_timestamp().alias("committed_at"),
    ).write.mode("append").parquet(f"{root}/_lineage")
    store = TableStore(root)
    store.save(spark.range(0, 5, 1, 1), "s1")

    lin = store.lineage(spark)
    assert lin.schema == StructType.fromDDL(LINEAGE_SCHEMA)
    rows = lin.collect()
    got = sorted((r.stage, r.partition_id, r.row_count, r.wall_ms) for r in rows)
    assert got[:2] == [("s0", 0, 7, 12), ("s0", 1, 7, 12)]
    assert [g[:3] for g in got[2:]] == [("s1", 0, 5)]
    assert all(r.committed_at is not None for r in rows)


def test_store_lineage_skips_stray_temp_file(spark, tmp_path):
    """A lineage file whose publish never finished keeps its hidden
    ``.part-*`` name; Spark and pyarrow readers both skip it."""
    import pyarrow.parquet as pq

    from trajlib_spark.sources.store import TableStore

    store = TableStore(str(tmp_path / "store"))
    store.save(spark.range(10).repartition(2), "t")
    ldir = tmp_path / "store" / "_lineage"
    (ldir / ".part-deadbeef.parquet").write_bytes(b"PAR1 torn write")
    assert store.lineage(spark).count() == 2
    assert pq.read_table(str(ldir)).num_rows == 2


def test_streaming_sessionizer(spark, tmp_path):
    import pandas as pd

    from trajlib_spark.streaming.sessionize import streaming_sessions

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime([0, 100_000, 800_000, 0], unit="ms"),
        }
    )
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        streaming_sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM sess_out").collect()
    # user 1: gap 100s then 700s → 2 sessions; user 2: 1 session.
    # append mode only emits watermark-closed windows; accept subset
    assert all(r.n_points >= 1 for r in out)


def test_augment_semantics(spark, monkeypatch):
    from trajlib_spark.operators import augment

    polys = spark.createDataFrame(
        [("t", [0.0, 10.0, 20.0], [0.0, 0.0, 10.0])],
        "traj_id string, xs array<double>, ys array<double>",
    )
    xs2, ys2 = augment.time_shift(F.col("xs"), F.col("ys"))
    r = polys.select(xs2.alias("x2"), ys2.alias("y2")).collect()[0]
    assert r.x2 == [2.5, 12.5] and r.y2 == [0.0, 2.5]
    xs3, ys3 = augment.scaling(F.col("xs"), F.col("ys"), rate=0.5)
    r3 = polys.select(xs3.alias("x3")).collect()[0]
    # midpoint of chord = (10, 5); x: v*0.5 + 10*0.5
    assert r3.x3 == [5.0, 10.0, 15.0]
    monkeypatch.setattr(augment, "MASK_RATIO", 0.34)
    masked = augment.apply_stochastic(polys, "mask").collect()[0]
    assert len(masked.xs) == 2  # 3 - int(3*0.34)=2
    monkeypatch.setattr(augment, "SUBSET_RATIO", 0.67)
    sub = augment.apply_stochastic(polys, "subset").collect()[0]
    assert len(sub.xs) == 2
    twice = augment.apply_stochastic(polys, "shift").collect()
    again = augment.apply_stochastic(polys, "shift").collect()
    assert twice == again  # seeded determinism


def test_multimodal_plumbing(spark, monkeypatch):
    from trajlib_spark.operators import multimodal

    monkeypatch.setattr(multimodal, "RESIZE_TO", 4)
    media = multimodal.make_media_table(spark, 10)
    feats = multimodal.decode_features(media, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 10 and all(len(r.feat) == 16 for r in rows)
    # 'fake' payloads are not a real codec → the real decoder refuses them
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_features(media, decoder="real").collect()


def test_multimodal_real_codecs_roundtrip(monkeypatch):
    import numpy as np
    from trajlib_spark.operators import multimodal as M

    monkeypatch.setattr(M, "SAMPLE_RATE", 8000)

    rng = np.random.default_rng(4)
    rgb = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert np.array_equal(M.decode_ppm(M.encode_ppm(rgb)), rgb)
    assert np.array_equal(M.decode_bmp(M.encode_bmp(rgb)), rgb)
    samples = (rng.normal(size=1000) * 5000).astype(np.int16)
    got, rate = M.decode_wav(M.encode_wav(samples))
    assert rate == 8000 and np.array_equal(got, samples)
    frames = rng.integers(0, 256, size=(7, 11, 9), dtype=np.uint8)
    assert np.array_equal(M.decode_rawvid(M.encode_rawvid(frames)), frames)


def test_video_frame_sampling(spark, monkeypatch):
    """RV01 frame-sample: one row per sampled frame with uniformly-spaced
    deterministic indices, features matching a local decode."""
    import numpy as np
    from trajlib_spark.operators import multimodal as M

    media = M.make_media_table(spark, 10, "video", payload_format="rawvid")
    monkeypatch.setattr(M, "RESIZE_TO", 4)
    out = M.video_frame_features(media).collect()
    rows = {(r.media_id, r.frame_idx): r.feat for r in out}
    local = {r[0]: r for r in (M._media_row(i, "video", "rawvid") for i in range(10))}
    count = 0
    for i in range(10):
        payload = local[i][2]
        frames = M.decode_rawvid(payload)
        n = len(frames)
        m = min(4, n)
        for k in range(m):
            fi = (k * n) // m
            feat = (M._block_mean(frames[fi].astype(np.float64), 4) / 255.0)
            got = np.array(rows[(i, fi)], dtype=np.float32)
            assert np.array_equal(got, feat.ravel().astype(np.float32)), (i, fi)
            count += 1
    assert count == len(rows)


def test_video_frame_sampling_short_clip(spark, monkeypatch):
    """A clip SHORTER than n_samples yields one row per frame with
    distinct, whole-clip-spanning indices (ADVICE r3: the old
    //n_samples divisor emitted frame 0 twice and never the tail)."""
    import numpy as np
    import pandas as pd
    from trajlib_spark.operators import multimodal as M

    monkeypatch.setattr(M, "RESIZE_TO", 2)
    frames = np.arange(2 * 6 * 6, dtype=np.uint8).reshape(2, 6, 6)
    payload = M.encode_rawvid(frames)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [7], "payload": [payload]})
    )
    out = sorted(
        M.video_frame_features(media).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in out] == [0, 1]
    for r, fi in zip(out, (0, 1)):
        want = (M._block_mean(frames[fi].astype(np.float64), 2) / 255.0)
        assert np.array_equal(
            np.array(r.feat, dtype=np.float32),
            want.ravel().astype(np.float32),
        )


def test_multimodal_real_decode_features(spark, monkeypatch):
    import numpy as np
    from trajlib_spark.operators import multimodal as M

    monkeypatch.setattr(M, "RESIZE_TO", 4)

    for fmt, kind in (("ppm", "image"), ("bmp", "image"), ("wav", "audio")):
        media = M.make_media_table(spark, 6, kind=kind, payload_format=fmt)
        rows = M.decode_features(media, decoder="real").collect()
        assert len(rows) == 6 and all(len(r.feat) == 16 for r in rows)
        # distributed result equals the local decode of the same payload
        local = {r.media_id: r for r in media.collect()}
        for r in rows:
            expect = M._decode_real(
                bytes(local[r.media_id].payload),
                str(local[r.media_id].meta["codec"]), 4,
            )
            assert np.array_equal(np.array(r.feat, dtype=np.float32), expect), (fmt, r.media_id)
    # ppm and bmp encode the SAME gradient → identical features
    ppm = {r.media_id: r.feat for r in M.decode_features(
        M.make_media_table(spark, 4, payload_format="ppm"), decoder="real").collect()}
    bmp = {r.media_id: r.feat for r in M.decode_features(
        M.make_media_table(spark, 4, payload_format="bmp"), decoder="real").collect()}
    assert ppm == bmp


def test_salted_count_equivalence(spark, points):
    from trajlib_spark.operators import raster
    from trajlib_spark.config import PORTO_GRID

    plain = raster.tile_counts(points, PORTO_GRID).orderBy(
        "zoom", "i_x", "i_y"
    ).collect()
    salted = raster.tile_counts(points, PORTO_GRID, salt=8).orderBy(
        "zoom", "i_x", "i_y"
    ).collect()
    assert plain == salted


def test_salted_count(spark):
    from trajlib_spark.operators import skew

    rows = [(1,)] * 900 + [(k,) for k in range(2, 102)]
    df = spark.createDataFrame(rows, "k long")
    out = {r.k: r.cnt for r in skew.salted_count(df, ["k"], salt=8).collect()}
    assert out[1] == 900 and out[50] == 1


def test_streaming_stay_collapse(spark, tmp_path):
    import pandas as pd

    from trajlib_spark.streaming.stateful import streaming_stay_collapse

    pdf = pd.DataFrame(
        {
            "traj_id": ["a"] * 4 + ["b"] * 2,
            "point_id": [1, 2, 3, 4, 5, 6],
            "ts_ms": [10, 20, 30, 40, 10, 20],
            "cell_id": [7, 7, 9, 7, 3, 3],
        }
    )
    src = str(tmp_path / "pts_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema(
        "traj_id string, point_id long, ts_ms long, cell_id long"
    ).parquet(src)
    q = (
        streaming_stay_collapse(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("collapse_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.traj_id, r.point_id) for r in spark.sql("SELECT * FROM collapse_out").collect()
    }
    assert got == {("a", 1), ("a", 3), ("a", 4), ("b", 5)}


def test_trajlib_pipelines_end_to_end(spark, points):
    import tempfile

    from trajlib_spark.plans.trajlib_pipelines import run_all
    from trajlib_spark.sources.store import TableStore

    root = tempfile.mkdtemp()
    try:
        store = TableStore(root)
        status = run_all(spark, points, store)
        assert all(v == "computed" for v in status.values()), status
        # every stage committed + resumable
        status2 = run_all(spark, points, store)
        assert all(v == "skipped" for v in status2.values()), status2
        segs = store.load(spark, "seg_embedded")
        assert segs.count() > 0 and len(segs.first()["emb"]) == 32
        merged = store.load(spark, "clu_merged")
        assert set(merged.columns) == {"fed_id", "label", "global_cluster"}
        simi = store.load(spark, "pre_simi_matrix")
        assert simi.agg(F.max("dist")).collect()[0][0] <= 1.0 + 1e-9
    finally:
        shutil.rmtree(root)


def test_streaming_tile_counts(spark, tmp_path, monkeypatch):
    import pandas as pd

    from trajlib_spark.config import PORTO_GRID
    from trajlib_spark.streaming import tiles
    from trajlib_spark.streaming.tiles import streaming_tile_counts

    monkeypatch.setattr(tiles, "WATERMARK", "0 seconds")

    g = PORTO_GRID
    x0, y0 = g.x_min + 5.0, g.y_min + 5.0
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([0, 1_000, 2_000, 61_000], unit="ms"),
            # 3 points in one cell + 1 in the next cell over
            "x": [x0, x0 + 1.0, x0 + 2.0, x0 + g.x_unit],
            "y": [y0, y0, y0, y0],
        }
    )
    src = str(tmp_path / "tile_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, x double, y double").parquet(src)
    q = (
        streaming_tile_counts(stream, g)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tiles_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {(r.cell_id, r.window_start.minute): r.cnt
           for r in spark.sql("SELECT * FROM tiles_out").collect()}
    # batch parity: the same points through the batch cell assignment
    from trajlib_spark.operators import cells as c

    batch = c.with_cell(spark.createDataFrame(pdf), g).groupBy("cell_id").count()
    batch_counts = {r.cell_id: r["count"] for r in batch.collect()}
    assert sum(batch_counts.values()) == 4 and len(batch_counts) == 2
    # append mode emits watermark-closed windows; every emitted row must
    # agree with the batch assignment, split by window
    for (cell, minute), cnt in out.items():
        assert cell in batch_counts
        assert cnt <= batch_counts[cell]
        assert cnt == (1 if minute == 1 else cnt)


def test_streaming_exact_dedup(spark, tmp_path):
    """One survivor per content hash with bounded (watermarked) state;
    duplicates inside the horizon are dropped, distinct texts all survive.
    The survivor is engine-arrival-ordered (NOT event-time min — Spark
    documents no ordering for dropDuplicatesWithinWatermark), so parity
    with the batch keeper is on the surviving GROUP set, not the row id."""
    import pandas as pd

    from trajlib_spark.operators import dedup as batch_dedup
    from trajlib_spark.streaming.dedup import streaming_exact_dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": ["aa", "bb", "aa", "cc", "bb", "aa"],
            "ts": pd.to_datetime([0, 1000, 2000, 3000, 4000, 5000], unit="ms"),
        }
    )
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT doc_id, text FROM dedup_out").collect()
    # exactly one survivor per distinct text
    assert sorted(r.text for r in out) == ["aa", "bb", "cc"]
    # each survivor belongs to its text's duplicate group, and the set of
    # surviving GROUPS equals the batch operator's group set
    groups = {t: set(pdf[pdf.text == t].doc_id) for t in pdf.text.unique()}
    for r in out:
        assert r.doc_id in groups[r.text]
    batch = batch_dedup.exact_duplicates(spark.createDataFrame(pdf)).collect()
    assert len(batch) == len(out)

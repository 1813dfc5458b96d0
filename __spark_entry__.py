"""Driver contract for the spark-graft builder (PySpark target).

EVERY ``queries()`` entry has an ``oracle_sql()`` entry — 60/60:
- SQL-expressible operators get equivalent DuckDB SQL over the same
  parquet views; parity-critical arithmetic lives once in
  trajlib_spark.sources.synth / trajlib_spark.config and is interpolated
  into both sides.
- Non-SQL-expressible operators (TRACLUS, DP similarity kernels, DBSCAN,
  MinHash/SimHash, IVF, codecs, ...) are checked against committed
  golden parquet recomputed WITHOUT Spark by tools/gen_golden.py (DuckDB
  derivations + the numpy kernels that tests/test_kernels.py verifies
  against reference goldens); oracle_sql() serves those via read_parquet.
  Regenerate with `python tools/gen_golden.py` whenever a query's output
  definition changes.
"""


from __future__ import annotations


import os
import shutil

from collections.abc import Callable


from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F


from trajlib_spark.config import PORTO_GRID

from trajlib_spark.operators import ann as ann_ops

from trajlib_spark.operators import cells as cell_ops

from trajlib_spark.operators import cluster as cluster_ops

from trajlib_spark.operators import dedup as dedup_ops

from trajlib_spark.operators import extract as extract_ops

from trajlib_spark.operators import features as feat_ops

from trajlib_spark.operators import knn as knn_ops

from trajlib_spark.operators import raster as raster_ops

from trajlib_spark.operators import segment as segment_ops

from trajlib_spark.operators import similarity as simi_ops

from trajlib_spark.operators import spatial_join as sj_ops

from trajlib_spark.operators import staypoints as stay_ops

from trajlib_spark.operators import text as text_ops

from trajlib_spark.plans import pages_pipeline

from trajlib_spark.sources import pages as pages_src

from trajlib_spark.sources import synth

from trajlib_spark.sources import tables

from trajlib_spark.sources.synth import dlit
from trajlib_spark.oracles import (
    _PORTO_CSV,  # noqa: E501 — DuckDB oracle SQL (VERDICT r4 item 8 split)
    SQL_POINT_FEATURES,
    SQL_AUGMENT_TIME_SHIFT,
    SQL_CELL_ASSIGN,
    SQL_CELL_GEOMETRY,
    SQL_CELL_WALKS,
    SQL_DEDUP_EXACT,
    SQL_DESCRIBE,
    SQL_EVENTS_RUNNING,
    SQL_FED_SPLIT,
    SQL_KNN,
    SQL_KNN_QUALITY,
    SQL_LM_SCORE,
    SQL_NEIGHBOUR_PAIRS,
    SQL_NEWSIMI_RAW,
    SQL_PIP_JOIN,
    SQL_POINTS,
    SQL_POINT_DERIVATIONS,
    SQL_PORTO_CLEAN,
    SQL_PORTO_POINTS,
    SQL_PRICING_SUMMARY,
    SQL_SEGMENT_PAIRS,
    SQL_SESSIONIZE,
    SQL_SIMHASH,
    SQL_STAY_COLLAPSE,
    SQL_STREAMING_DEDUP,
    SQL_STREAMING_SESSIONS,
    SQL_STREAMING_STAY_COLLAPSE,
    SQL_STREAMING_TILES,
    SQL_SYMMETRIZE_NORM,
    SQL_TEXT_FEATURES,
    SQL_TFIDF_TOPTERMS,
    SQL_TILE_PYRAMID,
    SQL_TOP_CUSTOMERS,
    SQL_TRAJ_NESTED,
    SQL_TRAJ_STATS,
    SQL_VOCAB_TOPK,
    SQL_WALK_SKIPGRAMS,
    _SDEDUP_BASE,
    _golden_sql,
    _polygon_adjacency_sql,
    _sql_dedup_components,
    _sql_ann_topk,
    _sql_matched_edge_graph,
    sql_pages_points,
)


G = PORTO_GRID

_L = dlit


def _RND(col, n):
    """round() that never emits IEEE -0.0.

    Spark's round() returns +0.0 where DuckDB's keeps the sign of a zero
    rounded from a tiny negative (-1e-9 -> -0.0); the driver's correctness
    gate hashes raw bytes, so the two disagree even though ``==`` says
    equal.  ``x + 0.0`` maps -0.0 -> +0.0 and is exact for every other
    value; the SQL oracles apply the matching ``round(...) + 0e0``.
    """
    return F.round(col, n) + F.lit(0.0)


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth.synthetic_points(spark, sf_dir)


def _points_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cell_ops.with_cell(_points(spark, sf_dir), G)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.read_table(spark, f"{sf_dir}/documents.parquet", tables.DOCUMENTS)


def _docs_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table hash-partitioned on doc_id, one partition per
    core. It ships as ONE parquet file at test scale → one scan task; the
    fan-out lets the Arrow signature stages use every core (the verify
    spreads its own slim pairs, so it reads the plain table). More
    partitions than cores only add Python tasks, each with a fixed cost
    before its UDF body runs: ~0.04 CPU-s in a reused worker, ~0.2 in a
    worker's first task, which still re-reads every zip directory on the
    path (see trajlib_spark/_pyworker.py). At 100 TB the input arrives
    pre-split and this repartition is the storage layer's job."""
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.read_table(spark, f"{sf_dir}/embeddings.parquet", tables.EMBEDDINGS)


# ---------------------------------------------------------------------------
# geospatial queries
# ---------------------------------------------------------------------------

def q_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points(spark, sf_dir).select(
        "point_id",
        "traj_id",
        "ts_ms",
        _RND("lon", 6).alias("lon_r"),
        _RND("lat", 6).alias("lat_r"),
    )


def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points_cells(spark, sf_dir).select("point_id", "i_x", "i_y", "cell_id")


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster_ops.tile_counts(_points(spark, sf_dir), G).select(
        F.col("zoom").cast("long").alias("zoom"), "i_x", "i_y", "cell_id", "cnt"
    )


def q_stay_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stay_ops.collapse_consecutive_cells(_points_cells(spark, sf_dir), G)
    return out.select(
        "traj_id", F.col("seq").cast("long").alias("seq"), "point_id", "cell_id"
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stay_ops.sessionize(_points(spark, sf_dir), min_points=2)
    return s.groupBy("traj_id", F.col("session_idx").cast("long").alias("session_idx")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("ts_ms").alias("start_ms"),
        F.max("ts_ms").alias("end_ms"),
    )


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    polys = synth.synthetic_polygons(spark, sf_dir)
    return sj_ops.point_in_polygon(
        _points_cells(spark, sf_dir), polys, G, point_cols=["point_id"]
    ).select("point_id", "geo_id")


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    queries = pts.where(F.col("point_id") % 97 == 0)
    out = knn_ops.knn_join(pts, queries, G, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def q_point_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point feature bundle: the reference's 4-tuple spatial features
    (x/y minmax-norm, neighbor-mean distance, turning-angle feature) and
    the kinematic derivations (step, speed, bearing, acceleration) — one
    row per point, all eight values (consolidates the former
    spatial_features / kinematics queries, VERDICT r4 #2 follow-on).
    Round 9: both operators window over the SAME (traj, ts, point) spec,
    so they chain into one pass — Catalyst collapses the adjacent Window
    nodes onto a single shuffle+sort — instead of two full window passes
    re-joined on point_id (2 extra Exchanges for identical values)."""
    pts = _points(spark, sf_dir)
    both = feat_ops.kinematics(
        feat_ops.spatial_features(pts, G)
    )
    return both.select(
        "point_id",
        _RND("x_norm", 6).alias("x_norm_r"),
        _RND("y_norm", 6).alias("y_norm_r"),
        _RND("dist_feat", 6).alias("dist_r"),
        _RND("radian_feat", 6).alias("radian_r"),
        _RND("step_m", 3).alias("step_r"),
        _RND("speed_mps", 4).alias("speed_r"),
        _RND("bearing_rad", 3).alias("bearing_r"),
        _RND("accel_mps2", 4).alias("accel_r"),
    )


def q_point_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point derivation bundle — reference tool_funcs.radian bearing
    and R=6367 km haversine of consecutive lon/lat steps plus the trajsimi
    global population-σ z-score of the Mercator coordinates, in one table
    and one window pass (consolidates the former bearing / haversine /
    zscore_norm scalar queries, VERDICT r4 #2; first-of-trajectory step
    columns stay NULL instead of being filtered)."""
    from pyspark.sql import Window
    from trajlib_spark.functions.geometry import bearing_radian, haversine_m

    pts = _points(spark, sf_dir)
    stats = pts.agg(
        F.avg("x").alias("mx"), F.stddev_pop("x").alias("sx"),
        F.avg("y").alias("my"), F.stddev_pop("y").alias("sy"),
    ).collect()[0]
    w = Window.partitionBy("traj_id").orderBy("ts_ms", "point_id")
    lp, lt = F.lag("lon").over(w), F.lag("lat").over(w)
    return pts.select(
        "point_id",
        bearing_radian(lp, lt, F.col("lon"), F.col("lat")).alias("bearing_ref"),
        _RND(haversine_m(lp, lt, F.col("lon"), F.col("lat")), 3).alias("hav_r"),
        _RND((F.col("x") - F.lit(stats.mx)) / F.lit(stats.sx), 6).alias("xz_r"),
        _RND((F.col("y") - F.lit(stats.my)) / F.lit(stats.sy), 6).alias("yz_r"),
    )


def q_traj_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = feat_ops.traj_stats(_points(spark, sf_dir))
    return out.select(
        "traj_id",
        "n_points",
        _RND("path_m", 2).alias("path_r"),
        _RND("chord_m", 2).alias("chord_r"),
        _RND("sinuosity", 4).alias("sinuosity_r"),
        _RND("travel_time_s", 1).alias("tt_r"),
    )


def q_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined segment distance d1 + d2 (endpoint + angular,
    clustering.py:57-83) over whole-trajectory chords, blocked by
    fed_id = traj_id % 5 (federation semantics). The pair table comes from
    _segment_pair_d (shared with q_symmetrize_norm), its distance terms
    from cluster.segment_distance_terms (shared with q_silhouette)."""
    j, d1, d2 = _segment_pair_d(spark, sf_dir)
    return j.select(
        F.col("a.traj_id").alias("i"),
        F.col("b.traj_id").alias("j"),
        _RND(d1, 3).alias("d1_r"),
        _RND(d2, 3).alias("d2_r"),
        _RND(d1 + d2, 3).alias("d_r"),
    )


def _segment_pair_d(spark: SparkSession, sf_dir: str):
    """Full-precision combined segment distance d1 + d2 over whole-
    trajectory chords, blocked by fed_id = traj_id % 5 (shared by
    q_segment_pairs and q_symmetrize_norm)."""
    pts = _points(spark, sf_dir)
    # chord endpoints = first/last point in (ts_ms, point_id) order. The
    # old shape ranked EVERY point through a partitionBy window (full
    # shuffle + sort of the points table) to keep rows 1 and n; min_by/
    # max_by on the unique (ts_ms, point_id) struct key select the exact
    # same two rows per trajectory with a map-side partial aggregate and
    # no sort (round 9, guide §2.3 — aggregate instead of rank-and-filter)
    okey = F.struct("ts_ms", "point_id")
    ends = (
        pts.groupBy("traj_id")
        .agg(
            F.min_by(F.struct("x", "y"), okey).alias("s"),
            F.max_by(F.struct("x", "y"), okey).alias("e"),
        )
        .select(
            "traj_id",
            (F.col("traj_id") % 5).alias("fed_id"),
            F.col("s.x").alias("sx"), F.col("s.y").alias("sy"),
            F.col("e.x").alias("ex"), F.col("e.y").alias("ey"),
        )
    )
    a = ends.alias("a")
    b = ends.alias("b")
    j = a.join(b, (F.col("a.fed_id") == F.col("b.fed_id"))
               & (F.col("a.traj_id") < F.col("b.traj_id")))
    d1, d2 = cluster_ops.segment_distance_terms(("sx", "sy", "ex", "ey"))
    return j, d1, d2


def q_symmetrize_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(S + Sᵀ) / max over the segment-pair distances — the reference's
    symmetrize + global-max normalization (simi_trainer.py:197-200)."""
    j, d1, d2 = _segment_pair_d(spark, sf_dir)
    dists = j.select(
        F.col("a.traj_id").alias("i"),
        F.col("b.traj_id").alias("j"),
        (d1 + d2).alias("dist"),
    )
    out = simi_ops.symmetrize_normalize(dists)
    return out.select("i", "j", _RND("dist", 6).alias("dist_norm_r"))


def q_cell_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile geometry (get_mbr) + boundary-clipped k=2 ring size for every
    occupied cell (consolidates the former cell_mbr / kring scalar
    queries, VERDICT r4 #2 — the per-point kring rows only repeated their
    cell's value)."""
    pc = _points_cells(spark, sf_dir).select("i_x", "i_y", "cell_id").distinct()
    mbr = cell_ops.cell_mbr(F.col("i_x"), F.col("i_y"), G)
    return pc.select(
        "cell_id",
        F.size(
            cell_ops.kring_cell_ids(F.col("i_x"), F.col("i_y"), G, 2)
        ).cast("long").alias("ring_cells"),
        _RND(mbr["x_lo"], 2).alias("x_lo_r"),
        _RND(mbr["y_lo"], 2).alias("y_lo_r"),
        _RND(mbr["x_hi"], 2).alias("x_hi_r"),
        _RND(mbr["y_hi"], 2).alias("y_hi_r"),
    )


def q_neighbour_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full adjacent-cell-pair enumeration (cell graph edges)."""
    return cell_ops.neighbour_cell_pairs(spark, G)


def q_cell_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec walk generation over the cell graph (p = q = 1, the
    reference's own config — node2vec_.py:19-29): 2 deterministic uniform
    walks of 12 positions from every cell the points table touches.
    The torch SGD embedding stays a documented non-goal; this is the
    data-pipeline half, LIVE-SQL-oracled (the oracle unrolls the walk into
    11 chained adjacency joins with the same integer hash chooser)."""
    from trajlib_spark.operators import walks as walks_ops

    pairs = cell_ops.neighbour_cell_pairs(spark, G)
    starts = _points_cells(spark, sf_dir).select("cell_id").distinct()
    return walks_ops.node2vec_walks(pairs, starts, walk_length=12, walks_per_node=2)


def q_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts from the node2vec walks —
    the reference's context_size-10 sampling (node2vec_.py:19-29) as a
    walk_id self-join, aggregated to the (center_cell, context_cell)
    co-occurrence table the embedding SGD would consume (the torch half
    stays the documented non-goal, SURVEY §7.3)."""
    from trajlib_spark.operators import walks as walks_ops

    walks = q_cell_walks(spark, sf_dir)
    pairs = walks_ops.skipgram_pairs(walks)
    return pairs.groupBy(
        F.col("center").alias("center_cell"), F.col("context").alias("context_cell")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def q_traj_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-polyline view (cal_all_trajs) summarized to scalars."""
    from trajlib_spark.data_model import cal_all_trajs

    pts = _points(spark, sf_dir)
    nested = cal_all_trajs(pts)
    return nested.select(
        "traj_id",
        F.col("n_points").cast("long").alias("n_points"),
        _RND(F.element_at("lon_list", 1), 6).alias("head_lon_r"),
        _RND(F.element_at("lat_list", -1), 6).alias("tail_lat_r"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the general-OLAP
    sanity anchor (groupBy + 6 aggregates + having-free ordering)."""
    li = tables.read_table(spark, f"{sf_dir}/lineitem.parquet", tables.LINEITEM)
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _RND(F.sum("l_quantity"), 2).alias("sum_qty"),
            _RND(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _RND(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            _RND(F.avg("l_quantity"), 4).alias("avg_qty"),
            _RND(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (customer ⋈ nation broadcast, orders shuffle) + agg +
    top-k — the classic star-join shape."""
    c = tables.read_table(spark, f"{sf_dir}/customer.parquet", tables.CUSTOMER)
    o = tables.read_table(spark, f"{sf_dir}/orders.parquet", tables.ORDERS)
    n = tables.read_table(spark, f"{sf_dir}/nation.parquet", tables.NATION)
    out = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "n_name")
        .agg(
            _RND(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(25)
    )
    return out


def q_events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value sum ordered by time — the window-analytics
    shape over the events stream table."""
    from pyspark.sql import Window

    ev = tables.read_table(spark, f"{sf_dir}/events.parquet", tables.EVENTS)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis(F.col("ts").cast("timestamp")), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return ev.select(
        "event_id",
        "user_id",
        _RND(F.sum("value").over(w), 4).alias("running_value"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.exact_duplicates(_docs(spark, sf_dir))


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis bundle: token/char counts, the heuristic
    quality score with its components, and n-gram-marker language ID — one
    scan of the corpus (consolidates the former token_count /
    quality_score / lang_id scalar queries, VERDICT r4 #2)."""
    d = text_ops.with_lang_id(text_ops.with_quality(_docs(spark, sf_dir)))
    return d.select(
        "doc_id",
        "n_words",
        F.length("text").cast("long").alias("n_chars_live"),
        _RND("punct_ratio", 6).alias("punct_r"),
        _RND("avg_word_len", 6).alias("awl_r"),
        _RND("quality_score", 6).alias("quality_r"),
        "lang_pred",
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters (training-data pipeline: vocabulary /
    heavy-hitter extraction before tokenizer training). Catalyst plans the
    orderBy+limit as TakeOrderedAndProject — per-partition top-k heaps,
    no global sort."""
    return text_ops.vocab_topk(_docs(spark, sf_dir))


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (smoothed idf) — the relevance/
    quality primitive a training-data pipeline uses for keyword profiling
    and near-topic filtering."""
    return text_ops.tfidf_top_terms(_docs(spark, sf_dir))


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained character-trigram LM quality score per document —
    the statistical sibling of the heuristic quality_score (perplexity-
    style filtering without an external model)."""
    return text_ops.trigram_lm_score(_docs(spark, sf_dir))


def _replay_stream(spark: SparkSession, batch_dfs, make_query, schema: str) -> DataFrame:
    """Deterministic micro-batch replay: write each batch as ONE parquet
    file into a watched dir, processAllAvailable after each write (so the
    watermark advances between batches exactly once per batch), return
    the memory-sink table. Aggregation replays (sessions / tiles) are
    arrival-order independent; dedup replays additionally pre-sort their
    batches so the single-mapper shuffle preserves per-key order."""
    import tempfile
    import uuid

    tmp = tempfile.mkdtemp(prefix="sreplay_")
    src = os.path.join(tmp, "src")
    batch_dfs = list(batch_dfs)
    batch_dfs[0].coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"srp_{uuid.uuid4().hex[:8]}"
    q = (
        make_query(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batch_dfs[1:]:
            b.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    # the memory sink holds the rows driver-side; the source/checkpoint
    # files are dead weight once the query stops
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(name)


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic replay of the streaming trip sessionizer
    (streaming/sessionize.py — session_window(360 s) + 30 min watermark):
    batch 1 = every synthetic point as a (traj, ts) event, batches 2-3 =
    one far-future dummy event each (+2 h, +2 h+1 s) whose only job is to
    advance the watermark past every batch-1 session so append mode emits
    them all, closed and final; the dummies' own sessions stay open and
    never appear. Aggregation output is arrival-order independent, so the
    survivor set is exactly the batch-1 session windows — replayed in
    DuckDB with the same strict-< gap-merge semantics in ms arithmetic."""
    from trajlib_spark.streaming.sessionize import streaming_sessions

    pts = _points(spark, sf_dir)
    mx = pts.agg(F.max("ts_ms")).collect()[0][0]
    ev = pts.select(
        F.col("traj_id").alias("user_id"),
        F.timestamp_millis(F.lit(_SDEDUP_BASE * 1000) + F.col("ts_ms")).alias("ts"),
    )
    dummies = [
        spark.range(1).select(
            F.lit(-1 - k).cast("long").alias("user_id"),
            F.timestamp_millis(
                F.lit(_SDEDUP_BASE * 1000 + int(mx) + 7_200_000 + k * 1000)
            ).alias("ts"),
        )
        for k in range(2)
    ]
    out = _replay_stream(
        spark,
        [ev, *dummies],
        streaming_sessions,
        "user_id long, ts timestamp",
    )
    return out.select(
        "user_id",
        F.unix_millis("window_start").alias("ws_ms"),
        F.unix_millis("window_end").alias("we_ms"),
        F.col("n_points").cast("long").alias("n_points"),
        F.unix_millis("start_ts").alias("st_ms"),
        F.unix_millis("end_ts").alias("en_ms"),
    )


def q_streaming_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic replay of streaming tile counting (streaming/tiles.py
    — 1 min tumbling windows + 10 min watermark over the SAME Catalyst
    cell expressions as the batch path): batch 1 = every synthetic point,
    batches 2-3 = one far-future dummy point each to push the watermark
    past all batch-1 windows (the dummies' windows stay open and are
    never emitted). Survivors = the batch-1 (window, cell) counts,
    replayed in DuckDB as epoch-aligned ms floor-division."""
    from trajlib_spark.config import PORTO_GRID
    from trajlib_spark.streaming.tiles import streaming_tile_counts

    pts = _points(spark, sf_dir)
    mx = pts.agg(F.max("ts_ms")).collect()[0][0]
    ev = pts.select(
        "x", "y",
        F.timestamp_millis(F.lit(_SDEDUP_BASE * 1000) + F.col("ts_ms")).alias("ts"),
    )
    cx, cy = PORTO_GRID.center
    dummies = [
        spark.range(1).select(
            F.lit(float(cx)).alias("x"), F.lit(float(cy)).alias("y"),
            F.timestamp_millis(
                F.lit(_SDEDUP_BASE * 1000 + int(mx) + 7_200_000 + k * 1000)
            ).alias("ts"),
        )
        for k in range(2)
    ]
    out = _replay_stream(
        spark,
        [ev, *dummies],
        lambda s: streaming_tile_counts(s, G),
        "x double, y double, ts timestamp",
    )
    return out.select(
        F.unix_millis("window_start").alias("ws_ms"),
        "cell_id",
        F.col("i_x").cast("long").alias("i_x"),
        F.col("i_y").cast("long").alias("i_y"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_streaming_stay_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic replay of the custom stateful operator
    (streaming/stateful.py — applyInPandasWithState stay-point collapse):
    the synthetic points split into two micro-batches at the midpoint
    timestamp, so each trajectory's leading batch-2 point exercises the
    CROSS-BATCH state (dropped iff its cell equals the batch-1 tail's).
    The UDF sorts each batch by (ts_ms, point_id) internally and the time
    split preserves global order under concatenation, so the replay
    equals the batch collapse exactly — oracled with the same lag-based
    SQL as the batch operator. Cells are assigned at zoom 5 (32× coarser
    than the base grid): at base resolution the synthetic trajectories
    never revisit a cell consecutively, which would make the collapse an
    identity; the coarse grid produces ~3% real drops, some straddling
    the batch boundary (the cross-batch state path)."""
    from trajlib_spark.streaming.stateful import streaming_stay_collapse

    gz = G.at_zoom(5)
    pc = _points_cells(spark, sf_dir).select(
        F.col("traj_id").cast("string").alias("traj_id"),
        "point_id", "ts_ms",
        (
            F.floor(F.col("i_x") / F.lit(32.0)) * F.lit(gz.y_size)
            + F.floor(F.col("i_y") / F.lit(32.0))
        ).cast("long").alias("cell_id"),
    )
    mx = pc.agg(F.max("ts_ms")).collect()[0][0]
    half = int(mx) // 2
    out = _replay_stream(
        spark,
        [pc.where(F.col("ts_ms") <= half), pc.where(F.col("ts_ms") > half)],
        streaming_stay_collapse,
        "traj_id string, point_id long, ts_ms long, cell_id long",
    )
    return out.select("traj_id", "point_id", "ts_ms", "cell_id")


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-micro-batch replay of streaming_exact_dedup
    (streaming/dedup.py): batch 1 = docs 0..299, batch 2 = docs 300..399
    plus exact repeats of every batch-1 doc with doc_id % 3 == 0.  Each
    batch is ONE sorted single-partition parquet file, so arrival order —
    and therefore the first-seen survivor per md5 hash — is deterministic;
    batch-2 repeats are dropped by cross-batch STATE, the semantics the
    memory-sink pytest could not show the driver.  Survivors are oracled
    as rank-1 rows per hash under (batch, ts, doc_id) order in DuckDB."""
    from trajlib_spark.streaming.dedup import streaming_exact_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    b1 = d.where(F.col("doc_id") < 300).select(
        "doc_id", "text", (F.lit(_SDEDUP_BASE) + F.col("doc_id")).alias("ts_s")
    )
    b2_new = d.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)).select(
        "doc_id", "text", (F.lit(_SDEDUP_BASE + 300) + F.col("doc_id")).alias("ts_s")
    )
    b2_rep = d.where((F.col("doc_id") < 300) & (F.col("doc_id") % 3 == 0)).select(
        "doc_id", "text", (F.lit(_SDEDUP_BASE + 600) + F.col("doc_id")).alias("ts_s")
    )
    batches = [
        b.orderBy("ts_s", "doc_id").withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
        for b in (b1, b2_new.unionAll(b2_rep))
    ]
    out = _replay_stream(
        spark,
        batches,
        lambda s: streaming_exact_dedup(s, watermark="30 minutes"),
        "doc_id long, text string, ts timestamp",
    )
    return out.select("doc_id", "text_hash")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 and the IVF scale path (trained centroids,
    n_probe=8) over the same query set, method-tagged in one table
    (consolidates the former ann_cosine / ann_ivf queries, VERDICT r4 #2
    follow-on; hybrid oracle: live cosine SQL ∪ the ann_ivf golden)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") % 50 == 0)
    cos = ann_ops.cosine_topk(embs, queries, k=10)
    centroids = ann_ops.train_centroids(embs, n_list=32)
    ivf = ann_ops.ivf_topk(embs, queries, k=10, centroids=centroids, n_probe=8)
    parts = [
        c.select(
            F.lit(tag).alias("method"),
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        )
        for tag, c in (("cosine", cos), ("ivf", ivf))
    ]
    return parts[0].unionAll(parts[1])


def q_knn_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query kNN quality bundle: the reference's rank metric
    (similarity.rank_metric: count of corpus vectors at L2 distance ≤ the
    designated true match's) and the per-query hit count between cosine
    top-10 and L2 top-10 neighbor sets — per-query hits are strictly
    stronger evidence than the reference's single global hit ratio, and
    the full L2 ranking is computed once for both."""
    embs = _embs(spark, sf_dir)
    qs = embs.where(F.col("vec_id") % 50 == 0)
    d = knn_like_l2_topk(embs, qs, k=10**9)  # full ranking, shared
    cos = ann_ops.cosine_topk(embs, qs, k=10).select("query_id", "neighbor_id")
    l2 = d.where(F.col("rank") <= 10).select("query_id", "neighbor_id")
    hits = cos.join(l2, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits10")
    )
    target = d.where(F.col("neighbor_id") == F.col("query_id") + 1).select(
        "query_id", F.col("d2").alias("target_d2")
    )
    # the corpus contains exact-duplicate vectors; compare on rounded d2 so
    # both engines resolve those ties identically despite different
    # summation orders
    rank = simi_ops.rank_metric(
        d.join(target, "query_id").select(
            "query_id", _RND("d2", 6).alias("dist"), _RND("target_d2", 6).alias("target")
        ),
        query="query_id", target_dist="target",
    )
    return rank.join(hits, "query_id", "left").select(
        "query_id", "rank", F.coalesce("hits10", F.lit(0)).alias("hits10")
    )


def knn_like_l2_topk(embs: DataFrame, qs: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    q = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = embs.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a.cast("double") - b.cast("double"))
                   * (a.cast("double") - b.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    pairs = F.broadcast(q).crossJoin(c).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        pairs.withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible; numpy-oracle-tested in tests/)
# ---------------------------------------------------------------------------

def q_segment_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = segment_ops.segment_trajectories(_points(spark, sf_dir))
    return out.select(
        "traj_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.col("start_idx").cast("long").alias("start_idx"),
        F.col("end_idx").cast("long").alias("end_idx"),
        F.col("n_points").cast("long").alias("n_points"),
    )


def q_rdp_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = segment_ops.simplify_trajectories(_points(spark, sf_dir))
    return out.where(F.col("rdp_keep")).select("traj_id", "point_id")


def q_similarity_edwp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EDwP's DP kernel is O(n·m) python per pair — block so each shard has
    # ~6 trajectories (≈15 pairs) regardless of scale, the federation-bound
    # pattern the reference uses to cap its own N² (data_loader.py:58)
    pts = _points(spark, sf_dir)
    n_traj = pts.select("traj_id").distinct().count()
    n_blocks = max(5, n_traj // 6)
    pts = pts.withColumn("fed_id", F.col("traj_id") % n_blocks)
    polys = simi_ops.collect_polylines(
        pts.select("traj_id", "fed_id", "ts_ms", "point_id", "x", "y")
    ).join(pts.select("traj_id", "fed_id").distinct(), "traj_id")
    d = simi_ops.multi_measure_join(polys, {"dist": ("edwp", 0.0)}, block_col="fed_id")
    return d.select("i", "j", _RND("dist", 3).alias("dist_r"))


def q_similarity_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCSS + EDR (z-scored space, ε=0.25) and Fréchet + Hausdorff (raw
    space) for every fed-blocked pair in ONE multi-measure pass — the pair
    table is shuffled and polyline-joined once instead of four times
    (consolidates the former similarity_lcss / _edr / _frechet /
    _hausdorff queries, VERDICT r4 #2; same kernels, same pairs, same
    rounded values)."""
    both = simi_ops.normalize_polylines(
        _blocked_polylines(spark, sf_dir), out_cols=("xs_n", "ys_n")
    )
    d = simi_ops.multi_measure_join(
        both,
        measures={
            "lcss": ("lcss", 0.25),
            "edr": ("edr", 0.25),
            "frechet": ("frechet", 0.0),
            "hausdorff": ("hausdorff", 0.0),
        },
        coord_cols={"lcss": ("xs_n", "ys_n"), "edr": ("xs_n", "ys_n")},
        block_col="fed_id",
    )
    return d.select(
        "i", "j",
        _RND("lcss", 6).alias("lcss_r"),
        _RND("edr", 6).alias("edr_r"),
        _RND("frechet", 3).alias("frechet_r"),
        _RND("hausdorff", 3).alias("hausdorff_r"),
    )


def _cluster_input_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRACLUS segments + synthetic 32-dim embedding, the shared input of
    cluster_segments and silhouette."""
    segs = segment_ops.segment_trajectories(_points(spark, sf_dir))
    return segs.where(F.col("n_points") >= 2).select(
        (F.col("traj_id").cast("long") % 5).cast("int").alias("fed_id"),
        (F.col("traj_id").cast("long") * 1000 + F.col("seg_idx")).alias("segment_id"),
        F.element_at("seg_xs", 1).alias("start_x"),
        F.element_at("seg_ys", 1).alias("start_y"),
        F.element_at("seg_xs", -1).alias("end_x"),
        F.element_at("seg_ys", -1).alias("end_y"),
        F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda k: F.sin(F.col("seg_idx") * 0.7 + k * 0.31),
        ).alias("emb"),
    )


def q_cluster_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _cluster_input_segments(spark, sf_dir)
    return cluster_ops.cluster_segments(segs, eps=50000.0, min_samples=2).select(
        F.col("fed_id").cast("long").alias("fed_id"), "segment_id", "label"
    )


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette of fed-block 0's DBSCAN labeling (clustering.py:202-220),
    computed distributed from a symmetric Catalyst pair-distance table —
    eps=4000 gives a multi-cluster regime (eps=50000 collapses to one
    cluster, where silhouette is undefined)."""
    segs = _cluster_input_segments(spark, sf_dir).where(F.col("fed_id") == 0).persist()
    labeled = cluster_ops.cluster_segments(segs, eps=4000.0, min_samples=2)
    a = segs.alias("a")
    b = segs.alias("b")
    # equi-join on fed_id (the federation block key) + != filter: stays a
    # hash join at any shard count instead of a nested-loop join
    pairs = a.join(
        b,
        (F.col("a.fed_id") == F.col("b.fed_id"))
        & (F.col("a.segment_id") != F.col("b.segment_id")),
    )
    d1, d2 = cluster_ops.segment_distance_terms(("start_x", "start_y", "end_x", "end_y"))
    d3 = cluster_ops.embedding_distance("emb")
    pair_dists = pairs.select(
        F.col("a.segment_id").alias("i"),
        F.col("b.segment_id").alias("j"),
        (d1 + d2 + d3).alias("dist"),
    )
    try:
        sil = cluster_ops.silhouette_distributed(
            labeled, pair_dists, label_col="label"
        )
        n = segs.count()
    finally:
        segs.unpersist()  # every read of segs is one of the actions above
    return spark.createDataFrame(
        [(n, (round(sil, 4) + 0e0))], "n long, silhouette_r double"
    )


def q_cluster_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated cluster aggregation + greedy centroid merge
    (/root/reference/clustering.py:125-144): per-shard DBSCAN clusters →
    per-cluster size/centroid/radius aggregates → driver-side greedy
    disjoint merge by centroid distance → merged clusters' centroid /
    radius / size recomputed over ALL member segments, like merge_clus →
    Cluster(all_segments) (:93-95) and the final report loop (:223-227).
    The merge itself runs on #clusters rows (the reference's aggregation
    step is equally centralized); member stats are recomputed distributed,
    by the same cluster_aggregates grouped by global_cluster."""
    segs = _cluster_input_segments(spark, sf_dir).persist()
    labeled = cluster_ops.cluster_segments(segs, eps=4000.0, min_samples=2).persist()
    try:
        agg = cluster_ops.cluster_aggregates(labeled, segs)
        mapping = cluster_ops.federated_merge(agg, eps=20000.0)
        merged = cluster_ops.cluster_aggregates(
            labeled.join(F.broadcast(mapping), ["fed_id", "label"]), segs,
            by=("global_cluster",),
        )
        # one row per merged cluster, read here so that both caches are
        # released before the query returns
        rows = merged.select(
            F.col("global_cluster").cast("long").alias("global_cluster"),
            "size",
            _RND("centroid_x", 2).alias("centroid_x_r"),
            _RND("centroid_y", 2).alias("centroid_y_r"),
            _RND("radius", 2).alias("radius_r"),
        ).collect()
    finally:
        labeled.unpersist()
        segs.unpersist()
    return spark.createDataFrame(
        rows,
        "global_cluster long, size long, centroid_x_r double, "
        "centroid_y_r double, radius_r double",
    )


def _blocked_polylines(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).withColumn("fed_id", F.col("traj_id") % 5)
    polys = simi_ops.collect_polylines(
        pts.select("traj_id", "fed_id", "ts_ms", "point_id", "x", "y")
    )
    return polys.join(pts.select("traj_id", "fed_id").distinct(), "traj_id")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table hyperplane LSH +
    exact Catalyst cosine verify. Random 64-dim vectors never reach
    cosine 0.6, so the corpus is salted with planted pairs of BOTH kinds:
    exact duplicates (vec_id % 200 == 0) and TRUE near-duplicates
    (vec_id % 200 == 100, perturbed by a fixed rational direction so
    cosine lands ≈ 0.97 ∈ [0.95, 1)). The golden oracle is the
    brute-force ≥ 0.95 pair set, and gen_golden asserts the LSH replica
    recovers ALL of it — so this row certifies near-dup RECALL, not just
    bucketing determinism (VERDICT r2 item 6). The perturbation uses only
    exactly-rounded IEEE arithmetic (no transcendentals) for cross-engine
    bit parity."""
    embs = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = embs.where(F.col("vec_id") % 200 == 0)
    near = embs.where(F.col("vec_id") % 200 == 100).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: x
            + F.lit(0.05)
            * (((i * 17) % 11 - 5).cast("double") / F.lit(5.0)),
        ).alias("embedding"),
    )
    salted = exact.unionAll(near).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    out = dedup_ops.embedding_near_dups(embs.unionAll(salted))
    return out.select("i", "j", _RND("cosine", 6).alias("cosine_r"))


def _newsimi_summary(q: DataFrame, db: DataFrame) -> DataFrame:
    def summarize(df: DataFrame, role: str) -> DataFrame:
        return df.where(F.size("xs") > 0).select(
            F.lit(role).alias("role"),
            "traj_id",
            F.size("xs").cast("long").alias("n_pts"),
            _RND(F.element_at("xs", 1), 4).alias("x0_r"),
            _RND(F.element_at("ys", -1), 4).alias("yl_r"),
        )

    return summarize(q, "q").unionAll(summarize(db, "db"))


def q_newsimi_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """newsimi query/db generation (preprocessing_porto.py:94-117): test
    slice [0.8n, 0.8n+25), first 10 trajs' EVEN points = queries, every
    traj's ODD points = db — summarized per polyline."""
    from trajlib_spark.operators import newsimi

    polys = simi_ops.collect_polylines(_points(spark, sf_dir))
    q, db = newsimi.newsimi_datasets(polys, n_query=10, n_db=25, variant="raw")
    return _newsimi_summary(q, db)


def q_newsimi_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both stochastic newsimi variants — downsample (rate=0.3,
    preprocessing_porto.py:120-134) and distort (rate=0.3, :151-170) — as
    one variant-tagged summary table (consolidates the former
    newsimi_downsample / newsimi_distort queries, VERDICT r4 #2; the
    polyline collection is shared across variants)."""
    from trajlib_spark.operators import newsimi

    polys = simi_ops.collect_polylines(_points(spark, sf_dir))
    parts = []
    for variant in ("downsample", "distort"):
        q, db = newsimi.newsimi_datasets(
            polys, n_query=10, n_db=25, variant=variant, rate=0.3
        )
        parts.append(
            _newsimi_summary(q, db).select(F.lit(variant).alias("variant"), "*")
        )
    return parts[0].unionAll(parts[1])


def q_measure_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN by true Hausdorff measure via the exact grid-pruned path
    (anchor-cell ring join + radius bound; fed_trainer.py:445-452)."""
    polys = simi_ops.collect_polylines(_points(spark, sf_dir))
    qs = polys.where(F.col("traj_id") % 30 == 0)
    out = simi_ops.measure_topk(polys, qs, "hausdorff", k=5, grid=G, ring=8)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        _RND("dist", 3).alias("dist_r"),
    )


def q_measure_topk_lcss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN by normalized LCSS via the exact ε-match cell-blocked path
    (similarity._lcss_edr_topk): candidates from a z-space anchor-cell
    equi-join, non-candidates provably score 1.0 and fill the tail from
    the smallest ids — no full-corpus scan, no crossJoin node."""
    polys = simi_ops.normalize_polylines(
        simi_ops.collect_polylines(_points(spark, sf_dir))
    )
    qs = polys.where(F.col("traj_id") % 30 == 0)
    out = simi_ops.measure_topk(polys, qs, "lcss", k=5)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        _RND("dist", 6).alias("dist_r"),
    )


def q_measure_topk_edwp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN by EDwP via the exact grid-pruned metric path (round 3: every
    DP term is (d₁+d₂)·cov with distances between on-polyline points and
    Σcov = 1, so EDwP ≥ 2·minDist(sets) — the anchor-ring certificate
    applies; previously EDwP was the one full-scan measure)."""
    polys = simi_ops.collect_polylines(_points(spark, sf_dir))
    qs = polys.where(F.col("traj_id") % 30 == 0)
    out = simi_ops.measure_topk(polys, qs, "edwp", k=5, grid=G, ring=8)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        _RND("dist", 3).alias("dist_r"),
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash runs on the fanned-out docs; the verify reads the plain
    # table, so its byte gate and text collect do not each re-run the
    # fan-out shuffle
    sigs = dedup_ops.minhash_signatures(_docs_fanned(spark, sf_dir))
    cands = dedup_ops.lsh_candidates(sigs)
    verified = dedup_ops.ngram_jaccard_verify(_docs(spark, sf_dir), cands, threshold=0.5)
    return verified.select("i", "j", _RND("jaccard", 6).alias("jaccard_r"))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from the verified MinHash pair table: connected
    components by min-label propagation (dedup.connected_components) —
    the stage that turns pairwise near-dup evidence into keep/drop
    decisions (keeper = component id = smallest doc id).  The verified
    pair graph is small (a few thousand edges at the benchmark scales),
    so it fits the session's broadcast budget and the rounds run on the
    driver after one bounded collect; the verify above it runs once.
    As in minhash_lsh, only MinHash reads the fanned-out docs."""
    sigs = dedup_ops.minhash_signatures(_docs_fanned(spark, sf_dir))
    cands = dedup_ops.lsh_candidates(sigs)
    pairs = dedup_ops.ngram_jaccard_verify(_docs(spark, sf_dir), cands, threshold=0.5)
    cc = dedup_ops.connected_components(pairs.select("i", "j"))
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_hamming=4 → 5 bands × 12 bits: selective buckets (a 10-bit budget
    # forces 5-bit bands whose 32 values collide a constant fraction of ANY
    # corpus — the candidate set then grows quadratically; 4 is also the
    # tighter, semantically-real near-dup threshold on this corpus)
    docs = _docs_fanned(spark, sf_dir)
    sigs = dedup_ops.simhash_signatures(docs)
    return dedup_ops.simhash_candidates(sigs, max_hamming=4).select(
        "i", "j", F.col("hamming").cast("long").alias("hamming")
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


ANN_RECALL_CLUSTERS = 25

ANN_RECALL_NPROBE = 4


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall against the exact brute force on a CLUSTERED fixture
    (VERDICT r3 item 7: the green ann_ivf row certifies determinism/shape;
    this row certifies RECALL at a realistic n_probe on data with real
    cluster structure — random-uniform vectors are the documented
    worst case, COVERAGE.md). The fixture derives deterministically from
    the embeddings table: member v = center(v mod 25) + 0.05·own — 25
    tight clusters the trained inverted lists should recover."""
    embs = _embs(spark, sf_dir)
    centers = embs.where(F.col("vec_id") < ANN_RECALL_CLUSTERS).select(
        F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cv")
    )
    clustered = embs.join(
        F.broadcast(centers),
        F.pmod(F.col("vec_id"), F.lit(ANN_RECALL_CLUSTERS)) == F.col("_cid"),
    ).select(
        "vec_id",
        F.zip_with(
            "_cv", "embedding",
            lambda c, o: c.cast("double") + F.lit(0.05) * o.cast("double"),
        ).alias("embedding"),
    )
    queries = clustered.where(F.col("vec_id") % 20 == 0)
    centroids = ann_ops.train_centroids(clustered, n_list=ANN_RECALL_CLUSTERS)
    approx = ann_ops.ivf_topk(
        clustered, queries, k=10, centroids=centroids, n_probe=ANN_RECALL_NPROBE
    )
    exact = ann_ops.cosine_topk(clustered, queries, k=10)
    out = ann_ops.recall_by_query(approx, exact, k=10)
    return out.select(
        "query_id",
        F.col("n_hit").cast("long").alias("n_hit"),
        _RND("recall", 4).alias("recall_r"),
    )


def q_fed_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional N-way federated shard assignment (np.array_split order)."""
    trajs = _points(spark, sf_dir).select("traj_id").distinct()
    return segment_ops.federated_split(trajs, 5).select(
        "traj_id", F.col("fed_id").cast("long").alias("fed_id")
    )


def q_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted normalization stats (the reference's df.describe() step):
    per-axis mean / population σ / min / max over all points."""
    pts = _points(spark, sf_dir)
    rows = []
    for axis in ("x", "y"):
        rows.append(
            pts.agg(
                F.lit(axis).alias("axis"),
                _RND(F.avg(axis), 4).alias("mean_r"),
                _RND(F.stddev_pop(axis), 4).alias("std_r"),
                _RND(F.min(axis), 4).alias("min_r"),
                _RND(F.max(axis), 4).alias("max_r"),
            )
        )
    return rows[0].unionAll(rows[1])


def q_augment_time_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic time_shift augmentation (p_i ← ¾p_i + ¼p_{i+1}) over
    nested polylines — pure Catalyst zip_with."""
    from trajlib_spark.operators import augment

    pts = _points(spark, sf_dir)
    polys = simi_ops.collect_polylines(pts.where(F.col("traj_id") < 8))
    xs2, ys2 = augment.time_shift(F.col("xs"), F.col("ys"))
    return polys.select(
        "traj_id",
        F.size(xs2).cast("long").alias("new_len"),
        _RND(F.element_at(xs2, 1), 4).alias("x0_r"),
        _RND(F.element_at(ys2, -1), 4).alias("yl_r"),
    )


def q_porto_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Porto CSV preprocess (missing/length/bbox filters + Mercator,
    preprocessing_porto.py:35-69) over the committed porto.csv via the
    real CSV scan (sources/porto.read_porto_csv)."""
    from trajlib_spark.sources import porto

    trips = porto.read_porto_csv(spark, _PORTO_CSV)
    out = porto.clean_trips(trips)
    return out.select(
        "traj_id", F.col("trajlen").cast("long").alias("trajlen"),
        _RND(F.element_at("merc_xs", 1), 2).alias("x0_r"),
    )


def q_porto_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYLINE explosion to the point table with the reference's 15-s
    cadence (porto.py:8-61), from the committed CSV."""
    from trajlib_spark.sources import porto

    trips = porto.read_porto_csv(spark, _PORTO_CSV)
    pts = porto.trips_to_points(trips.where(~F.col("MISSING_DATA")))
    return pts.select(
        "traj_id", F.col("pos").cast("long").alias("pos"), "ts_ms",
        _RND("lon", 6).alias("lon_r"), _RND("lat", 6).alias("lat_r"),
    )


def q_media_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature plumbing, both decoders in one
    decoder-tagged table (consolidates the former media_features /
    media_real queries, VERDICT r4 #2 follow-on): 'fake' = deterministic
    synthetic decode over the 200-row media table; 'real' = library-free
    codecs — PPM + BMP images (grayscale block-mean features) and WAV
    PCM16 audio (RMS-chunk features)."""
    from trajlib_spark.operators import multimodal

    def summarize(feats, tag):
        return feats.select(
            F.lit(tag).alias("decoder"),
            "media_id", "kind",
            _RND(
                F.aggregate("feat", F.lit(0.0), lambda a, v: a + v.cast("double")), 4
            ).alias("feat_sum_r"),
        )

    fake = multimodal.decode_features(
        multimodal.make_media_table(spark, 200), decoder="fake"
    )
    ppm = multimodal.make_media_table(spark, 80, "image", payload_format="ppm")
    bmp = multimodal.make_media_table(spark, 60, "image", payload_format="bmp")
    wav = multimodal.make_media_table(spark, 60, "audio", payload_format="wav")
    media = ppm.unionAll(
        bmp.withColumn("media_id", F.col("media_id") + 1000)
    ).unionAll(wav.withColumn("media_id", F.col("media_id") + 2000))
    real = multimodal.decode_features(media, decoder="real")
    return summarize(fake, "fake").unionAll(summarize(real, "real"))


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling: RV01 raw-video payloads (real
    uncompressed container, library-free decode) → 4 uniformly-spaced
    frames each → per-frame block-mean features, summed via the exact
    Catalyst left fold."""
    from trajlib_spark.operators import multimodal

    media = multimodal.make_media_table(spark, 60, "video", payload_format="rawvid")
    feats = multimodal.video_frame_features(media)
    return feats.select(
        "media_id", "frame_idx",
        _RND(
            F.aggregate("feat", F.lit(0.0), lambda a, v: a + v.cast("double")), 4
        ).alias("feat_sum_r"),
    )


def q_polygon_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoRelation adjacency of polygons sharing a covering cell — LIVE
    SQL oracle (round 3): DuckDB rebuilds the octagon vertices, bounded
    MBR cell ranges, covering-cell self-join, and dense rel_id rank."""
    from trajlib_spark.data_model import polygon_adjacency
    from trajlib_spark.operators.spatial_join import polygon_index

    polys = synth.synthetic_polygons(spark, sf_dir)
    return polygon_adjacency(polygon_index(polys, G))


def q_pages_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages-mining slice of the flagship pipeline: deterministic pages →
    regex coordinate mining → strict bbox → Mercator → cell assignment.
    LIVE SQL oracle (round 3): DuckDB regenerates the page coordinate
    walk with HUGEINT hash arithmetic, replays the 6-dp format→parse
    round-trip via printf, and applies the identical bbox/cell SQL."""
    n = {"sf0.001": 2000, "sf0.01": 20000, "sf0.1": 100000}.get(
        sf_dir.rstrip("/").rsplit("/", 1)[-1], 2000
    )
    pg = pages_src.generate_pages(spark, n)
    pts = extract_ops.pages_to_points(pg)
    out = cell_ops.with_cell(pts, G)
    return out.select(
        "url", F.col("pos").cast("long").alias("pos"), "ts_ms", "cell_id"
    )


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM map matching (SURVEY §2.13, map_match.py:176-213 analog):
    synthetic road grid → halo'd edge-cell candidate join → per-trajectory
    Viterbi (distance HMM, obs_noise 50 m / max_dist 300 m like the
    reference's DistanceMatcher config) → matched edge per point."""
    from trajlib_spark.operators import map_match as mm_ops
    from trajlib_spark.sources import roads

    _, edge_nodes, _ = roads.road_grid_arrays(G)
    edges = roads.road_edges(spark, G)
    pc = _points_cells(spark, sf_dir)
    return mm_ops.match_trajectories(pc, edges, G, edge_nodes)


def q_matched_edge_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connectivity among the distinct matched edges (the reference
    rebuilds this with an O(n²) python loop, map_match.py:163-173; here a
    node-id self-join, map_match.matched_edge_connections). Completes the
    map-matching story: matched states → GeoRelation edge graph."""
    from trajlib_spark.operators import map_match as mm_ops
    from trajlib_spark.sources import roads

    matched = q_map_match(spark, sf_dir)
    edges = roads.road_edges(spark, G)
    return mm_ops.matched_edge_connections(matched, edges)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages → mined points → cells → PIP join on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    pg = pages_src.generate_pages(spark, 2000)
    polys = synth.synthetic_polygons(spark, sf_dir)
    return pages_pipeline.flagship_frames(pg, polys)["pip_join"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The order matters: a driver capped at 50 rows runs the first 50.
    return {
        "video_frames": q_video_frames,
        "symmetrize_norm": q_symmetrize_norm,
        "fed_split": q_fed_split,
        "augment_time_shift": q_augment_time_shift,
        "newsimi_raw": q_newsimi_raw,
        "neighbour_pairs": q_neighbour_pairs,
        "describe_stats": q_describe,
        "events_running": q_events_running,
        "top_customers": q_top_customers,
        "pricing_summary": q_pricing_summary,
        "cell_walks": q_cell_walks,
        "walk_skipgrams": q_walk_skipgrams,
        "pages_points": q_pages_points,
        "porto_clean": q_porto_clean,
        "porto_points": q_porto_points,
        "polygon_adjacency": q_polygon_adjacency,
        "dedup_exact": q_dedup_exact,
        "text_features": q_text_features,
        "cell_assign": q_cell_assign,
        "stay_collapse": q_stay_collapse,
        "points_derive": q_points,
        "traj_nested": q_traj_nested,
        "rdp_simplify": q_rdp_simplify,
        "silhouette": q_silhouette,
        "knn_quality": q_knn_quality,
        "point_derivations": q_point_derivations,
        "cell_geometry": q_cell_geometry,
        "newsimi_augment": q_newsimi_augment,
        "similarity_all": q_similarity_all,
        "media_all": q_media_all,
        "point_features": q_point_features,
        "ann_topk": q_ann_topk,
        "streaming_dedup": q_streaming_dedup,
        "streaming_sessions": q_streaming_sessions,
        "streaming_stay_collapse": q_streaming_stay_collapse,
        "streaming_tiles": q_streaming_tiles,
        "measure_topk": q_measure_topk,
        "measure_topk_lcss": q_measure_topk_lcss,
        "measure_topk_edwp": q_measure_topk_edwp,
        "lm_score": q_lm_score,
        "dedup_components": q_dedup_components,
        "map_match": q_map_match,
        "matched_edge_graph": q_matched_edge_graph,
        "ann_ivf_recall": q_ann_ivf_recall,
        "minhash_lsh": q_minhash_lsh,
        "embedding_near_dups": q_embedding_near_dups,
        "simhash": q_simhash,
        "doc_fingerprint": q_fingerprint,
        "vocab_topk": q_vocab_topk,
        "tfidf_topterms": q_tfidf_topterms,
        "pip_join": q_pip_join,
        "knn": q_knn,
        "tile_pyramid": q_tile_pyramid,
        "sessionize": q_sessionize,
        "traj_stats": q_traj_stats,
        "segment_cut": q_segment_cut,
        "segment_pairs": q_segment_pairs,
        "similarity_edwp": q_similarity_edwp,
        "cluster_segments": q_cluster_segments,
        "cluster_merge": q_cluster_merge,
    }


_GOLDEN_QUERIES = (
    "segment_cut", "rdp_simplify", "similarity_edwp", "similarity_all",
    "embedding_near_dups", "measure_topk",
    "silhouette", "cluster_segments", "minhash_lsh",
    "newsimi_augment",
    "doc_fingerprint", "ann_ivf_recall",
    "media_all", "video_frames",
    "cluster_merge", "measure_topk_lcss", "measure_topk_edwp", "map_match",
)


def oracle_sql() -> dict[str, str]:
    out = {name: _golden_sql(name) for name in _GOLDEN_QUERIES}
    out.update(_SQL_ORACLES)
    # page count tracks the gate's scale factor (driver runs sf0.01)
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")
    out["pages_points"] = sql_pages_points(
        {"sf0.001": 2000, "sf0.01": 20000, "sf0.1": 100000}.get(sf, 2000)
    )
    # hybrid oracles: live SQL over a committed golden for the non-SQL
    # stage (paths track the gate's scale factor, like the golden queries)
    out["matched_edge_graph"] = _sql_matched_edge_graph()
    out["ann_topk"] = _sql_ann_topk()
    out["dedup_components"] = _sql_dedup_components()
    return out


def _build_sql_oracles() -> dict[str, str]:
    return {
        "points_derive": SQL_POINTS,
        "cell_assign": SQL_CELL_ASSIGN,
        "tile_pyramid": SQL_TILE_PYRAMID,
        "stay_collapse": SQL_STAY_COLLAPSE,
        "sessionize": SQL_SESSIONIZE,
        "pip_join": SQL_PIP_JOIN,
        "knn": SQL_KNN,
        "point_features": SQL_POINT_FEATURES,
        "point_derivations": SQL_POINT_DERIVATIONS,
        "traj_stats": SQL_TRAJ_STATS,
        "segment_pairs": SQL_SEGMENT_PAIRS,
        "cell_geometry": SQL_CELL_GEOMETRY,
        "neighbour_pairs": SQL_NEIGHBOUR_PAIRS,
        "traj_nested": SQL_TRAJ_NESTED,
        "knn_quality": SQL_KNN_QUALITY,
        "fed_split": SQL_FED_SPLIT,
        "describe_stats": SQL_DESCRIBE,
        "augment_time_shift": SQL_AUGMENT_TIME_SHIFT,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "top_customers": SQL_TOP_CUSTOMERS,
        "events_running": SQL_EVENTS_RUNNING,
        "dedup_exact": SQL_DEDUP_EXACT,
        "text_features": SQL_TEXT_FEATURES,
        "streaming_dedup": SQL_STREAMING_DEDUP,
        "streaming_sessions": SQL_STREAMING_SESSIONS,
        "streaming_stay_collapse": SQL_STREAMING_STAY_COLLAPSE,
        "streaming_tiles": SQL_STREAMING_TILES,
        "symmetrize_norm": SQL_SYMMETRIZE_NORM,
        "newsimi_raw": SQL_NEWSIMI_RAW,
        "porto_clean": SQL_PORTO_CLEAN,
        "porto_points": SQL_PORTO_POINTS,
        "polygon_adjacency": _polygon_adjacency_sql(),
        "cell_walks": SQL_CELL_WALKS,
        "simhash": SQL_SIMHASH,
        "walk_skipgrams": SQL_WALK_SKIPGRAMS,
        "vocab_topk": SQL_VOCAB_TOPK,
        "tfidf_topterms": SQL_TFIDF_TOPTERMS,
        "lm_score": SQL_LM_SCORE,
    }


_SQL_ORACLES = _build_sql_oracles()

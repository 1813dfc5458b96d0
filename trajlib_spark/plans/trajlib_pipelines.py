"""The reference's three entry-point pipelines (SURVEY §3), end-to-end as
checkpointed stage lists — a user of the reference can run the same
queries here against any point source.

- preprocess  ≙ python utils/preprocessing_porto.py (§3.1)
- segmentation ≙ federated_embedding.ipynb cells 4-6 (§3.2) — the torch
  encoder stays an input column; we attach the deterministic
  pseudo-embedding emb[k] = sin(seed·segment_id + k) (FIXTURES §F6)
- clustering  ≙ clustering.py run_federate_clustering (§3.3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PORTO_GRID
from ..operators import cells, cluster, segment, similarity
from ..sources.store import TableStore, run_stages

G = PORTO_GRID
EMB_DIM = 32
EMB_SEED = 0.7
SIMI_SAMPLE_TRAJS = 40  # trajectories in the similarity matrix
FED_NUM = 5  # federated shards
CLUSTER_EPS, CLUSTER_MIN_SAMPLES, CLUSTER_MERGE_EPS = 50_000.0, 2, 10_000.0  # DBSCAN, merge


def preprocess_stages(points: DataFrame):
    """points: (point_id, traj_id, ts_ms, lon, lat, x, y) — already
    bbox-filtered (the porto/clean or pages/mine step). Stages: cell
    assignment → cell-graph edges (node2vec input) → normalized polylines →
    blocked similarity matrix of ``SIMI_SAMPLE_TRAJS`` trajectories (the
    reference's trajsimi step, bounded like its 5000-traj cap)."""

    def s_cells(spark, store):
        return cells.with_cell(points, G)

    def s_cell_edges(spark, store):
        return cells.neighbour_cell_pairs(spark, G)

    def s_polylines(spark, store):
        pts = store.load(spark, "pre_cells")
        return similarity.normalize_polylines(similarity.collect_polylines(pts))

    def s_simi(spark, store):
        polys = store.load(spark, "pre_polylines").limit(SIMI_SAMPLE_TRAJS)
        d = similarity.multi_measure_join(polys, {"dist": ("hausdorff", 0.0)})
        return similarity.symmetrize_normalize(d)

    return [
        ("pre_cells", s_cells),
        ("pre_cell_edges", s_cell_edges),
        ("pre_polylines", s_polylines),
        ("pre_simi_matrix", s_simi),
    ]


def segmentation_stages(points: DataFrame):
    """Stages: ``FED_NUM``-way shard assignment → TRACLUS segments per shard →
    pseudo-embedding column → the golden-output-shaped table
    (fed_id, segment_id, seg geometry, emb)."""

    def s_shards(spark, store):
        trajs = points.select("traj_id").distinct()
        return segment.federated_split(trajs, FED_NUM)

    def s_segments(spark, store):
        shards = store.load(spark, "seg_shards")
        segs = segment.segment_trajectories(points)
        return segs.join(shards, "traj_id")

    def s_embedded(spark, store):
        segs = store.load(spark, "seg_segments").where(F.col("n_points") >= 2)
        sid = F.xxhash64("traj_id", "seg_idx")
        emb = F.transform(
            F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
            lambda k: F.sin(sid.cast("double") * F.lit(EMB_SEED) + k.cast("double")),
        )
        return segs.select(
            "fed_id",
            sid.alias("segment_id"),
            "traj_id",
            "seg_idx",
            F.element_at("seg_xs", 1).alias("start_x"),
            F.element_at("seg_ys", 1).alias("start_y"),
            F.element_at("seg_xs", -1).alias("end_x"),
            F.element_at("seg_ys", -1).alias("end_y"),
            "seg_xs",
            "seg_ys",
            emb.alias("emb"),
        )

    return [
        ("seg_shards", s_shards),
        ("seg_segments", s_segments),
        ("seg_embedded", s_embedded),
    ]


def clustering_stages():
    """Stages over the segmentation output: per-fed DBSCAN labels →
    cluster aggregates (size/centroid/radius) → greedy federated merge."""

    def s_labels(spark, store):
        segs = store.load(spark, "seg_embedded")
        return cluster.cluster_segments(
            segs.select("fed_id", "segment_id", "start_x", "start_y",
                        "end_x", "end_y", "emb"),
            eps=CLUSTER_EPS, min_samples=CLUSTER_MIN_SAMPLES,
        )

    def s_aggs(spark, store):
        segs = store.load(spark, "seg_embedded")
        labels = store.load(spark, "clu_labels")
        return cluster.cluster_aggregates(labels, segs)

    def s_merged(spark, store):
        aggs = store.load(spark, "clu_aggregates")
        return cluster.federated_merge(aggs, eps=CLUSTER_MERGE_EPS)

    return [
        ("clu_labels", s_labels),
        ("clu_aggregates", s_aggs),
        ("clu_merged", s_merged),
    ]


def run_all(spark: SparkSession, points: DataFrame, store: TableStore) -> dict[str, str]:
    """All three reference pipelines back-to-back over one point source,
    each resuming from its committed stages."""
    status = {}
    status.update(run_stages(spark, store, preprocess_stages(points)))
    status.update(run_stages(spark, store, segmentation_stages(points)))
    status.update(run_stages(spark, store, clustering_stages()))
    return status

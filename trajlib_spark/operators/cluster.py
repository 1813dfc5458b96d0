"""Federated segment clustering: the segment distance as Catalyst columns
(the board's segment pairs and silhouette), per-shard DBSCAN (grouped
pandas UDF over the shard's pair matrix — shards are small by
construction, which is the federation semantics), DataFrame cluster
aggregates, and the driver-side greedy centroid merge.

Reference: /root/reference/clustering.py —
- local_clustering (:98-122): DBSCAN(eps=1000, min_samples=2,
  metric='precomputed') over d = d1 + d2 + d3;
- centroid = mean of segment midpoints (:28-39), radius = max midpoint
  distance (:41-50);
- federated_cluster_aggregation (:125-144): all centroid pairs sorted by
  distance ascending (stable), greedily merge disjoint pairs with d < 3.0,
  single pass;
- silhouette over the merged labeling (:202-220).

Scale: DBSCAN is quadratic per shard — exactly like the reference, whose
federation bound is the contract. Cross-shard work is only the centroid
list (#clusters rows), which is collected to the driver like the
reference's aggregation step.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DBSCAN_EPS, DBSCAN_MIN_SAMPLES, FED_MERGE_EPS
from ..kernels import clustering as ck


def segment_distance_terms(ends: tuple[str, str, str, str]) -> tuple[Column, Column]:
    """The reference's segment distance terms (clustering.py:57-74) as
    Catalyst columns between the two sides ``a`` and ``b`` of a self-join:
    d1 = sum of the start-start and end-end distances, d2 = |sin Δangle| ·
    the longer length. ``ends`` names each side's (start_x, start_y,
    end_x, end_y) columns. With ``embedding_distance``'s d3 they make the
    combined distance that ``kernels.clustering.segment_distance_matrix``
    computes in numpy for one shard."""
    asx, asy, aex, aey = (F.col(f"a.{c}") for c in ends)
    bsx, bsy, bex, bey = (F.col(f"b.{c}") for c in ends)
    d1 = (
        F.sqrt((bsx - asx) ** 2 + (bsy - asy) ** 2)
        + F.sqrt((bex - aex) ** 2 + (bey - aey) ** 2)
    )
    ang_a = F.atan2(aey - asy, aex - asx)
    ang_b = F.atan2(bey - bsy, bex - bsx)
    diff = F.abs(ang_a - ang_b)
    diff = F.when(diff > F.lit(3.141592653589793), F.lit(6.283185307179586) - diff).otherwise(diff)
    len_a = F.sqrt((aex - asx) ** 2 + (aey - asy) ** 2)
    len_b = F.sqrt((bex - bsx) ** 2 + (bey - bsy) ** 2)
    d2 = F.abs(F.sin(diff)) * F.greatest(len_a, len_b)
    return d1, d2


def embedding_distance(emb: str) -> Column:
    """d3: the L2 distance between the ``emb`` arrays of self-join sides
    ``a`` and ``b`` (clustering.py:57-74)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(f"a.{emb}", f"b.{emb}", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cluster_segments(
    segments: DataFrame,
    eps: float = DBSCAN_EPS,
    min_samples: int = DBSCAN_MIN_SAMPLES,
) -> DataFrame:
    """segments: (fed_id, segment_id, start_x, start_y, end_x, end_y,
    emb array<double>) → (fed_id, segment_id, label); label -1 = noise.
    Segment order inside a shard = ascending segment_id (the reference
    enumerates its per-federation DataFrame in row order)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("segment_id", kind="mergesort")
        starts = pdf[["start_x", "start_y"]].to_numpy()
        ends = pdf[["end_x", "end_y"]].to_numpy()
        embs = np.stack(pdf["emb"].to_numpy()) if len(pdf) else np.zeros((0, 0))
        dist = ck.segment_distance_matrix(starts, ends, embs)
        labels = ck.dbscan_precomputed(dist, eps, min_samples)
        return pd.DataFrame(
            {
                "fed_id": pdf["fed_id"].to_numpy(),
                "segment_id": pdf["segment_id"].to_numpy(),
                "label": labels,
            }
        )

    return segments.groupBy("fed_id").applyInPandas(
        run, "fed_id int, segment_id long, label long"
    )


def cluster_aggregates(
    labeled: DataFrame, segments: DataFrame, by: tuple[str, ...] = ("fed_id", "label")
) -> DataFrame:
    """Per cluster ``by`` over the segments with label ≠ -1: size, centroid
    (mean of midpoints), radius (max midpoint→centroid distance) — two-phase
    aggregation, all Catalyst. The per-shard clusters group by (fed_id,
    label); the merged ones by the ``global_cluster`` that
    ``federated_merge`` maps them to."""
    segs = segments.select(
        "fed_id", "segment_id",
        ((F.col("start_x") + F.col("end_x")) / 2).alias("mid_x"),
        ((F.col("start_y") + F.col("end_y")) / 2).alias("mid_y"),
    )
    j = labeled.where(F.col("label") != -1).join(segs, ["fed_id", "segment_id"])
    cent = j.groupBy(*by).agg(
        F.count(F.lit(1)).alias("size"),
        F.avg("mid_x").alias("centroid_x"),
        F.avg("mid_y").alias("centroid_y"),
    )
    back = j.join(cent, list(by))
    rad = back.groupBy(*by).agg(
        F.max(
            F.sqrt(
                F.pow(F.col("mid_x") - F.col("centroid_x"), F.lit(2.0))
                + F.pow(F.col("mid_y") - F.col("centroid_y"), F.lit(2.0))
            )
        ).alias("radius")
    )
    return cent.join(rad, list(by))


def federated_merge(
    cluster_agg: DataFrame, eps: float = FED_MERGE_EPS
) -> DataFrame:
    """Greedy disjoint merge of the per-shard clusters by centroid distance
    (driver-side — cluster count ≪ N, like the reference). Returns
    (fed_id, label, global_cluster) where global_cluster indexes the merged
    clustering in the reference's final list order."""
    rows = cluster_agg.orderBy("fed_id", "label").collect()
    centroids = [(r.centroid_x, r.centroid_y) for r in rows]
    groups = ck.greedy_merge(centroids, eps)
    spark = cluster_agg.sparkSession
    out = []
    for gid, members in enumerate(groups):
        for m in members:
            out.append((int(rows[m].fed_id), int(rows[m].label), gid))
    return spark.createDataFrame(out, "fed_id int, label long, global_cluster int")


def silhouette_distributed(
    labeled_segments: DataFrame,
    pair_dists: DataFrame,
    label_col: str = "global_cluster",
) -> float:
    """Mean silhouette over a symmetric (i, j, dist) pair table + labels
    of ``segment_id`` — two groupBys, no dense matrix."""
    lab = labeled_segments.select(F.col("segment_id").alias("i"), F.col(label_col).alias("li"))
    lab_j = labeled_segments.select(F.col("segment_id").alias("j"), F.col(label_col).alias("lj"))
    d = pair_dists.join(lab, "i").join(lab_j, "j")
    per = d.groupBy("i", "li", "lj").agg(
        F.sum("dist").alias("sd"), F.count(F.lit(1)).alias("n")
    )
    a = per.where(F.col("li") == F.col("lj")).select(
        "i", (F.col("sd") / F.col("n")).alias("a")  # n = cluster size - 1 (no self pair)
    )
    b = (
        per.where(F.col("li") != F.col("lj"))
        .select("i", (F.col("sd") / F.col("n")).alias("ab"))
        .groupBy("i")
        .agg(F.min("ab").alias("b"))
    )
    s = a.join(b, "i").select(
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("s")
    )
    # singleton clusters have no 'a' row → they contribute 0, like sklearn
    n_total = labeled_segments.count()
    ssum = s.agg(F.sum("s")).collect()[0][0] or 0.0
    return float(ssum) / n_total if n_total else 0.0

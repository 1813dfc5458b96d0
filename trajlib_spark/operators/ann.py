"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
- ``ivf_topk``: the scale path — k-means-style inverted-file partitioning
  (centroids trained on a sample at the driver, assignments and scoring
  fully distributed). Probing n_probe nearest centroids bounds the scanned
  and scored fraction to ~n_probe/n_list of the corpus.

Both are one scan, ``_scan_topk``: the bounded query set is scored against
each corpus Arrow batch in numpy with the Catalyst fold's exact IEEE op
order, and only chunk-local top-k candidates reach the final rank window.
The exact top-k is the scan with a single list that every query probes.

Corpus and queries are (vec_id long, embedding array<float>) rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _seq_sq_norms(M: np.ndarray) -> np.ndarray:
    """Row norms with Catalyst's exact fold order: acc starts at 0.0 and
    adds x_d*x_d one dimension at a time (each += is one IEEE add over the
    whole column — bit-identical to aggregate(transform(x, x*x), 0.0, +))."""
    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        acc += M[:, d] * M[:, d]
    return np.sqrt(acc)


def _pair_scores(C: np.ndarray, Q: np.ndarray, metric: str) -> np.ndarray:
    """(B, Q) score matrix replaying the Catalyst pair fold bit-for-bit:
    per dimension one IEEE multiply (commutative, so c*q == q*c exactly)
    then one IEEE add onto the running accumulator seeded 0.0 — numpy
    ufuncs are unfused, so every step is the same rounding the
    zip_with/aggregate expression performs. Returns the raw fold (dot,
    Σ(d²) or Σ|d| — callers apply sqrt / the norm division themselves)."""
    out = np.zeros((C.shape[0], Q.shape[0]))
    if metric == "cosine":
        for d in range(C.shape[1]):
            out += C[:, d][:, None] * Q[:, d][None, :]
    elif metric == "l2":
        for d in range(C.shape[1]):
            diff = C[:, d][:, None] - Q[:, d][None, :]
            out += diff * diff
    elif metric == "l1":
        for d in range(C.shape[1]):
            out += np.abs(C[:, d][:, None] - Q[:, d][None, :])
    else:
        raise ValueError("metric must be cosine | l2 | l1")
    return out


def _collect_queries(queries: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side (ids, float64 matrix) of the bounded query set — the
    same query-bounded broadcast the crossJoin build side already held."""
    rows = queries.select(F.col("vec_id"), F.col("embedding")).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def _emit_topk(
    scores: np.ndarray, key: np.ndarray, nids: np.ndarray, qids: np.ndarray,
    k: int, qcols: np.ndarray,
):
    """Rows (query_id, neighbor_id, score) of every chunk-local candidate
    that can still reach the global top-k: the k best per query by ``key``
    (ascending) PLUS every row tying the kth key — ties at the boundary
    are resolved by neighbor_id only in the final window, so all of them
    must survive the chunk prune. key == +inf marks excluded pairs;
    column c of ``key`` is query ``qids[qcols[c]]``."""
    b = key.shape[0]
    kk = min(k, b)
    ordk = np.argsort(key, axis=0, kind="stable")[:kk, :]
    kth = np.take_along_axis(key, ordk[kk - 1 : kk, :], axis=0)
    mask = (key <= kth) & np.isfinite(key)
    rows, cols = np.nonzero(mask)
    return qids[qcols[cols]], nids[rows], scores[rows, cols]


def _scan_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    centroids: np.ndarray | None = None,
    n_probe: int = 0,
) -> DataFrame:
    """The one embedding scan behind ``cosine_topk`` and ``ivf_topk`` →
    (query_id, neighbor_id, rank, cosine).

    The bounded query set is collected once. Corpus rows cross the Arrow
    boundary once; each task cuts its batch into 4096-row chunks, puts
    every chunk row in an inverted list and scores each list's rows only
    against the queries that probe that list, with the Catalyst fold's
    IEEE op order (_pair_scores). A corpus row with the query's own id is
    skipped. Only chunk-local top-k candidates (kth-key ties included)
    reach the final row_number window, ranked by (score, neighbor_id).

    Without ``centroids`` there is one list, which every query probes:
    the exact scan. With them, a row's list is its nearest centroid and a
    query probes its ``n_probe`` nearest, both from nearest_lists_py."""
    spark = corpus.sparkSession
    qids, QM = _collect_queries(queries)
    if len(qids) == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    qn = _seq_sq_norms(QM)
    if centroids is None:
        C = None
        probed_by = [np.arange(len(qids))]
    else:
        C = np.ascontiguousarray(centroids, dtype=np.float64)
        probes = np.vstack([  # (Q, n_probe) list ids, 256-row temp bound
            nearest_lists_py(QM[i : i + 256], C, n_probe)
            for i in range(0, len(QM), 256)
        ])
        probed_by = [np.nonzero((probes == li).any(axis=1))[0]
                     for li in range(len(C))]
    kk = int(k)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nids_all = pdf["vec_id"].to_numpy(dtype=np.int64)
            vecs = pdf["embedding"].to_numpy()
            outs = []
            for lo in range(0, len(pdf), 4096):
                CM = np.array(list(vecs[lo : lo + 4096]), dtype=np.float64)
                nids = nids_all[lo : lo + 4096]
                if C is None:
                    lists = np.zeros(len(CM), dtype=np.int64)
                else:
                    # 256-row slices bound the (rows, n_list, dim) temp;
                    # the reduction is independent per row
                    lists = np.concatenate([
                        nearest_lists_py(CM[i : i + 256], C, 1)[:, 0]
                        for i in range(0, len(CM), 256)
                    ])
                cn = _seq_sq_norms(CM) if metric == "cosine" else None
                for li in np.unique(lists):
                    qcols = probed_by[li]
                    if len(qcols) == 0:
                        continue
                    rsel = np.nonzero(lists == li)[0]
                    raw = _pair_scores(CM[rsel], QM[qcols], metric)
                    if metric == "cosine":
                        scores = raw / (qn[qcols][None, :] * cn[rsel][:, None])
                        key = -scores
                    else:
                        scores = np.sqrt(raw) if metric == "l2" else raw
                        key = scores.copy()
                    key[nids[rsel][:, None] == qids[qcols][None, :]] = np.inf
                    oq, on, osc = _emit_topk(
                        scores, key, nids[rsel], qids, kk, qcols=qcols
                    )
                    outs.append(pd.DataFrame(
                        {"query_id": oq, "neighbor_id": on, "cosine": osc}
                    ))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = (
        corpus.select(F.col("vec_id"), F.col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .mapInPandas(run, "query_id long, neighbor_id long, cosine double")
    )
    order = (
        [F.desc("cosine"), F.asc("neighbor_id")]
        if metric == "cosine"
        else [F.asc("cosine"), F.asc("neighbor_id")]
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k → (query_id, neighbor_id, rank, cosine); rank by (score,
    neighbor_id) for a deterministic total order, and a query is never its
    own neighbor. metric ∈ {cosine, l2, l1} — l1 is the reference's
    embedding-distance-matrix metric (cdist p=1). One ``_scan_topk`` over a
    single list: every corpus row is scored against every query in numpy,
    never as a per-pair Catalyst fold over a cross join."""
    if metric not in ("cosine", "l2", "l1"):
        raise ValueError("metric must be cosine | l2 | l1")
    return _scan_topk(corpus, queries, k, metric)


SAMPLE_HASH_MULT = 2654435761
SAMPLE_HASH_MOD = 999999937
CENTROID_ITERS = 8  # Lloyd iterations of train_centroids
CENTROID_SAMPLE = 4096  # rows train_centroids trains on
CENTROID_SEED = 11


def train_centroids(corpus: DataFrame, n_list: int = 64) -> np.ndarray:
    """Lloyd's iterations on a driver-side sample of ``CENTROID_SAMPLE``
    rows (centroid training is a tiny fraction of corpus size; assignment
    stays distributed). The sample is DETERMINISTIC across runs and
    partitionings: rows ordered by a fixed multiplicative hash of the id
    (pure int64 arithmetic, reproducible outside Spark for oracle
    parity)."""
    rows = (
        corpus.select(F.col("embedding"), F.col("vec_id"))
        .orderBy(
            # reduce the id mod MOD BEFORE multiplying: pmod(id) < 1e9 keeps
            # the product < 2.7e18 < int64 max for ANY id, where id * MULT
            # overflows (ANSI ArithmeticException) past id ≈ 3.5e9
            # (ADVICE r2); identical ordering for id < MOD
            (F.pmod(F.col("vec_id").cast("long"), F.lit(SAMPLE_HASH_MOD))
             * F.lit(SAMPLE_HASH_MULT)) % F.lit(SAMPLE_HASH_MOD),
            F.col("vec_id"),
        )
        .limit(CENTROID_SAMPLE)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(CENTROID_SEED)
    cent = X[rng.choice(len(X), min(n_list, len(X)), replace=False)]
    for _ in range(CENTROID_ITERS):
        sims = X @ cent.T
        assign = sims.argmax(axis=1)
        for ci in range(len(cent)):
            m = assign == ci
            if m.any():
                v = X[m].mean(axis=0)
                cent[ci] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def nearest_lists_py(X: np.ndarray, centroids: np.ndarray, n: int) -> np.ndarray:
    """(rows, n) ids of the n highest-dot centroids per row — pure-numpy
    reduction (no BLAS threading nondeterminism; for dim ≤ 128 numpy's sum
    is a sequential fold, reproducible anywhere). Ties resolve to the
    lowest centroid id (stable argsort)."""
    sims = (X[:, None, :] * centroids[None, :, :]).sum(axis=2)
    if n == 1:
        return sims.argmax(axis=1)[:, None]
    return np.argsort(-sims, axis=1, kind="stable")[:, :n]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray,
    n_probe: int = 8,
) -> DataFrame:
    """IVF approximate cosine top-k: corpus rows live in their
    nearest-centroid list; queries probe their n_probe nearest lists; exact
    cosine + window top-k inside the probed union, so the scored fraction
    stays ~n_probe/n_list of the corpus. As in ``cosine_topk``, a query is
    never its own neighbor; both are one ``_scan_topk``."""
    return _scan_topk(
        corpus, queries, k, "cosine",
        centroids=centroids, n_probe=n_probe,
    )


def recall_by_query(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """(query_id, n_hit, recall) per query: |approx ∩ exact| within the
    top-k, over the exact neighbor count — the DataFrame-valued recall
    certification. Two bounded aggregates + one semi-join; no new scan of
    the corpus."""
    a = approx.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    e = exact.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("recall"),
        )
    )

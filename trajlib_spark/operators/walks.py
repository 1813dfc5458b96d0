"""node2vec random-walk generation over the cell graph, Spark-first.

The reference trains cell embeddings with torch-geometric's Node2Vec over
the neighbour-cell edge list (/root/reference/fedtraj/model/layers/
node2vec_.py:19-29: walk_length=50, walks_per_node=10, p=1, q=1). With
p = q = 1 the walk sampler degenerates to UNIFORM random walks, which is
the data-pipeline half of that operator — generated here distributed and
deterministically; the SGD embedding training itself stays a documented
non-goal (torch is not in this environment, SURVEY §7.3).

Each step picks the neighbor whose ordinal (rank by dst among the
source's neighbors) equals a deterministic integer hash of (walk_id,
step) mod degree — no RNG state, any executor layout reproduces the same
walks. A graph within the broadcast budget walks in one Arrow pass over a
broadcast adjacency; a larger one as walk_length − 1 equi-joins of the
walk frontier against the indexed adjacency (see node2vec_walks).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pairs import collect_within_budget

# deterministic chooser: pmod(walk_id·A + step·B + C, M) stays far inside
# int64 for any realistic walk_id (≤ ~9e5 · A)
_HASH_A = 1000003
_HASH_B = 7919
_HASH_C = 12345
_HASH_M = 2147483647


def _chooser(walk_id, step: int):
    return F.pmod(
        walk_id * F.lit(_HASH_A) + F.lit(step * _HASH_B + _HASH_C), F.lit(_HASH_M)
    )


def indexed_adjacency(pairs: DataFrame) -> DataFrame:
    """(src, dst, ordinal, degree) from the once-per-pair edge list
    (cells.neighbour_cell_pairs): undirected → both directions, neighbor
    ordinal = rank by dst (deterministic), degree per src. The window
    partitions by src — partition-parallel at any graph size."""
    und = pairs.select(
        F.col("src_cell").alias("src"), F.col("dst_cell").alias("dst")
    ).unionAll(
        pairs.select(F.col("dst_cell").alias("src"), F.col("src_cell").alias("dst"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    return und.select(
        "src", "dst",
        (F.row_number().over(w) - 1).alias("ordinal"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("degree"),
    )


def node2vec_walks(
    pairs: DataFrame,
    start_nodes: DataFrame,
    walk_length: int = 12,
    walks_per_node: int = 2,
) -> DataFrame:
    """→ (walk_id, pos, cell_id): ``walks_per_node`` uniform walks of
    ``walk_length`` positions from every start node (p = q = 1, the
    reference's config). walk_id = node·walks_per_node + w. A walk that
    hits a dead end (degree-0 node) is dropped entirely, on either path.

    The path follows the session's broadcast budget. The edge list is read
    once, by ``pairs.collect_within_budget``; if it fits, the adjacency
    (sorted neighbor lists) is broadcast and every walk is generated in ONE
    Arrow pass over the start nodes. The cell graph is grid-bounded, so it
    fits at the default threshold. Otherwise, or with the threshold at -1,
    the walks run as a chain of walk_length − 1 equi-joins of the frontier
    against the indexed adjacency, planned as Catalyst chooses and with
    nothing cached. Both paths emit the same rows: the same sorted-neighbor
    order and the same integer hash chooser."""
    edges = collect_within_budget(pairs.select("src_cell", "dst_cell"))
    if edges is not None:
        return _walks_arrow(edges, start_nodes, walk_length, walks_per_node)
    # The path accumulates as an ARRAY column and explodes once at the
    # end — a per-step union would re-evaluate each prefix chain (O(L²)
    # joins total). A walk reaching a degree-0 node vanishes at that
    # step's inner join — the dropped-walk rule above.
    adj = indexed_adjacency(pairs).withColumnRenamed("src", "cur")
    starts = start_nodes.select(F.col("cell_id").cast("long").alias("cur"))
    frontier = starts.select(
        F.explode(
            F.sequence(
                F.col("cur") * walks_per_node,
                F.col("cur") * walks_per_node + (walks_per_node - 1),
            )
        ).alias("walk_id"),
        "cur",
    ).withColumn("path", F.array("cur"))
    for step in range(1, walk_length):
        frontier = (
            frontier.join(adj, "cur")
            .where(F.col("ordinal") == _chooser(F.col("walk_id"), step) % F.col("degree"))
            .select(
                "walk_id",
                F.col("dst").alias("cur"),
                F.concat("path", F.array("dst")).alias("path"),
            )
        )
    return frontier.select(
        "walk_id", F.posexplode("path").alias("pos", "cell_id")
    ).select("walk_id", F.col("pos").cast("long").alias("pos"), "cell_id")


def _walks_arrow(
    edges: pa.Table,
    start_nodes: DataFrame,
    walk_length: int,
    walks_per_node: int,
) -> DataFrame:
    """One-pass walk generation over the broadcast adjacency built from
    the collected ``edges`` table (src, dst)."""
    import pandas as pd

    adj: dict[int, list[int]] = {}
    for s, d in zip(edges.column(0).to_pylist(), edges.column(1).to_pylist()):
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    for k in adj:
        adj[k].sort()
    spark = start_nodes.sparkSession
    bcast = spark.sparkContext.broadcast(adj)
    starts = start_nodes.select(F.col("cell_id").cast("long").alias("node"))
    # respread: the walk cost is per START NODE; AQE would coalesce the
    # tiny start table onto a couple of cores
    starts = starts.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        adjv = bcast.value
        for pdf in batches:
            out_w: list[int] = []
            out_p: list[int] = []
            out_c: list[int] = []
            for node in pdf["node"]:
                node = int(node)
                for w in range(walks_per_node):
                    wid = node * walks_per_node + w
                    cur = node
                    path = [cur]
                    for step in range(1, walk_length):
                        nbrs = adjv.get(cur)
                        if not nbrs:
                            break
                        h = (wid * _HASH_A + step * _HASH_B + _HASH_C) % _HASH_M
                        cur = nbrs[h % len(nbrs)]
                        path.append(cur)
                    # dead-ended walk → dropped entirely, matching the
                    # inner-join chain (which loses the row at the failed
                    # step, earlier positions included)
                    if len(path) < walk_length:
                        continue
                    out_w.extend([wid] * walk_length)
                    out_p.extend(range(walk_length))
                    out_c.extend(path)
            yield pd.DataFrame({"walk_id": out_w, "pos": out_p, "cell_id": out_c})

    return starts.mapInPandas(gen, "walk_id long, pos long, cell_id long")


SKIPGRAM_WINDOW = 10  # the reference's context_size


def skipgram_pairs(walks: DataFrame) -> DataFrame:
    """(walk_id, center_pos, center, context) skip-gram pair generation
    from the walk table — the remaining relational half of the reference's
    cell-graph embedding before the torch boundary (torch-geometric's
    Node2Vec samples (center, context) pairs with context_size 10,
    /root/reference/fedtraj/model/layers/node2vec_.py:19-29; the SGD
    consuming them stays the documented non-goal).

    ONE shuffle: collect each walk into a sorted array (walks are short —
    ≤ walk_length elements), then explode each center against only the
    SLICE of the walk within ±``window`` (``SKIPGRAM_WINDOW``) ARRAY INDICES of the center's
    index, then keep the rows within ±``window`` POSITIONS. The slice
    bound makes the fan linear — ≤ 2·window+1 context rows materialized
    per center instead of the full L (at the reference's walk_length 50
    / window 10 the unbounded double-explode fanned 2 500 rows per walk
    for ~900 kept, VERDICT r4 #3). PRECONDITION (ADVICE r6): ``walks``
    must hold at most one row per (walk_id, pos) — what node2vec_walks
    emits. Under it the index-space slice is always a superset of the
    position window: positions strictly increase along the sorted array,
    so |pos_x − pos_c| ≤ window ⇒ |idx_x − idx_c| ≤ window — walks with
    non-contiguous positions (filtered or truncated upstream) get
    exactly the position-window semantics, just via a slice that may
    carry a few extra rows into the cheap final filter. Duplicate
    (walk_id, pos) rows (e.g. a unioned walk table that reused ids)
    break the strict-increase step and can silently drop in-window
    pairs — so the precondition is ENFORCED in-operator (VERDICT r7
    #2): each collected walk's position list is checked for duplicates
    inside the per-walk expression and a violating walk raises a task
    error naming the walk_id, converting the documented silent wrong
    answer into a loud failure. The check is embedded in the ``_seq``
    projection itself (a when/raise_error around the consumed column),
    so column pruning cannot eliminate it; cost is one array_distinct
    over a ≤ walk_length array per walk.
    A walk_id self-join would shuffle the table twice AND evaluate the
    walk-generation chain twice (it is not cached); the collect form
    evaluates it once."""
    window = SKIPGRAM_WINDOW
    seq = F.sort_array(F.collect_list(F.struct(F.col("pos"), F.col("cell_id"))))
    arr = walks.groupBy("walk_id").agg(seq.alias("_seq"))
    # pos is referenced outside the lambda too (below), so the Spark 4.1
    # HOF-capture pushdown bug (see memory notes) is not in play here
    dup = F.size(F.array_distinct(F.transform(F.col("_seq"), lambda x: x["pos"]))) < F.size(
        F.col("_seq")
    )
    arr = arr.select(
        "walk_id",
        F.when(~dup, F.col("_seq"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "skipgram_pairs: duplicate (walk_id, pos) rows in walk_id="
                    ),
                    F.col("walk_id").cast("string"),
                    F.lit(" — dedupe or re-id the walk table before calling"),
                )
            )
        )
        .alias("_seq"),
    )
    centers = arr.select(
        "walk_id", "_seq", F.posexplode("_seq").alias("_i", "_c")
    )
    start_1b = F.greatest(F.lit(1), F.col("_i") + 1 - window)  # 1-based
    end_1b = F.least(F.col("_i") + 1 + window, F.size("_seq"))
    return (
        centers.select(
            "walk_id",
            F.col("_c.pos").alias("center_pos"),
            F.col("_c.cell_id").alias("center"),
            F.explode(
                F.slice("_seq", start_1b, end_1b - start_1b + 1)
            ).alias("_x"),
        )
        .where(
            (F.col("_x.pos") != F.col("center_pos"))
            & (F.abs(F.col("_x.pos") - F.col("center_pos")) <= window)
        )
        .select(
            "walk_id", "center_pos", "center",
            F.col("_x.cell_id").alias("context"),
        )
    )


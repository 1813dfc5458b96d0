"""node2vec walk generation (cell-graph embedding input, SURVEY §2.4):
distributed walks must equal the pure-python replica on both paths (the
broadcast-adjacency Arrow pass within the broadcast budget, the join chain
above it), be deterministic across partitionings, and follow real graph
edges."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trajlib_spark.config import PORTO_GRID
from trajlib_spark.operators import cells, walks

G = PORTO_GRID
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def walks_py(pairs_rows, start_nodes, walk_length=12, walks_per_node=2):
    """Single-process replica of node2vec_walks: the same adjacency order
    (sorted neighbor list), the same (walk_id, step) hash and the same
    dropped-walk rule, in pure-python ints."""
    adj: dict[int, list[int]] = {}
    for s, d in pairs_rows:
        adj.setdefault(int(s), []).append(int(d))
        adj.setdefault(int(d), []).append(int(s))
    for k in adj:
        adj[k] = sorted(adj[k])
    rows = []
    for node in start_nodes:
        for w in range(walks_per_node):
            wid = int(node) * walks_per_node + w
            cur = int(node)
            path = [cur]
            for step in range(1, walk_length):
                nbrs = adj.get(cur, [])
                if not nbrs:
                    break
                h = (wid * walks._HASH_A + step * walks._HASH_B + walks._HASH_C) % walks._HASH_M
                cur = nbrs[h % len(nbrs)]
                path.append(cur)
            if len(path) < walk_length:
                continue  # dead-ended walk dropped
            rows.extend((wid, p, c) for p, c in enumerate(path))
    return rows


@pytest.fixture(scope="module")
def pairs(spark):
    return cells.neighbour_cell_pairs(spark, G).persist()


@pytest.fixture(scope="module")
def pair_rows(pairs):
    return [(r.src_cell, r.dst_cell) for r in pairs.collect()]


@contextlib.contextmanager
def _threshold(spark, value):
    """The session's broadcast threshold set to ``value`` (if not None),
    and restored afterwards."""
    saved = spark.conf.get(THRESHOLD)
    if value is not None:
        spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, saved)


@pytest.fixture(params=["budget", "chain"])
def walk_path(request, spark):
    """Run a walks case on each path: the broadcast-adjacency Arrow pass
    (the session's 64 MB broadcast budget holds the cell graph) and the
    join chain (broadcast budget disabled, restored afterwards). Yields
    the path name each case asserts ran."""
    with _threshold(spark, "-1" if request.param == "chain" else None):
        yield request.param


def _path(df: DataFrame) -> str:
    """Which path built ``df``: one Arrow pass, or the join chain."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "budget" if "MapInPandas" in plan else "chain"


def _walks(spark, pairs, starts, walk_length, walks_per_node, threshold=None):
    """Collected walk rows, built and run at ``threshold``."""
    with _threshold(spark, threshold):
        out = walks.node2vec_walks(pairs, starts, walk_length, walks_per_node)
        return sorted(map(tuple, out.collect()))


def _driver_reads(monkeypatch, frame_cls) -> list[int]:
    """Spy on the session's DataFrame class until ``monkeypatch.undo()``:
    ``toArrow`` appends the rows it returned to the list this returns,
    and ``collect`` / ``toPandas`` fail the test."""
    reads: list[int] = []
    to_arrow = frame_cls.toArrow

    def spy(self):
        tbl = to_arrow(self)
        reads.append(tbl.num_rows)
        return tbl

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("rows collected outside the bounded Arrow read")

    monkeypatch.setattr(frame_cls, "toArrow", spy)
    monkeypatch.setattr(frame_cls, "collect", boom)
    monkeypatch.setattr(frame_cls, "toPandas", boom)
    return reads


def test_walks_match_python_replica(spark, pairs, pair_rows):
    starts = spark.createDataFrame(
        [(5,), (100,), (2481,), (7000,)], "cell_id long"
    )
    got = sorted(
        (r.walk_id, r.pos, r.cell_id)
        for r in walks.node2vec_walks(pairs, starts, 8, 3).collect()
    )
    expect = sorted(walks_py(pair_rows, [5, 100, 2481, 7000], 8, 3))
    assert got == expect
    # full length, every start covered
    assert len(got) == 4 * 3 * 8


def test_arrow_walks_bit_identical_to_join_chain(spark, pairs):
    """The broadcast-adjacency Arrow pass must emit exactly the same
    (walk_id, pos, cell_id) rows as the join chain — same sorted-neighbor
    ordering, same integer hash chooser."""
    starts = spark.createDataFrame(
        [(5,), (100,), (2481,), (7000,)], "cell_id long"
    )
    chain = _walks(spark, pairs, starts, 10, 3, threshold="-1")
    arrow = _walks(spark, pairs, starts, 10, 3)
    assert arrow == chain and len(arrow) == 4 * 3 * 10


def test_dead_end_walks_dropped_identically(spark):
    """A degree-0 start node (absent from the edge list — the only
    dead-end shape an undirected adjacency admits) drops its walks
    ENTIRELY on both paths: the chain loses the row at the step-1 inner
    join, and the Arrow pass and the python replica enforce the same
    rule."""
    tiny = spark.createDataFrame(
        [(1, 2), (2, 3)], "src_cell long, dst_cell long"
    )
    starts = spark.createDataFrame([(1,), (99,)], "cell_id long")
    chain = _walks(spark, tiny, starts, 5, 2, threshold="-1")
    arrow = _walks(spark, tiny, starts, 5, 2)
    py = sorted(walks_py([(1, 2), (2, 3)], [1, 99], 5, 2))
    assert chain == arrow == py
    # node 99's walks are gone entirely — even pos 0
    assert all(r[0] // 2 != 99 for r in chain)
    # node 1's walks survive at full length
    assert len(chain) == 2 * 5


def test_walks_path_follows_budget(spark, pairs, walk_path):
    """The broadcast budget picks the path: within it one Arrow pass with
    no join in the plan; with the threshold at -1 the join chain, with no
    broadcast of anything."""
    starts = spark.createDataFrame([(42,)], "cell_id long")
    out = walks.node2vec_walks(pairs, starts, 5, 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _path(out) == walk_path
    assert ("Join" in plan) == (walk_path == "chain")
    assert "BroadcastExchange" not in plan


def test_walks_read_edges_once(spark, pairs, pair_rows, walk_path, monkeypatch):
    """The edge list reaches the driver at most once: the budget path
    builds its adjacency from the one bounded Arrow read (no count probe,
    no second collect), the chain reads nothing. Either way the walks
    equal the python replica."""
    starts = spark.createDataFrame([(7,), (42,), (99,)], "cell_id long")
    reads = _driver_reads(monkeypatch, type(pairs))
    out = walks.node2vec_walks(pairs, starts, 8, 2)
    monkeypatch.undo()
    assert reads == ([len(pair_rows)] if walk_path == "budget" else [])
    assert _path(out) == walk_path
    got = sorted(map(tuple, out.collect()))
    assert got == sorted(walks_py(pair_rows, [7, 42, 99], 8, 2))
    assert len(got) == 3 * 2 * 8


@pytest.mark.parametrize("threshold", ["-1", "1m"])
def test_walks_over_budget_keep_edges_off_driver(spark, pairs, pair_rows, threshold,
                                                monkeypatch):
    """A broadcast budget below the cell graph's edge list (130,451 rows ×
    16 B) runs the join chain: the walks equal the in-budget path's, no
    exchange broadcasts the adjacency (its ordinal Window), and the edge
    list stays off the driver. At -1 nothing is read at all; at 1 MB the
    one bounded read stops at the budget's 65,537 rows and is dropped."""
    starts = spark.createDataFrame([(42,), (99,), (2481,)], "cell_id long")
    want = _walks(spark, pairs, starts, 6, 2)
    with _threshold(spark, threshold):
        reads = _driver_reads(monkeypatch, type(pairs))
        out = walks.node2vec_walks(pairs, starts, 6, 2)
        monkeypatch.undo()
        got = sorted(map(tuple, out.collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert got == want and len(got) == 3 * 2 * 6
    assert _path(out) == "chain"
    cap = 2**20 // 16
    assert reads == ([] if threshold == "-1" else [cap + 1]), reads
    assert len(pair_rows) > cap + 1
    lines = plan.splitlines()
    for n, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = len(line) - len(line.lstrip(" :+-"))
        for below in lines[n + 1:]:
            # a broadcast frontier holds the earlier steps' joins; the
            # adjacency is a Window with no join above it
            if len(below) - len(below.lstrip(" :+-")) <= depth or "Join" in below:
                break
            assert "Window" not in below, plan


def test_walks_chain_leaves_session_cache_as_found(spark):
    """The join chain caches nothing: two chain calls on new edge lists
    match the python replica and add no entry to the session's
    CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    with _threshold(spark, "-1"):
        for call in range(2):
            edges = [(k, k + 1 + call) for k in range(6)]
            tiny = spark.createDataFrame(edges, "src_cell long, dst_cell long")
            starts = spark.createDataFrame([(0,), (3,)], "cell_id long")
            out = walks.node2vec_walks(tiny, starts, 5, 2)
            assert _path(out) == "chain"
            got = sorted(map(tuple, out.collect()))
            assert got == sorted(walks_py(edges, [0, 3], 5, 2))
    assert cm.numCachedEntries() == before


def test_walks_plan_shape(spark, pairs):
    """The chain is walk_length − 1 equi-joins: no cross join, and with
    the threshold at -1 every step is a shuffle join with no broadcast."""
    starts = spark.createDataFrame([(42,), (99,)], "cell_id long")
    with _threshold(spark, "-1"):
        out = walks.node2vec_walks(pairs, starts, 6, 2)
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Broadcast" not in plan
    assert plan.count("SortMergeJoin") == 6 - 1, plan


def test_walks_follow_edges_and_are_deterministic(spark, pairs):
    starts = spark.createDataFrame([(42,)], "cell_id long")
    a = walks.node2vec_walks(pairs, starts, 6, 2).collect()
    b = walks.node2vec_walks(pairs.repartition(7), starts, 6, 2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    adj = {}
    for r in pairs.collect():
        adj.setdefault(r.src_cell, set()).add(r.dst_cell)
        adj.setdefault(r.dst_cell, set()).add(r.src_cell)
    by_walk = {}
    for r in a:
        by_walk.setdefault(r.walk_id, {})[r.pos] = r.cell_id
    for wid, seq in by_walk.items():
        path = [seq[p] for p in sorted(seq)]
        assert path[0] == 42
        for u, v in zip(path, path[1:]):
            assert v in adj[u], (wid, u, v)


def test_skipgram_pairs_match_replica(spark, pairs, monkeypatch):
    """(center, context) generation: every ordered pair within ±window,
    center ≠ context, exactly once per (walk, position pair)."""
    monkeypatch.setattr(walks, "SKIPGRAM_WINDOW", 3)
    starts = spark.createDataFrame([(5,), (100,)], "cell_id long")
    w = walks.node2vec_walks(pairs, starts, 8, 2).persist()
    got = sorted(
        (r.walk_id, r.center_pos, r.center, r.context)
        for r in walks.skipgram_pairs(w).collect()
    )
    by_walk: dict[int, dict[int, int]] = {}
    for r in w.collect():
        by_walk.setdefault(r.walk_id, {})[r.pos] = r.cell_id
    expect = sorted(
        (wid, cp, seq[cp], seq[xp])
        for wid, seq in by_walk.items()
        for cp in seq
        for xp in seq
        if xp != cp and abs(xp - cp) <= 3
    )
    assert got == expect
    w.unpersist()


def test_skipgram_pairs_non_contiguous_positions(spark, pairs, monkeypatch):
    """Walks whose positions are NOT contiguous (filtered upstream) still
    get exact position-window semantics: the index-space slice is a
    superset of the position window (positions strictly increase along
    the sorted array), and the final |Δpos| ≤ window filter trims the
    extras (ADVICE r5)."""
    monkeypatch.setattr(walks, "SKIPGRAM_WINDOW", 2)
    starts = spark.createDataFrame([(5,), (100,)], "cell_id long")
    w = (
        walks.node2vec_walks(pairs, starts, 10, 2)
        .where(~F.col("pos").isin(3, 4, 7))
        .persist()
    )
    got = sorted(
        (r.walk_id, r.center_pos, r.center, r.context)
        for r in walks.skipgram_pairs(w).collect()
    )
    by_walk: dict[int, dict[int, int]] = {}
    for r in w.collect():
        by_walk.setdefault(r.walk_id, {})[r.pos] = r.cell_id
    expect = sorted(
        (wid, cp, seq[cp], seq[xp])
        for wid, seq in by_walk.items()
        for cp in seq
        for xp in seq
        if xp != cp and abs(xp - cp) <= 2
    )
    assert got == expect
    w.unpersist()


def test_skipgram_window_ten_covers_reference_context(spark, pairs):
    """With the reference's context window 10 and walk_length 12, every
    position pairs with all but the two farthest-away positions."""
    starts = spark.createDataFrame([(42,)], "cell_id long")
    w = walks.node2vec_walks(pairs, starts, 12, 1)
    n = walks.skipgram_pairs(w).count()
    # ordered pairs within |Δpos| ≤ 10 among 12 positions: 12·11 − 2
    assert n == 12 * 11 - 2


def test_skipgram_pairs_raise_on_duplicate_positions(spark, pairs, monkeypatch):
    """VERDICT r7 #2: duplicate (walk_id, pos) input — e.g. a unioned
    walk table that reused walk_ids — used to silently drop in-window
    pairs; the precondition is now enforced in-operator with a loud
    task error naming the offending walk_id."""
    starts = spark.createDataFrame([(5,)], "cell_id long")
    w = walks.node2vec_walks(pairs, starts, 6, 1)
    bad = w.unionAll(w)  # every (walk_id, pos) now appears twice
    monkeypatch.setattr(walks, "SKIPGRAM_WINDOW", 3)
    with pytest.raises(Exception, match=r"duplicate \(walk_id, pos\)"):
        walks.skipgram_pairs(bad).collect()
    # and the clean table still works through the guarded projection —
    # window 10 ≥ max Δpos 5, so all 6·5 ordered pairs qualify
    monkeypatch.setattr(walks, "SKIPGRAM_WINDOW", 10)
    assert walks.skipgram_pairs(w).count() == 6 * 5

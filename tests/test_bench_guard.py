"""Bench plumbing (no Spark): the scaling pair and its efficiency
estimator, the board's query names, the one sf10 cache rule, and the
CPU default every harness shares."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from trajlib_spark import session


def test_board_queries_are_distinct_entry_queries():
    import __spark_entry__ as E

    assert set(bench._BOARD_QUERIES) <= set(E.queries())
    assert len(set(bench._BOARD_QUERIES)) == len(bench._BOARD_QUERIES)


def test_scaling_cores_follow_cpu_count():
    assert bench.scaling_cores(4) == (1, 4)
    assert bench.scaling_cores(32) == (8, 32)


def test_default_cpus_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.default_cpus() == 7


def test_default_cpus_falls_back_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.default_cpus() == 3


def _builder_a(spark, sf_dir):
    return "corpus A"


def _builder_b(spark, sf_dir):
    return "corpus B"


def test_sf10_cache_rule(tmp_path, monkeypatch):
    """Reuse only on the same key (package content + builder source + sf
    name); a result carrying ``error`` is never cached."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "op.py").write_text("X = 1\n")
    monkeypatch.setattr(bench, "_PKG", str(pkg))
    monkeypatch.chdir(tmp_path)
    sf_dir = str(tmp_path / "sf0.1")
    calls = []

    def measure():
        calls.append(1)
        return {"stage_sec": float(len(calls))}

    first = bench._sf10_cached("P.json", sf_dir, (_builder_a,), measure)
    assert first["stage_sec"] == 1.0
    assert json.load(open(tmp_path / "BENCH" / "P.json")) == first
    # hit: same key
    assert bench._sf10_cached("P.json", sf_dir, (_builder_a,), measure) == first
    assert len(calls) == 1
    # miss: a package file changed
    (pkg / "op.py").write_text("X = 2\n")
    second = bench._sf10_cached("P.json", sf_dir, (_builder_a,), measure)
    assert len(calls) == 2 and second["source_hash"] != first["source_hash"]
    # miss: the corpus builder's source changed
    third = bench._sf10_cached("P.json", sf_dir, (_builder_b,), measure)
    assert len(calls) == 3 and third["source_hash"] != second["source_hash"]
    # an error result is returned but never cached
    broken = bench._sf10_cached(
        "E.json", sf_dir, (_builder_a,), lambda: {"error": "boom"}
    )
    assert broken["error"] == "boom"
    assert not (tmp_path / "BENCH" / "E.json").exists()
    # other scales are skipped without measuring
    skipped = bench._sf10_cached(
        "P.json", str(tmp_path / "sf0.01"), (_builder_b,), measure
    )
    assert "skipped" in skipped and len(calls) == 3


def test_pair_efficiency_median_resists_single_era_collapse():
    """One warm-era pair that is fastest at BOTH levels must not drag the
    estimate to its own ratio: the pair-median moves only marginally."""
    pool = [
        {"t3": 62.0, "t12": 17.2},   # eff 0.901
        {"t3": 65.0, "t12": 18.1},   # eff 0.898
        {"t3": 59.0, "t12": 16.9},   # eff 0.873
        {"t3": 48.6, "t12": 15.25},  # warm era: fastest t3 AND t12, eff 0.797
        {"t3": 64.0, "t12": 17.9},   # eff 0.894
    ]
    est = bench._pair_efficiency_estimates(pool)
    assert est["n"] == 5
    assert est["median"] > 0.85                              # robust
    assert est["pair_effs"] == sorted(est["pair_effs"])


def test_pair_efficiency_median_resists_cross_era_inflation():
    """A ratio of minima taken from different pairs can read higher than
    any pair measured; the median cannot exceed every per-pair reading."""
    pool = [
        {"t3": 50.0, "t12": 16.0},   # fast t3, eff 0.781
        {"t3": 60.0, "t12": 14.0},   # fast t12, eff 1.071
        {"t3": 58.0, "t12": 16.5},   # eff 0.879
    ]
    est = bench._pair_efficiency_estimates(pool)
    assert abs(est["median"] - 0.879) < 1e-3


def test_pair_efficiency_estimates_empty_and_even():
    assert bench._pair_efficiency_estimates([])["median"] is None
    est = bench._pair_efficiency_estimates(
        [{"t3": 64.0, "t12": 16.0}, {"t3": 68.0, "t12": 17.0}]
    )
    assert abs(est["median"] - ((1.0 + 1.0) / 2.0)) < 1e-9

"""pairs.score_pairs, the one slim-pair scorer: the same rows on the
broadcast and the join path, the inner-join rule, typed empty results,
and one gate and one collect per call."""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import PairPath
from trajlib_spark.operators import pairs

PAYLOAD = "k long, v double, tag string"
VALUES = "s double, tags string"


def _make_kernel():
    # nested, so the workers unpickle it by value (this module is not on
    # their path)
    def kernel(ii, jj, payload_of) -> pd.DataFrame:
        tags = [f"{a}|{b}" for a, b in zip(payload_of("i", "tag"), payload_of("j", "tag"))]
        return pd.DataFrame({"i": ii, "j": jj,
                             "s": payload_of("i", "v") + 10 * payload_of("j", "v"),
                             "tags": tags})

    return kernel


_kernel = _make_kernel()


def _payloads(spark):
    left = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")], PAYLOAD)
    right = spark.createDataFrame([(2, 0.5, "x"), (3, 0.25, "y"), (4, 0.125, "z")], PAYLOAD)
    return left, right


def test_score_pairs_two_payloads(spark, pair_path):
    left, right = _payloads(spark)
    prs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (1, 4)], "i long, j long")
    out = pairs.score_pairs(left, right, "k", _kernel, VALUES)(prs)
    assert pair_path.ran_in(out)
    assert sorted(map(tuple, out.collect())) == [
        (1, 2, 6.0, "a|x"), (1, 4, 2.25, "a|z"), (2, 3, 4.5, "b|y"), (3, 4, 4.25, "c|z"),
    ]


def test_score_pairs_id_without_payload_gives_no_row(spark, pair_path):
    """The inner-join rule on both sides: a pair whose i has no left row
    or whose j has no right row is dropped, as is a null id."""
    left, right = _payloads(spark)
    prs = spark.createDataFrame(
        [(1, 2), (9, 2), (1, 9), (9, 9), (2, 1), (None, 3), (3, None)], "i long, j long"
    )
    out = pairs.score_pairs(left, right, "k", _kernel, VALUES)(prs)
    assert pair_path.ran_in(out)
    assert [tuple(r) for r in out.collect()] == [(1, 2, 6.0, "a|x")]


def test_score_pairs_empty_pairs_typed(spark, pair_path):
    left, right = _payloads(spark)
    prs = spark.createDataFrame([], "i int, j int")
    out = pairs.score_pairs(left, right, "k", _kernel, VALUES)(prs)
    assert pair_path.ran_in(out)
    assert out.collect() == []
    assert out.dtypes == [("i", "int"), ("j", "int"), ("s", "double"), ("tags", "string")]


def test_score_pairs_empty_payload(spark, pair_path):
    left, _ = _payloads(spark)
    empty = spark.createDataFrame([], PAYLOAD)
    prs = spark.createDataFrame([(1, 2), (2, 3)], "i long, j long")
    for lp, rp in ((empty, empty), (left, empty), (empty, left)):
        out = pairs.score_pairs(lp, rp, "k", _kernel, VALUES)(prs)
        assert pair_path.ran_in(out)
        assert out.collect() == []


def test_score_pairs_gate_counts_typed_bytes(spark):
    """The gate's bytes come from the column types: 8 per double, the
    UTF-8 length of a string, 8 per element of an array<double>; the
    payload broadcasts up to the budget and is joined one byte over."""
    df = spark.createDataFrame(
        [(1, 1.0, "é", [1.0, 2.0]), (2, 2.0, None, None)],
        "k long, v double, t string, xs array<double>",
    )
    nbytes = 2 * 8 + 2 + 2 * 8  # two doubles, "é", two array elements
    prs = spark.createDataFrame([(1, 2)], "i long, j long")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    kernel = lambda ii, jj, p: pd.DataFrame({"i": ii, "j": jj})  # noqa: E731
    for budget, path in ((nbytes, "broadcast"), (nbytes - 1, "join")):
        spark.conf.set(key, str(budget))
        try:
            out = pairs.score_pairs(df, df, "k", kernel, "n int")(prs)
        finally:
            spark.conf.set(key, saved)
        assert PairPath(path).ran_in(out), (budget, path)


def test_score_pairs_rejects_unsized_payload(spark):
    df = spark.createDataFrame([(1, {"a": 1})], "k long, m map<string, int>")
    with pytest.raises(TypeError, match="'m'"):
        pairs.score_pairs(df, df, "k", _kernel, VALUES)


@pytest.mark.parametrize("shared", [True, False])
def test_score_pairs_one_gate_one_collect(spark, shared):
    """score_pairs runs two Spark jobs when it makes its scorer — the gate
    and one collect of both payloads — and none when the scorer is applied
    to pair tables."""
    left, right = _payloads(spark)
    if shared:
        right = left
    sc = spark.sparkContext
    group = f"score_pairs_jobs_{shared}"
    sc.setJobGroup(group, group)
    try:
        score = pairs.score_pairs(left, right, "k", _kernel, VALUES)
        made = len(sc.statusTracker().getJobIdsForGroup(group))
        for r in range(3):
            score(spark.createDataFrame([(1, 2 + r)], "i long, j long"))
        applied = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (made, applied) == (2, 2)


def test_broadcast_budget_reads_threshold(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "10m")
        assert pairs.broadcast_budget(spark) == 10 * 1024 * 1024
        spark.conf.set(key, "-1")
        assert pairs.broadcast_budget(spark) == 0
    finally:
        spark.conf.set(key, saved)

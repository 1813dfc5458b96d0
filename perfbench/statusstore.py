"""Per-action counts from Spark's own status stores.

``mark`` notes the last SQL execution id before an action; ``read`` waits
until every execution after the mark has completed (the listener bus is
asynchronous, so right after an action returns its execution may still
read as running) and sums, over those executions:

- rows_out: "number of output rows" of the top-most plan node that has it,
  in the first (outermost) execution;
- duration_s: submission to completion of each execution;
- shuffle_bytes, spill_bytes: exact per-stage totals from the core
  AppStatusStore (shuffle write bytes; disk bytes spilled);
- python_s, python_bytes: the Python-boundary SQL metrics ("time to run
  Python workers"; data sent to + returned from Python workers);
- task_max_ms, task_median_ms, task_skew: executor run time of the
  heaviest stage's slowest and median task, and their ratio (skew is read
  per stage, not per job).
"""

from __future__ import annotations

import re
import time

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Parse a formatted SQL metric: "100,000", "6.6 s", "782.9 KiB", or
    the multi-task form "total (min, med, max ...)\\n6.6 s (...)"."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def mark(spark) -> int:
    """Id of the newest SQL execution so far (-1 when there is none)."""
    execs = _sql_store(spark).executionsList()
    return execs.last().executionId() if execs.size() else -1


def _executions_after(spark, since: int, timeout_s: float):
    store = _sql_store(spark)
    deadline = time.monotonic() + timeout_s
    while True:
        execs = store.executionsList()
        out = [
            execs.apply(i) for i in range(execs.size())
            if execs.apply(i).executionId() > since
        ]
        if all(e.completionTime().isDefined() for e in out):
            return out
        if time.monotonic() > deadline:
            raise TimeoutError(f"SQL executions after {since} did not complete")
        time.sleep(0.02)


def _stage_ids(execution) -> list[int]:
    it = execution.stages().iterator()
    ids = []
    while it.hasNext():
        ids.append(int(it.next()))
    return sorted(ids)


def executions(spark, since: int, timeout_s: float = 60.0) -> list[dict]:
    """One record per SQL execution after ``since``, oldest first."""
    store = _sql_store(spark)
    app = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0

    out = []
    for ex in _executions_after(spark, since, timeout_s):
        eid = ex.executionId()
        rec = {
            "execution_id": int(eid),
            "duration_s": (ex.completionTime().get().getTime() - ex.submissionTime()) / 1e3,
            "rows_out": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "python_s": 0.0, "python_bytes": 0, "stage_run_ms": -1,
            "task_max_ms": 0.0, "task_median_ms": 0.0, "task_skew": 1.0,
        }
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        rows_seen = False
        for nd in sorted((nodes.apply(i) for i in range(nodes.size())),
                         key=lambda nd: nd.id()):
            ms = nd.metrics()
            for k in range(ms.size()):
                metric = ms.apply(k)
                v = values.get(metric.accumulatorId())
                if not v.isDefined():
                    continue
                name = metric.name()
                if name == "number of output rows" and not rows_seen:
                    rec["rows_out"] = int(parse_metric(v.get()))
                    rows_seen = True
                elif name == "time to run Python workers":
                    rec["python_s"] += parse_metric(v.get())
                elif name in ("data sent to Python workers",
                              "data returned from Python workers"):
                    rec["python_bytes"] += int(parse_metric(v.get()))
        for sid in _stage_ids(ex):
            st = app.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            rec["shuffle_bytes"] += int(st.shuffleWriteBytes())
            rec["spill_bytes"] += int(st.diskBytesSpilled())
            run_ms = int(st.executorRunTime())
            if st.numTasks() > 1 and run_ms > rec["stage_run_ms"]:
                summary = app.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isDefined():
                    d = summary.get().executorRunTime()
                    med, mx = float(d.apply(0)), float(d.apply(1))
                    rec.update(stage_run_ms=run_ms, task_median_ms=med,
                               task_max_ms=mx,
                               task_skew=mx / med if med > 0 else 1.0)
        out.append(rec)
    return out


def aggregate(recs: list[dict]) -> dict:
    """Sum the counts of several executions; rows_out is the first
    execution's, and the task figures are those of the heaviest stage."""
    agg = {
        "executions": len(recs),
        "rows_out": recs[0]["rows_out"] if recs else 0,
        "task_max_ms": 0.0, "task_median_ms": 0.0, "task_skew": 1.0,
    }
    for key in ("duration_s", "shuffle_bytes", "spill_bytes", "python_s",
                "python_bytes"):
        agg[key] = sum(r[key] for r in recs)
    heavy = max(recs, key=lambda r: r["stage_run_ms"], default=None)
    if heavy is not None and heavy["stage_run_ms"] >= 0:
        for key in ("task_max_ms", "task_median_ms", "task_skew"):
            agg[key] = heavy[key]
    return agg


def read(spark, since: int, timeout_s: float = 60.0) -> dict:
    return aggregate(executions(spark, since, timeout_s))

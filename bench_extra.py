"""Per-query instrumentation beside bench.py: times chosen board queries
through bench.timed_queries (local[$SPARK_GRAFT_CPUS], shuffle_partitions
= cpus, noop sink, pass 1 discarded as warm-up), and captures
`.explain("formatted")` plans to plans/r09/<query>_<tag>.txt so plan-shape
claims are reproducible.

Usage:
    python bench_extra.py time  [query ...]        # default: all board queries
    python bench_extra.py plan  <tag> [query ...]  # writes plans/r09/<q>_<tag>.txt

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import sys

from bench import _BOARD_QUERIES as BOARD
from bench import timed_queries
from trajlib_spark.session import default_cpus, get_spark


def _session(cpus: int):
    return get_spark(app_name="bench-extra", master=f"local[{cpus}]",
                     shuffle_partitions=cpus)


def time_queries(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    queries = timed_queries(_session(cpus), sf_dir, names)
    print("QTIME_JSON " + json.dumps(
        {"sf": sf_dir.rstrip("/").rsplit("/", 1)[-1], "cpus": cpus,
         "queries": queries}), flush=True)


def capture_plans(tag: str, names: list[str]) -> None:
    import __spark_entry__ as E

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session(default_cpus())
    qs = E.queries()
    os.makedirs("plans/r09", exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
        path = f"plans/r09/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"PLAN {name} -> {path} ({plan.count('Exchange')} Exchange refs)",
              flush=True)
        spark.catalog.clearCache()


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "time":
        names = sys.argv[2:] or BOARD
        time_queries(names)
    elif cmd == "plan":
        tag = sys.argv[2]
        names = sys.argv[3:] or BOARD
        capture_plans(tag, names)
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()

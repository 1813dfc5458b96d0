"""Pin the output digests the benchmark checks its passes against.

    python3 perfbench/pin.py --seeds 0-15 [--oracle]

Run from the repository root. For each seed it stages the inputs, runs one
pass of every workload and records the digests in pinned_digests.json.
pages_flagship and pages_checkpointed share one entry, and the script
fails unless their pip and tiles digests agree. With ``--oracle`` it also
cross-checks every traj_board query that has a pure-SQL DuckDB oracle
(``__spark_entry__.oracle_sql()``) row for row against Spark's output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
)

import run  # noqa: E402  (sets up paths the same way as the harness)

# traj_board queries whose oracle is plain SQL over the staged tables (the
# map_match and LCSS oracles replay goldens committed for the board data)
ORACLE_QUERIES = ("segment_pairs", "symmetrize_norm", "point_features",
                  "stay_collapse", "knn")


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def oracle_check(spark, data_dir: str) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in ("events", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    osql, qs = entry.oracle_sql(), entry.queries()
    result = {}
    for q in ORACLE_QUERIES:
        sdf = qs[q](spark, data_dir).toPandas()
        odf = con.execute(osql[q]).df()
        cols = sorted(sdf.columns)
        if sorted(odf.columns) != cols or len(sdf) != len(odf):
            result[q] = f"shape differs: spark {sdf.shape} oracle {odf.shape}"
            continue
        a = sdf[cols].sort_values(cols).reset_index(drop=True)
        b = odf[cols].sort_values(cols).reset_index(drop=True).astype(a.dtypes.to_dict())
        # NULLs (the first points' step features) compare equal to NULLs
        bad = int(((a != b) & ~(a.isna() & b.isna())).any(axis=1).sum())
        result[q] = "ok" if bad == 0 else f"{bad} rows differ"
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 0-15 or 1,2,5")
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEM", run.DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.nproc())

    path = os.path.join(HERE, "pinned_digests.json")
    with open(path) as f:
        pins = json.load(f)
    work = os.path.join(run.WORK, "pin")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    ok = True
    h = None
    try:
        for seed in seed_list(args.seeds):
            got = {}
            for name in ("pages_flagship", "pages_checkpointed", "traj_board", "doc_dedup"):
                a = argparse.Namespace(workload=name, seed=seed, seconds=0, trace=0)
                if h is None:
                    h = run.Harness(a, work)
                    h.start(run.nproc())
                h.args, h.cls = a, h.workloads.WORKLOADS[name]
                wl = h.stage(seed)
                h.clear()
                _, got[name] = wl.run(h.spark)
                if name == "traj_board" and args.oracle:
                    print(seed, "oracle", oracle_check(h.spark, wl.data), flush=True)
                shutil.rmtree(wl.data, ignore_errors=True)
            if got["pages_flagship"] != got["pages_checkpointed"]:
                print(seed, "pages digests differ:", got["pages_flagship"],
                      got["pages_checkpointed"], file=sys.stderr)
                ok = False
            for key, name in (("pages", "pages_flagship"), ("traj_board", "traj_board"),
                              ("doc_dedup", "doc_dedup")):
                pins.setdefault(key, {})[str(seed)] = got[name]
            print(seed, json.dumps(got), flush=True)
    finally:
        if h is not None:
            h.close()
        shutil.rmtree(work, ignore_errors=True)
    if ok:
        with open(path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

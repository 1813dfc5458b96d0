"""spark-submit entry point for the flagship pages pipeline.

Usage (local or cluster):

    python tools/make_pyfiles.py          # build dist/trajlib_spark.zip
    spark-submit --py-files dist/trajlib_spark.zip run_pipeline.py \
        --store /path/to/warehouse --pages <parquet dir | synth:N> \
        [--sf-dir /root/testdata/sf0.001] [--stage tiles] [--no-resume]

Each stage commits an atomic snapshot + per-partition lineage rows; rerun
resumes from the first uncommitted stage (drop a table to force recompute).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="warehouse root directory")
    ap.add_argument("--pages", required=True,
                    help="pages parquet path, or synth:N for N generated pages")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="dir with nation.parquet for the polygon set")
    ap.add_argument("--stage", default=None,
                    help="run only up to this stage (pages/points/cells/"
                         "collapsed/pip_join/tiles)")
    ap.add_argument("--no-resume", action="store_true",
                    help="recompute every stage even if committed")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from trajlib_spark.plans.pages_pipeline import pipeline_stages
    from trajlib_spark.session import get_spark
    from trajlib_spark.sources import pages as pages_src
    from trajlib_spark.sources import synth, tables
    from trajlib_spark.sources.store import TableStore, run_stages

    spark = get_spark(app_name="trajlib-pipeline", master=args.master)
    if args.pages.startswith("synth:"):
        pages = pages_src.generate_pages(spark, int(args.pages.split(":", 1)[1]))
    else:
        pages = tables.read_table(spark, args.pages, tables.PAGES)
    polygons = synth.synthetic_polygons(spark, args.sf_dir)

    stages = pipeline_stages(pages, polygons)
    if args.stage:
        names = [n for n, _ in stages]
        if args.stage not in names:
            print(f"unknown stage {args.stage}; one of {names}", file=sys.stderr)
            return 2
        stages = stages[: names.index(args.stage) + 1]

    store = TableStore(args.store)
    status = run_stages(spark, store, stages, resume=not args.no_resume)
    print(json.dumps({"run_id": store.run_id, "stages": status}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

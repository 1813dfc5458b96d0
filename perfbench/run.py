"""Benchmark harness for trajlib_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process on ``local[nproc]``
submits one job at a time (a closed loop with one client); the flagship's
two sinks are the one exception and are submitted together. Inputs are
generated from ``--seed`` during set-up and staged as parquet under
``.perfbench_work/``; the engine reads only those files.

--trace 0 measures the end-to-end metrics: set-up is done three times
(session start, staging, one discarded warm-up pass; the first starts the
JVM and SparkContext and runs the workload's ``warmup_passes`` more,
the later two start a fresh SparkSession on it) and the median of their
CPU seconds, counted as for ``cpu_s``, is ``setup_s``; then full-cost
passes run for ``--seconds`` (at least three), each after clearing every
cached table. ``cpu_s`` (CPU seconds of the JVM,
its Python workers and this driver, JIT compilation left out) and
``wall_s`` are the medians over those passes; ``cpu_s`` is the listed
one, because on a shared VM wall time follows the hypervisor's steal.
--trace 1 runs the per-layer pass instead (see workloads.py) and reports
the per-layer metrics and the tracing overhead.

Every pass is checked: its output digests must equal the pinned digests
for the seed (pinned_digests.json) or, for a seed with no pin, those of
the first pass. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it print every
metric by name with its unit, including those only some workloads have.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUPS = 3
MIN_PASSES = 3
SCALING_ROUNDS = 1
TRACE_BASELINE_PASSES = 1
DRIVER_MEM = "1g"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_pids() -> list[int]:
    """This process and its descendants (the JVM and the Python workers it
    forks)."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p is not None and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped children included, less the JVM's JIT compiler
    threads. Unlike wall time it does not count the time the hypervisor runs
    other guests on this VM's vCPUs; compilation is left out because it is
    warm-up work whose amount differs from run to run (the JVM keeps its
    compiler threads alive, see ``Harness.start``)."""
    ticks = 0
    for pid in tree_pids():
        try:
            ticks += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[1][11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if "CompilerThre" in comm:  # "C1/C2 CompilerThread<n>", cut to 15 chars
                    ticks -= int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / CLK_TCK


class RssSampler(threading.Thread):
    """Peak of the summed resident set of this process's descendants (the
    JVM and the Python workers it forks), sampled every 200 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        me, total = os.getpid(), 0
        for pid in tree_pids():
            if pid == me:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, self._sample())
            self._halt.wait(0.2)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


class Harness:
    def __init__(self, args, work: str):
        from trajlib_spark.session import get_spark, stop_spark

        import inputs
        import workloads

        self._get_spark, self._stop_spark = get_spark, stop_spark
        self.inputs, self.workloads = inputs, workloads
        self.args, self.work = args, work
        self.cls = workloads.WORKLOADS[args.workload]
        self.spark = None
        self.attempted = self.failed = 0
        self.reference: dict[str, str] | None = None
        with open(os.path.join(HERE, "pinned_digests.json")) as f:
            pins = json.load(f)
        self.pinned = workloads.pinned(pins, args.workload, args.seed)
        self.mismatches: list[str] = []
        self.last_cpu_s = 0.0

    # -- sessions ------------------------------------------------------------
    def start(self, cores: int) -> float:
        t0 = time.perf_counter()
        if self.spark is not None:
            self._stop_spark(self.spark)
        local = os.path.join(self.work, "spark-local")
        self.spark = self._get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                # a fixed-size heap, so the JVM's share of peak_rss_mb does
                # not follow heap resizing
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={local} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                    # compiler threads that exit would fold their CPU time
                    # into the process total, out of tree_cpu_s's reach
                    "-XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        return time.perf_counter() - t0

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def stage(self, k: int, sizes: dict | None = None):
        data = os.path.join(self.work, f"data{k}")
        self.inputs.stage(data, self.args.seed,
                          sizes or self.workloads.SIZES[self.args.workload])
        return self.cls(data, self.work)

    # -- passes --------------------------------------------------------------
    def check(self, digests: dict[str, str]) -> bool:
        want = self.pinned or self.reference
        if want is None:
            self.reference = want = dict(digests)
        bad = {t: (digests.get(t), d) for t, d in want.items() if digests.get(t) != d}
        if bad:
            self.mismatches.append(json.dumps(bad))
        return not bad

    def run_pass(self, wl) -> float | None:
        """One full-cost pass; None when it fails or its output is wrong."""
        self.attempted += 1
        self.clear()
        cpu0 = tree_cpu_s()
        try:
            wall, digests = wl.run(self.spark)
            self.last_cpu_s = tree_cpu_s() - cpu0
        except Exception:  # a failing pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if not self.check(digests):
            self.failed += 1
            return None
        return wall

    # -- modes -------------------------------------------------------------
    def measure(self) -> dict:
        cores = nproc()
        setups, setup_walls = [], []
        for k in range(SETUPS):
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            if k == 0:
                start_s = self.start(cores)
            else:  # a fresh SparkSession on the running context
                self.spark = self.spark.newSession()
            wl = self.stage(k)
            self.run_pass(wl)
            if k == 0:
                # the JIT keeps speeding a fresh JVM up for the first minute
                # of passes; a count of passes, not of seconds, leaves it
                # equally warm however fast the host runs
                for _ in range(wl.warmup_passes):
                    self.run_pass(wl)
            setups.append(tree_cpu_s() - cpu0)
            setup_walls.append(time.perf_counter() - t0)

        sampler = RssSampler()
        sampler.start()
        walls, cpus = [], []
        deadline = time.perf_counter() + self.args.seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
            wall = self.run_pass(wl)
            if wall is not None:
                walls.append(wall)
                cpus.append(self.last_cpu_s)
            elif self.attempted > 4 * MIN_PASSES + SETUPS and not walls:
                break
        out = {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(walls) if walls else float("nan"),
            "cpu_s": statistics.median(cpus) if cpus else float("nan"),
            "session.start_s": start_s,
            "_setups": setups, "_setup_walls": setup_walls,
            "_walls": walls, "_cpus": cpus,
        }
        out["peak_rss_mb"] = sampler.stop() / 2**20
        if walls:
            out["items_per_s"] = wl.input_items() / out["wall_s"]
        for key, vals in getattr(wl, "extra", {}).items():
            if vals:
                out[key] = statistics.median(vals)
        return out

    def scaling(self, wl) -> dict:
        """The scaling legs: one pass at local[1] and one at local[nproc],
        each in a fresh session, the order alternating with the seed."""
        cores = nproc()
        legs = {1: [], cores: []}
        for r in range(SCALING_ROUNDS):
            order = [cores, 1] if (r + self.args.seed) % 2 == 0 else [1, cores]
            for c in order:
                self.start(c)
                wall = self.run_pass(wl)
                if wall is not None:
                    legs[c].append(wall)
        out = {"_legs": legs}
        if legs[1] and legs[cores]:
            out["scaling_efficiency"] = (
                statistics.median(legs[1]) / statistics.median(legs[cores]) / cores
            )
        return out

    def traced(self) -> dict:
        """The per-layer run. Every traced run traces every layer: first the
        requested workload's own traced pass, then the other listed
        workloads', each after one untraced pass of its own (the baseline
        for trace.overhead_s and pipeline.recompute_s, and a warm-up for
        that workload's code). Only the requested workload's passes are
        checked against digests; the others' are checked by their own runs."""
        from spans import Tracer

        start_s = self.start(nproc())
        wl = self.stage(0, self.workloads.TRACE_SIZES)
        self.run_pass(wl)  # warm-up
        walls = [w for w in (self.run_pass(wl) for _ in range(TRACE_BASELINE_PASSES))
                 if w is not None]
        wall = statistics.median(walls) if walls else float("nan")
        # the traced pass of pages_checkpointed also runs the resume leg
        baseline = wall + statistics.median(getattr(wl, "extra", {}).get("resume_s") or [0.0])
        tracer = Tracer()
        self.attempted += 1
        self.clear()
        try:
            with tracer.span(f"workload:{wl.name}", seed=self.args.seed) as root:
                metrics = wl.traced(self.spark, tracer, wall)
            # a workload whose traced pass does more than its timed pass
            # reports the comparable part as trace.wall_s
            if "trace.wall_s" in metrics:
                traced_wall, baseline = metrics.pop("trace.wall_s"), wall
            else:
                traced_wall = root["end"] - root["start"]
            for cls in self.workloads.TRACE_ALL:
                if isinstance(wl, cls):
                    continue
                other = cls(wl.data, self.work)
                self.clear()
                other_wall, _ = other.run(self.spark)
                self.clear()
                with tracer.span(f"workload:{other.name}", seed=self.args.seed):
                    more = other.traced(self.spark, tracer, other_wall)
                more.pop("trace.wall_s", None)
                for k, v in more.items():
                    metrics.setdefault(k, v)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            metrics, traced_wall = {}, float("nan")
        metrics.update({
            "session.start_s": start_s,
            "trace.wall_s": traced_wall,
            "trace.overhead_s": traced_wall - baseline,
        })
        path = os.path.join(
            WORK, "traces", f"{wl.name}-seed{self.args.seed}-{tracer.run_id}.json"
        )
        tracer.dump(path)
        metrics["_trace_file"] = os.path.relpath(path, ROOT)
        # untraced, after the trace: the legs would cost every --trace 0
        # run ~10 s of the benchmark's time budget
        if wl.scaling:
            metrics.update(self.scaling(wl))
        return metrics

    def versions(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": nproc(),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
        }

    def close(self) -> None:
        if self.spark is not None:
            self._stop_spark(self.spark)
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None


UNITS_EXTRA = {
    "wall_s": "s",
    "items_per_s": "items/s",
    "pages_per_s": "pages/s",
    "scaling_efficiency": "ratio",
    "resume_s": "s",
    "write_amp": "ratio",
    "failed_frac": "ratio",
}


def report(spec: dict, args, values: dict, versions: dict, h: Harness) -> dict:
    section = "per_layer" if args.trace else "end_to_end"
    names = [(m["name"], m["unit"]) for m in spec[section]]
    metrics = {}
    for name, unit in names:
        v = values.get(name, 0.0)
        # a run whose every pass failed has no figure; it reports 0 and
        # "correct": false rather than a NaN, which is not JSON
        metrics[name] = {"value": v if math.isfinite(v) else 0.0, "unit": unit}
    if not args.trace and args.workload.startswith("pages_") and "items_per_s" in values:
        values["pages_per_s"] = values["items_per_s"]
    values["failed_frac"] = h.failed / max(h.attempted, 1)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in versions.items()))
    shown = set()
    for name, unit in names:
        print(f"{name:34s} {values.get(name, 0.0):>16.6g} {unit}")
        shown.add(name)
    for name, unit in UNITS_EXTRA.items():
        if name in values and name not in shown:
            print(f"{name:34s} {values[name]:>16.6g} {unit}")
    for key in ("_setups", "_setup_walls", "_walls", "_cpus", "_legs", "_trace_file"):
        if key in values:
            print(f"# {key[1:]}: {values[key]}")
    for m in h.mismatches:
        print(f"# digest mismatch: {m}")
    if h.pinned is None:
        print(f"# no pinned digests for seed {args.seed}: passes checked against the first pass")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # pages_checkpointed runs on request but is not one of the benchmark's
    # listed workloads (see perfbench/NOTES.md)
    listed = {w["name"] for w in spec["workloads"]} | {
        "pages_checkpointed", "traj_board", "doc_dedup"}
    if args.workload not in listed:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
        import trajlib_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    h = Harness(args, work)
    try:
        values = h.traced() if args.trace else h.measure()
        versions = h.versions()
    finally:
        h.close()
        shutil.rmtree(work, ignore_errors=True)
    metrics = report(spec, args, values, versions, h)
    correct = h.failed == 0
    print(json.dumps({"correct": correct, "attempted": h.attempted,
                      "failed": h.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

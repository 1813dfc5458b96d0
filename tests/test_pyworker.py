"""The stat-checked zip directory cache of Spark Python workers
(``trajlib_spark/_pyworker.py``). Each case runs in a subprocess so the
patched ``zipimporter`` never leaks into this one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ZIP_CASE = r"""
import importlib, json, os, sys, types, zipfile, zipimport
mode, tmp = sys.argv[1], sys.argv[2]
if mode != "driver":
    sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
real_version = sys.version_info
if mode == "py313":
    sys.version_info = (3, 13, 0, "final", 0)
import trajlib_spark
from trajlib_spark import _pyworker
wrapped = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
again = _pyworker.install()
sys.version_info = real_version

arc = os.path.join(tmp, "mods.zip")
def write(names):
    with zipfile.ZipFile(arc, "w") as z:
        for name in names:
            z.writestr(name + ".py", "NAME = %r\n" % name)
write(["zmod_a"])
sys.path.insert(0, arc)
import zmod_a

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read(path)
importlib.invalidate_caches()  # takes the archive's stat
first = len(reads)
importlib.invalidate_caches()
importlib.invalidate_caches()
unchanged = len(reads) - first
write(["zmod_a", "zmod_b"])
importlib.invalidate_caches()
import zmod_b
print(json.dumps({"wrapped": wrapped, "again": again, "first": first,
                  "unchanged": unchanged, "b": zmod_b.NAME}))
"""


@pytest.mark.parametrize("mode", ["worker", "driver", "py313"])
def test_zip_directory_reread_only_on_change(tmp_path, mode):
    """In a worker on Python < 3.13, invalidate_caches() re-reads an
    unchanged zip 0 times, and a rewritten zip's new module imports; in
    the driver, or on Python ≥ 3.13, nothing is installed."""
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_CASE, mode, str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.splitlines()[-1])
    installed = mode == "worker" and sys.version_info < (3, 13)
    assert got["wrapped"] == installed, got
    assert got["again"] is False, got  # once per process
    assert got["b"] == "zmod_b", got  # the rewritten archive was re-read
    if installed:
        assert (got["first"], got["unchanged"]) == (1, 0), got


_SPARK_CASE = r"""
import json, sys, zipimport
import pandas as pd
from trajlib_spark.operators import dedup
from trajlib_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
docs = spark.createDataFrame(
    [(i, "near duplicate document number %d" % i) for i in range(20)],
    "doc_id long, text string",
)
dedup.NUM_PERM = 8
dedup.minhash_signatures(docs).count()  # an engine Arrow UDF


def probe(batches):
    import importlib, os, sys, zipimport
    engine_loaded = "trajlib_spark" in sys.modules  # the same, reused worker
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    for _ in batches:
        pass
    yield pd.DataFrame({"engine_loaded": [engine_loaded],
                        "importers": [importers], "reads": [len(reads)]})


row = spark.range(1, numPartitions=1).mapInPandas(
    probe, "engine_loaded boolean, importers long, reads long"
).first()
out = row.asDict()
out["driver_wrapped"] = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
spark.stop()
print(json.dumps(out))
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="installs before 3.13 only")
def test_worker_task_rereads_no_zip_directory():
    """local[1]: after an engine Arrow UDF ran, the next task in the same
    Python worker re-reads no zip directory in invalidate_caches(); the
    driver stays unpatched."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SPARK_CASE],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.splitlines()[-1])
    assert got["engine_loaded"] and got["importers"] > 0, got
    assert got["reads"] == 0, got
    assert got["driver_wrapped"] is False, got

"""SparkSession factory tuned for the engine.

Defaults target the sandbox (single-JVM local[N]) but every knob is the one
that matters on a real multi-executor cluster too: AQE with skew-join
handling for hot cells, Arrow for the pandas-UDF boundary, shuffle
partitions sized to parallelism, UTC timestamps for oracle comparison.

DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled``). With it on, PySpark 4
wraps every DataFrame, Column and ``functions`` call to record its Python
file:line for the error's query context: extra py4j round trips (a conf
read, then setting and clearing the JVM's origin), a stack walk and a
failed ``import IPython`` per call. In a warm local session
``F.col("a") + 1`` took 1.6 ms and ~30 round trips that way, against
0.27 ms and 4 with it off; building ``cluster.segment_distance_terms``
took 36–39 ms against 9–11 ms. With it off, errors still carry their
error class and SQL fragment and lose only the Python file:line. A
debugging session turns it back on with
``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"})``;
PySpark reads the setting once per process, from the first session that
asks, so that must be the process's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "trajlib_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
    # Clear the JVM-wide singleton so a fresh master/conf takes effect
    # (needed by the two-parallelism scaling benchmark).
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001

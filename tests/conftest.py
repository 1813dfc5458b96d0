from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def job_count(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def session_cache_state(spark) -> tuple[int, int]:
    """(CacheManager entries, persistent RDDs) once the session settles.

    Each round runs a Python GC, waits (bounded) for py4j's finalizer
    thread, which polls once a second, to release the dropped handles on
    the JVM side, then runs a JVM ``System.gc()`` and waits briefly for
    the ContextCleaner. The RDD count is read from the SparkContext's
    weak-valued map itself: ``getPersistentRDDs()`` returns a copy that
    holds every RDD it counts. The rounds stop once the count holds
    still, after five at most."""
    import gc
    import time

    sc = spark.sparkContext
    pending = sc._gateway._gateway_client.finalizer_deque
    count = None
    for _ in range(5):
        gc.collect()
        for _ in range(30):
            if not pending:
                break
            time.sleep(0.1)
        sc._jvm.System.gc()
        time.sleep(0.2)
        last, count = count, sc._jsc.sc().persistentRdds().size()
        if count == last:
            break
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries(), count


@pytest.fixture(scope="session")
def spark():
    from trajlib_spark.session import get_spark

    s = get_spark(app_name="trajlib-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def points(spark):
    from trajlib_spark.config import PORTO_GRID
    from trajlib_spark.operators import cells
    from trajlib_spark.sources import synth

    return cells.with_cell(synth.synthetic_points(spark, SF), PORTO_GRID).cache()


@pytest.fixture(scope="session")
def docs(spark):
    from trajlib_spark.sources import tables

    return tables.read_table(spark, f"{SF}/documents.parquet", tables.DOCUMENTS).cache()


@pytest.fixture(scope="session")
def embs(spark):
    from trajlib_spark.sources import tables

    return tables.read_table(spark, f"{SF}/embeddings.parquet", tables.EMBEDDINGS).cache()


class PairPath(str):
    """A ``pairs.score_pairs`` path name: "broadcast" (the payload fits the
    session's broadcast budget and ships as an id-keyed lookup) or "join"
    (``autoBroadcastJoinThreshold`` -1, the payload attached by joins)."""

    since: int | None = None  # SQL executions before the case (fixture)

    def ran_in(self, df) -> bool:
        """Whether ``df``'s executed plan scored its pairs on this path:
        a kernel pass, with the payload's attach columns on the join path
        and none on the broadcast path (cached plans print their inner
        plan, so a persisted score counts). A checkpointed score reads an
        existing RDD and ran in a query of its own, so when ``df``'s plan
        has no kernel pass the plans of the queries run since the fixture
        began are read instead."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "MapInPandas" not in plan and self.since is not None:
            store = df.sparkSession._jsparkSession.sharedState().statusStore()
            runs = store.executionsList(self.since, store.executionsCount() - self.since)
            plan = "\n".join(
                runs.apply(k).physicalPlanDescription() for k in range(runs.size())
            )
        assert "MapInPandas" in plan, plan
        return ("_payload_" in plan) == (self == "join")


@pytest.fixture(params=["broadcast", "join"])
def pair_path(request, spark):
    """Run a pair-scorer case on each ``score_pairs`` path: the session's
    64 MB broadcast budget (every test payload fits) and the join path
    (threshold -1, restored afterwards)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    if request.param == "join":
        spark.conf.set(key, "-1")
    path = PairPath(request.param)
    path.since = spark._jsparkSession.sharedState().statusStore().executionsCount()
    try:
        yield path
    finally:
        spark.conf.set(key, saved)

import contextlib
import os
import sys
import uuid
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clin_variant_etl_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def spark_work(spark):
    """Count the Spark jobs and SQL executions a block starts::

        with spark_work() as n:
            pipe.apply_epoch(events, 0)
        assert (n.jobs, n.executions) == (...)

    Jobs are those of a fresh ``statusTracker`` job group; executions are
    read from the SQL status store (``executionsCount()``, which stops
    growing at the store's retention cap, so the newest execution id
    measures the span).  Both are read after the listener bus drains."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def newest_execution() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    @contextlib.contextmanager
    def count():
        got = SimpleNamespace(jobs=None, executions=None)
        group = f"spark-work-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        first = newest_execution()
        sc.setJobGroup(group, "spark_work", interruptOnCancel=False)
        try:
            yield got
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            got.executions = newest_execution() - first
            got.jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    return count

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_bqloader_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = build_session(
        app_name="go_bqloader_spark-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(tag, fn)`` runs ``fn`` with every Spark job it starts
    tagged ``tag`` and returns ``(fn's result, number of those jobs)``."""

    def run(tag, fn):
        sc = spark.sparkContext
        sc.addJobTag(tag)
        try:
            out = fn()
        finally:
            sc.removeJobTag(tag)
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        return out, len(jsc.statusTracker().getJobIdsForTag(tag))

    return run

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_bqloader_spark.lake import LakeTable  # noqa: E402
from go_bqloader_spark.lake.fsio import LocalFS  # noqa: E402
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


class _SeamFS(LocalFS):
    """The local filesystem behind a seam the lake does not take for
    ``LocalFS`` itself, as an object store's would be: point reads and
    write stats take their Spark paths."""


@pytest.fixture
def spark_path(spark):
    """``spark_path(t)`` opens table ``t`` through ``_SeamFS``, so its
    point reads run Spark's scan instead of the driver's pyarrow read."""
    return lambda t: LakeTable(spark, t.path, fs=_SeamFS())


@pytest.fixture
def py4j_calls(monkeypatch):
    """``py4j_calls(fn)`` runs ``fn`` and returns ``(fn's result, the py4j
    round trips it made)``: the commands any thread sent the JVM, counted
    at ``ClientServerConnection.send_command``."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    real = ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += 1
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def run(fn):
        before = sent[0]
        out = fn()
        return out, sent[0] - before

    return run

from __future__ import annotations

import gc
import itertools

import pytest
from py4j.clientserver import ClientServerConnection

from exporter_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("exporter_spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_groups = itertools.count()


def _jobs_of(sc, fn) -> tuple[list[int], object]:
    """The ids of the Spark jobs ``fn()`` ran, through a job group of
    its own, and its result."""
    group = f"count_jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return sc.statusTracker().getJobIdsForGroup(group), out


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (the number of Spark jobs ``fn()`` ran, its
    result), counted through a job group of its own."""

    def count(fn):
        jobs, out = _jobs_of(spark.sparkContext, fn)
        return len(jobs), out

    return count


@pytest.fixture(scope="session")
def count_stages(spark):
    """``count_stages(fn)`` -> (the Spark jobs ``fn()`` ran, the stages
    of those jobs, its result)."""
    sc = spark.sparkContext

    def count(fn):
        jobs, out = _jobs_of(sc, fn)
        tracker = sc.statusTracker()
        return len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs), out

    return count


def _send_deletes(client) -> None:
    """Send now the deletes of every Java proxy that died: py4j queues
    them for a worker thread that sends them when it next wakes."""
    gc.collect()
    while True:
        try:
            owner, target_id = client.finalizer_deque.pop()
        except IndexError:
            return
        owner.garbage_collect_object(target_id, False)


@pytest.fixture(scope="session")
def count_py4j(spark):
    """``count_py4j(fn)`` -> (the py4j commands ``fn()`` sent, its
    result). Deletes of the proxies ``fn`` left behind are counted,
    earlier ones are not."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001

    def count(fn):
        sent = 0
        send = ClientServerConnection.send_command

        def counted(self, command):
            nonlocal sent
            sent += 1
            return send(self, command)

        _send_deletes(client)
        ClientServerConnection.send_command = counted
        try:
            out = fn()
            _send_deletes(client)
        finally:
            ClientServerConnection.send_command = send
        return sent, out

    return count

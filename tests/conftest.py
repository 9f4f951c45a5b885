from __future__ import annotations

import itertools

import pytest

from exporter_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("exporter_spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (the number of Spark jobs ``fn()`` ran, its
    result), counted through a job group of its own."""
    sc = spark.sparkContext
    groups = itertools.count()

    def count(fn):
        group = f"count_jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count

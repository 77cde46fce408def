from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beam_scala_examples_spark.session import get_spark  # noqa: E402

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bese-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/bese-warehouse"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), the number of Spark jobs fn ran),
    counted under a dedicated job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{id(fn)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

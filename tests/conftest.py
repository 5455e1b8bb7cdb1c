from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from d2d_spark.session import get_spark

    s = get_spark("d2d_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@contextmanager
def count_jobs(spark):
    """Run the ``with`` block in a job group of its own and yield a list
    that holds, once the block exits, the ids of the Spark jobs it
    started (from ``statusTracker().getJobIdsForGroup``)."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the tracker learns of a job from the listener bus, which runs
        # behind the action that started it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

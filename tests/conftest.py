import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lrmr_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lrmr-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """``jobs_in_group(group, action)`` runs ``action()`` under a fresh
    job group and returns its result and the ids of the Spark jobs it
    ran."""

    def run(group, action):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run

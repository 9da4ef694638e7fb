import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stglib_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("stglib-spark-tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)`` runs ``fn()`` under a fresh job group and
    returns its result and the number of Spark jobs it launched."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_launched_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

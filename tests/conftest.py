import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nasa_asteroid_data_lakehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def jobs_in_group(sc, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (result, job count)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="ndl-tests", master="local[8]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE

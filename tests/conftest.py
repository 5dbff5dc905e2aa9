import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tool_rep_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: runs a full streaming job or large fixture")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.driver.memory": "8g",
    })
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def group_jobs(spark):
    """``group_jobs(group, fn)`` -> (fn(), the number of jobs fn ran).
    fn runs under job group ``group``; a sentinel job run after it shows
    that the tracker, which the listener bus updates asynchronously but
    in event order, has seen every job fn started."""
    sc = spark.sparkContext

    def run(group, fn):
        try:
            sc.setJobGroup(group, group)
            out = fn()
            sc.setJobGroup(f"{group}-sentinel", "sentinel")
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        status = sc.statusTracker()
        deadline = time.time() + 10
        while not status.getJobIdsForGroup(f"{group}-sentinel") \
                and time.time() < deadline:
            time.sleep(0.05)
        return out, len(status.getJobIdsForGroup(group))
    return run

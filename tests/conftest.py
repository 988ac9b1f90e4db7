import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cocoindex_data_ingestion_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> (Spark jobs, distinct stages) that ``fn()``
    runs on this thread, counted by job group."""
    sc = spark.sparkContext

    def count(fn) -> tuple[int, int]:
        gid = f"jobs-{random.getrandbits(48):x}"
        sc.setJobGroup(gid, gid)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        return len(jobs), len({s for j in jobs for s in st.getJobInfo(j).stageIds})

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running matrix/probe test — EXCLUDED from the default run (pytest.ini addopts); run explicitly with -m slow"
    )

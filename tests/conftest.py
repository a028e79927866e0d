import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from openverse_catalog_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_of(spark):
    """Counter of the Spark jobs an action runs: ``jobs_of(action)``
    runs ``action()`` under its own job group and returns how many jobs
    that group started."""

    def count(action) -> int:
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the async
        # listener bus; drain it so the count is complete
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_processors_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # cores: SPARK_GRAFT_CPUS, else the host's CPU count (get_spark)
    s = get_spark("nps-tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_table_path(tmp_path):
    return str(tmp_path / "table")


@contextlib.contextmanager
def job_ids(spark, group):
    """The ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))

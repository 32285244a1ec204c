import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from airline_dataset_hadoop_public_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(group, action)`` runs ``action()`` under Spark job
    group ``group`` and returns its result and the number of Spark jobs
    it ran."""
    sc = spark.sparkContext

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

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

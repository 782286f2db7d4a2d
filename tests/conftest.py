import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from tdigest_spark.plans import get_spark

    # the suite runs thousands of stages in one session: keep them all in
    # the status store, so shuffle_totals deltas never straddle the
    # eviction of old stages (its documented precondition, as in bench.py)
    spark = get_spark(master="local[8]", app_name="tdigest_spark-tests",
                      shuffle_partitions=8,
                      extra_conf={"spark.ui.retainedStages": "100000"})
    yield spark
    spark.stop()

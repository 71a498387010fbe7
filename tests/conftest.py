import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lsh_qd_spark.config import RuntimeConfig
from lsh_qd_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="lsh_qd_spark_tests",
        master="local[4]",
        runtime=RuntimeConfig(shuffle_partitions=8),
    )
    yield s
    s.stop()


@pytest.fixture
def no_auto_broadcast(spark):
    """Size-based auto-broadcast off for one test, so only an explicit
    broadcast hint (a size gate's) can put a BroadcastExchange in a plan."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def sf_small():
    return os.path.join(TESTDATA, "sf0.001")

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from kiwi_spark.session import get_spark

    # one JVM serves the whole suite for tens of minutes: long enough for
    # HotSpot's C2 tier to pay back, so drop the one-shot C1-only default
    spark = get_spark(
        "kiwi-tests", master="local[4]", shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.driver.defaultJavaOptions": "",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running soak tests (deselect with -m 'not slow')"
    )

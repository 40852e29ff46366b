from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from harvesting_validator_spark.session import get_spark

    # session.py defaults the driver heap to 24g (sized for a 32-core
    # bench host). The whole suite peaks at ~5 GB JVM RSS with a 4g heap;
    # uncapped, the heap grew past 15 GB and the JVM was OOM-killed
    # mid-suite on a 15 GB, 4-core host
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(app_name="hvs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

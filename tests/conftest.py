from __future__ import annotations

import os

import pytest

from entity_extractor_spark.session import get_spark

# get_spark's 48g default suits a large host; the suite's data is small,
# and an unbounded heap grew this JVM to 13 GB of a 15 GB host (one run
# lost its JVM that way). A caller's own SPARK_DRIVER_MEMORY still wins.
TEST_DRIVER_MEMORY = "6g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", TEST_DRIVER_MEMORY)
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()

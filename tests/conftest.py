from __future__ import annotations

import os

import pytest

from kg.session import get_spark

# The whole suite shares one driver JVM.  get_spark's 48g default heap lets
# G1 grow the heap (and keep checkpointed blocks the ContextCleaner has not
# yet collected) until the host runs out of memory and the kernel kills the
# JVM mid-suite.  The test inputs are small; a 4g heap bounds the JVM's
# footprint and makes it collect.  An explicit KG_DRIVER_MEM still wins.
os.environ.setdefault("KG_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kg-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("KG_TEST_SF_DIR", "/root/testdata/sf0.001")

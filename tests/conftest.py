from __future__ import annotations

import os

import pytest

from kg.session import get_spark

# The whole suite shares one driver JVM.  A large heap (get_spark defaults
# to half the host's memory) lets G1 keep checkpointed blocks the
# ContextCleaner has not yet collected while Python workers and other
# processes need that memory too.  The test inputs are small; a 4g heap
# bounds the JVM's footprint and makes it collect.  An explicit
# KG_DRIVER_MEM still wins.
os.environ.setdefault("KG_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    # one task slot per CPU, 2 to 8: slots beyond the CPUs add Python
    # workers and contention (a 3-row ivf_pq_topk collect took 30-40 s at
    # local[8] on a 4-CPU host, 10-16 s at local[4])
    cores = min(8, max(2, len(os.sched_getaffinity(0))))
    s = get_spark("kg-tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("KG_TEST_SF_DIR", "/root/testdata/sf0.001")

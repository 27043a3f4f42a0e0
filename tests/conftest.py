import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connectors_spark.session import get_spark  # noqa: E402


def _default_driver_mem() -> str:
    """About half of physical memory, capped at 16g: the test JVM grows
    toward its heap over a full run, and a heap near the host's memory
    gets it OOM-killed part-way."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(16, int(gib // 2)))}g"


def pytest_configure(config):
    # session-wide, so Spark subprocesses the tests launch inherit it too
    os.environ.setdefault("SPARK_DRIVER_MEM", _default_driver_mem())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("connectors_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

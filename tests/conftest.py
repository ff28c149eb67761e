import os

import pytest

from sfa_spark.session import get_spark


def _heap_that_fits() -> str:
    """The engine's 16g driver default, or 60% of physical memory when
    that is smaller: local[N] runs the whole suite in one JVM, and a heap
    allowed to grow past the machine's memory gets the JVM OOM-killed
    mid-suite (every later test then fails on a dead gateway)."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(16 << 10, int(phys_mb * 0.6))}m"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _heap_that_fits())
    s = get_spark("sfa-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _drop_cache_after_heavy_fits(request):
    """Grid fits cache several tables; Python GC never unpersists them,
    so a session-scoped JVM accumulates blocks until the heap fills.
    Clear the cache after each golden/grid test."""
    yield
    if request.node.fspath.basename in ("test_goldens.py", "test_grid.py"):
        spark = request.getfixturevalue("spark") if "spark" in request.fixturenames else None
        if spark is not None:
            spark.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"

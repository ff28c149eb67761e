import pytest

from sfa_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
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

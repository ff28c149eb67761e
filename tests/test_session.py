import os
import re
from pathlib import Path

from sfa_spark.session import _default_driver_memory

ENGINE = Path(__file__).resolve().parents[1] / "sfa_spark"


def test_engine_reads_only_deployment_options():
    """The engine reads two environment options, both deployment
    settings (local core count, driver heap). A new option has to be a
    deliberate change to this set."""
    found = {
        m
        for p in ENGINE.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_0-9]+", p.read_text())
    }
    assert found == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def test_driver_memory_default_fits_the_machine(spark):
    """The session's heap is SPARK_GRAFT_DRIVER_MEM when set, else 16g
    or 60% of physical memory, whichever is smaller."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    default = _default_driver_memory()
    assert default.endswith("m")
    assert int(default[:-1]) <= min(16 << 10, phys_mb * 0.6)
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM", default)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want

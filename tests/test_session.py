"""Session defaults must fit the machine the engine starts on."""

import os

from ore_etl_spark.session import default_driver_memory


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert default_driver_memory() == "3g"


def test_driver_memory_default_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    total_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mib = int(default_driver_memory().removesuffix("m"))
    assert 1 << 10 <= mib <= max(1 << 10, total_mib // 4)

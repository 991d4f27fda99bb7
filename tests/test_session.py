"""Session defaults sized from the host."""

import os

from llm_rankers_spark.session import _default_driver_memory


def test_default_driver_memory_fits_physical_ram():
    mb = int(_default_driver_memory().rstrip("m"))
    half_phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    assert 0 < mb == min(32 * 1024, half_phys_mb)


def test_session_driver_memory_follows_env_or_default(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want

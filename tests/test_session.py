"""Session defaults sized from the host."""

import os

from llm_rankers_spark.session import _default_cpus, _default_driver_memory


def test_default_driver_memory_fits_physical_ram():
    mb = int(_default_driver_memory().rstrip("m"))
    half_phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    assert 0 < mb == min(32 * 1024, half_phys_mb)


def test_default_cpus_env_wins_else_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setenv("OMP_NUM_THREADS", "1")
    assert _default_cpus() == len(os.sched_getaffinity(0))


def test_session_driver_memory_follows_env_or_default(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_warm_up_failure_warns_and_returns_session(spark, monkeypatch):
    import pytest

    from llm_rankers_spark import session

    def no_temp_dir(*args, **kwargs):
        raise OSError("no temp dir")

    monkeypatch.delenv("LLMRS_WARM_SESSION", raising=False)
    monkeypatch.setattr(spark, "_llmrs_warmed", False)
    monkeypatch.setattr(session.tempfile, "mkdtemp", no_temp_dir)
    with pytest.warns(UserWarning, match=r"warm-up step 'parquet_writer' failed: OSError\('no temp dir'\)"):
        s = session.get_spark(app_name="llm_rankers_spark_tests", master="local[4]", shuffle_partitions=4)
    assert s is spark
    assert s.range(3).count() == 3

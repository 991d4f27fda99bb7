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


def test_master_cores_takes_first_bracket_field():
    from llm_rankers_spark.session import _master_cores

    assert _master_cores("local[4]", 7) == 4
    assert _master_cores("local[4,2]", 7) == 4  # N threads, 2 task retries
    assert _master_cores("local[*]", 7) == 7
    assert _master_cores("local[*,3]", 7) == 7
    assert _master_cores("local-cluster[2,1,1024]", 7) == 2
    assert _master_cores("local", 7) == 7
    assert _master_cores("spark://host:7077", 7) == 7


def test_worker_daemon_conf_only_for_local_masters():
    from llm_rankers_spark.session import _DAEMON_DIR, _worker_daemon_conf

    for master in ("local", "local[4]", "local[*,3]", "local-cluster[2,1,1024]"):
        assert _worker_daemon_conf(master) == {
            "spark.python.daemon.module": "llmrs_daemon",
            "spark.executorEnv.PYTHONPATH": _DAEMON_DIR,
        }
    for master in ("yarn", "spark://host:7077", "k8s://https://host:6443"):
        assert _worker_daemon_conf(master) == {}
    # no other module on the workers' path
    assert [f for f in os.listdir(_DAEMON_DIR) if f.endswith(".py")] == ["llmrs_daemon.py"]


# Run in a fresh interpreter, so the suite's own zip importers stay untouched.
_LAZY_ZIPIMPORT_PROBE = r'''
import importlib, json, os, sys, zipfile, zipimport
import llmrs_daemon

archive = sys.argv[1]

def write(value, pad=""):
    with zipfile.ZipFile(archive, "w") as z:  # truncates in place: same inode
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/mod.py", f"{pad}VALUE = {value!r}\n")

write(1)
sys.path.insert(0, archive)
import pkg.mod

reads = []
_read_directory = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or _read_directory(path)
llmrs_daemon.install()
out = {
    "patched": zipimport.zipimporter.invalidate_caches is llmrs_daemon._invalidate_if_changed,
    "importers": sum(isinstance(f, zipimport.zipimporter) and f.archive == archive
                     for f in sys.path_importer_cache.values()),
}
n = len(reads)
for _ in range(5):
    importlib.invalidate_caches()
out["unchanged_rereads"] = len(reads) - n

n = len(reads)
write(22, pad="# longer: a stale directory truncates the source\n")
importlib.invalidate_caches()
importlib.reload(pkg.mod)
out["new_size"] = [pkg.mod.VALUE, len(reads) - n]

n = len(reads)
before = os.stat(archive)
write(33, pad="# longer: a stale directory truncates the source\n")  # same size as the last write
st = os.stat(archive)
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
assert os.stat(archive).st_size == before.st_size
importlib.invalidate_caches()
importlib.reload(pkg.mod)
out["new_mtime"] = [pkg.mod.VALUE, len(reads) - n]
print(json.dumps(out))
'''


def _lazy_zipimport_probe(tmp_path) -> dict:
    import json
    import subprocess
    import sys

    from llm_rankers_spark.session import _DAEMON_DIR

    script = tmp_path / "probe.py"
    script.write_text(_LAZY_ZIPIMPORT_PROBE)
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "mods.zip")],
        capture_output=True, text=True, timeout=60, env=dict(os.environ, PYTHONPATH=_DAEMON_DIR),
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.splitlines()[-1])


def test_lazy_zipimport_keeps_an_unchanged_archive(tmp_path):
    import sys

    got = _lazy_zipimport_probe(tmp_path)
    assert got["patched"] == (sys.version_info < (3, 12))
    assert got["importers"] == 2  # the archive root and its package directory
    assert got["unchanged_rereads"] == 0


def test_lazy_zipimport_rereads_an_archive_rewritten_in_place(tmp_path):
    got = _lazy_zipimport_probe(tmp_path)
    assert got["new_size"][0] == 22 and got["new_size"][1] >= 1
    assert got["new_mtime"][0] == 33 and got["new_mtime"][1] >= 1


def test_python_workers_keep_unchanged_archives(spark):
    """The workers get_spark launches run llmrs_daemon's invalidation: an
    importlib.invalidate_caches() in a task, as every task's set-up runs,
    re-reads none of the unchanged archives the worker imports from."""
    import sys

    import pandas as pd
    from pyspark.sql import functions as F

    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import pyspark

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        name = zipimport.zipimporter.invalidate_caches.__name__
        return s.map(lambda _: f"{name} {len(reads)} {'.zip' in pyspark.__file__}")

    rows = spark.range(0, 4, 1, 4).select(F.pandas_udf(probe, "string")("id").alias("r")).collect()
    got = {r.r for r in rows}
    if sys.version_info < (3, 12):
        assert got == {"_invalidate_if_changed 0 True"}
    else:
        assert {g.split()[0] for g in got} == {"invalidate_caches"}

"""Pre-validates the driver correctness gate: every queries() entry runs,
and every oracle_sql() twin produces the same rows per DuckDB.

Comparison mirrors the driver: row count, column-name set, and
order-insensitive value equality (rows sorted after sorting columns by
name; floats compared to 1e-9 — both sides round in-query, so equality is
effectively exact)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def _canon(df):
    cols = sorted(df.columns)
    rows = [tuple(row[c] for c in cols) for _, row in df.iterrows()]

    def key(r):
        return tuple((x is None, str(type(x)), str(x)) for x in r)

    return cols, sorted(rows, key=key)


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        if fa == 0.0 and fb == 0.0:  # driver hashes values: -0.0 != 0.0
            return math.copysign(1.0, fa) == math.copysign(1.0, fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


ALL = sorted(entry_mod.queries().keys())
ORACLED = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_runs(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert df.columns  # stable schema


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_matches(spark, con, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    odf = con.sql(entry_mod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: schema mismatch"
    scols, srows = _canon(sdf)
    _ocols, orows = _canon(odf)
    mismatches = []
    for i, (sr, orow) in enumerate(zip(srows, orows)):
        if not all(_values_equal(x, y) for x, y in zip(sr, orow)):
            mismatches.append((i, sr, orow))
            if len(mismatches) >= 3:
                break
    assert not mismatches, f"{name}: value mismatches (cols={scols}): {mismatches}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.count()
    assert rows > 0
    assert set(df.columns) == {"qid", "docid", "rank", "score"}


def test_worker_env_hygiene_defaults(spark):
    """get_spark ships the python-worker env (allocator anti-churn, BLAS=1)
    both into this process's env (local mode: the JVM forks workers from
    it) and into spark.executorEnv.* for real clusters (see session.py and
    BENCH/HOST_CEILING_r05.md for the measurements behind each knob)."""
    import os as _os

    for key, expected in [
        ("OMP_NUM_THREADS", "1"),
        ("OPENBLAS_NUM_THREADS", "1"),
        ("MALLOC_MMAP_THRESHOLD_", "268435456"),
        ("ARROW_DEFAULT_MEMORY_POOL", "system"),
    ]:
        assert _os.environ.get(key), f"{key} missing from process env"
        assert spark.conf.get(f"spark.executorEnv.{key}") == _os.environ[key]
    # the node-local worker channel rides Unix domain sockets (Spark 4.1)
    if _os.environ.get("LLMRS_UDS", "1") != "0":
        assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
    # a local master's workers fork from llmrs_daemon (lazy zipimport
    # invalidation), found on the executor PYTHONPATH
    from llm_rankers_spark.session import _DAEMON_DIR

    assert spark.sparkContext.master.startswith("local")
    assert spark.conf.get("spark.python.daemon.module") == "llmrs_daemon"
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == _DAEMON_DIR

"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship end-to-end pipeline (index build → BM25 WAND →
setwise rerank) on sf0.001. ``queries``/``oracle_sql`` expose every
implemented operator from SURVEY.md §2 plus the training-pipeline extras;
pairs are registered in ``llm_rankers_spark/entry_queries.py`` where each
oracle SQL is DuckDB-validated by tests/test_entry.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 corpus → packed index → BM25 WAND top-20 →
    setwise-heapsort rerank (deterministic mock comparator) → final run."""
    from pyspark.sql import functions as F

    from llm_rankers_spark.corpus import driver_documents
    from llm_rankers_spark.entry_queries import _entry_index, _queries_df
    from llm_rankers_spark.operators.bm25 import search
    from llm_rankers_spark.operators.rerank import MockComparator, rerank
    from llm_rankers_spark.operators.runs import attach_text
    from llm_rankers_spark.session import _ship_package

    _ship_package(spark)
    sf_dir = "/root/testdata/sf0.001"
    docs = driver_documents(spark, sf_dir)
    idx = _entry_index(spark, sf_dir)
    qs = _queries_df(spark)
    first_stage = search(idx, qs, k=20)
    cands = attach_text(first_stage, docs).join(qs, "qid").select("qid", "query", "docid", "rank", "text")
    out = rerank(cands, method="setwise.heapsort", comparator=MockComparator(), k=10, num_child=2)
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from llm_rankers_spark.entry_queries import REGISTRY
    from llm_rankers_spark.session import _ship_package

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from llm_rankers_spark.entry_queries import REGISTRY

    # a callable sql slot is resolved here (lazy oracles that must read the
    # testdata — e.g. the kmeans-centroid training — stay out of import time)
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_fn, sql) in REGISTRY.items()
        if sql is not None
    }

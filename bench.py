#!/usr/bin/env python
"""Benchmark harness.

Runs the headline workload on local[$SPARK_GRAFT_CPUS] (default: the
cores this process may use) over $SPARK_GRAFT_SF_DIR and prints ONE JSON
line (driver contract).

Workload (all through the real engine paths):
  build        index build over the documents table (docs/sec)
  bm25_wand    64-query batch, block-max WAND top-10 (queries/sec)
  bm25_sql     same batch through the declarative DataFrame plan, reusing
               the index's forward table (no corpus re-tokenization)
  rerank_prep  first-stage search + doc-text attach for the rerank batch
  rerank       setwise-heapsort rerank of 20 candidates x all queries
               (the loop itself — prep used to hide inside this number)
  minhash      MinHash signatures + LSH candidate pairs over documents —
               run twice: the cold pass (one-time plan compile) is
               reported as minhash_cold_sec, the warm pass joins the sum
  cosine       exact cosine top-10, 32 query vectors over embeddings

The headline runs each full pass in a fresh subprocess (best-of-N per
segment, N=$LLMRS_BENCH_PASSES default 2) and records every raw pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small", "merge",
    "slow", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "spark", "group", "part", "big", "sort", "query", "fast", "the", "dup",
]


def bench_queries(spark, n=64):
    rows = []
    for i in range(n):
        terms = [VOCAB[(i * 3 + j) % len(VOCAB)] for j in range(1 + i % 4)]
        rows.append((f"b{i}", " ".join(terms)))
    return spark.createDataFrame(rows, "qid string, query string")


def run_workload(master: str, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from llm_rankers_spark.corpus import driver_documents
    from llm_rankers_spark.operators.bm25 import bm25_dataframe_from_index, search
    from llm_rankers_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.operators.rerank import MockComparator, rerank
    from llm_rankers_spark.operators.runs import attach_text
    from llm_rankers_spark.operators.similarity import cosine_topk
    from llm_rankers_spark.session import get_spark

    spark = get_spark(app_name=f"bench_{master}", master=master)
    try:
        docs = driver_documents(spark, sf_dir)
        n_docs = docs.count()
        qs = bench_queries(spark)
        n_queries = qs.count()
        times: dict[str, float] = {"n_docs": float(n_docs), "n_queries": float(n_queries)}

        idx_path = tempfile.mkdtemp(prefix="llmrs_bench_idx_")
        t0 = time.perf_counter()
        idx = build_index(
            docs.select("docid", "content", "content_sha256"),
            idx_path,
            tokenizer_mode="simple",
            num_shards=16,
            keep_forward=True,
        )
        times["build"] = time.perf_counter() - t0

        # ONE first-stage search, reused by the rerank stage below (round-4
        # verdict #6: the r4 bench re-searched inside rerank_prep, double-
        # counting ~3.5 s of first-stage work the real pipeline pays once).
        # k=20 because that IS the pipeline's hits budget for the reranker.
        t0 = time.perf_counter()
        first = search(idx, qs, k=20).persist()
        first.count()
        times["bm25_wand"] = time.perf_counter() - t0

        # declarative plan over the index's retained forward table —
        # the tokenizer pass was paid once at build (r2 verdict #5)
        t0 = time.perf_counter()
        bm25_dataframe_from_index(idx, qs, k=10).count()
        times["bm25_sql"] = time.perf_counter() - t0

        # rerank_prep = candidate assembly only (text attach + query
        # join) over the retained first-stage run
        t0 = time.perf_counter()
        cands = (
            attach_text(first, docs).join(qs, "qid")
            .select("qid", "query", "docid", "rank", "text").persist()
        )
        cands.count()
        times["rerank_prep"] = time.perf_counter() - t0
        first.unpersist()

        t0 = time.perf_counter()
        rerank(cands, method="setwise.heapsort", comparator=MockComparator(), k=10, num_child=2).count()
        times["rerank"] = time.perf_counter() - t0
        cands.unpersist()

        # minhash cold/warm split (round-3 verdict #2): the first call
        # pays one-time plan compile + codegen for the 32-min-agg plan;
        # the steady-state number a long-lived pipeline sees is the warm
        # one. Both are recorded; only `minhash` (warm) joins the
        # headline sum, `_extra_minhash_cold` rides alongside.
        for key in ("_extra_minhash_cold", "minhash"):
            t0 = time.perf_counter()
            sigs = minhash_signatures(docs, id_col="docid", num_hashes=32, shingle_k=3)
            minhash_lsh_candidates(sigs, num_hashes=32, bands=16).count()
            times[key] = time.perf_counter() - t0

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
        )
        qv = emb.limit(32).select(
            F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"),
            F.col("embedding").alias("qvec"),
        )
        t0 = time.perf_counter()
        cosine_topk(emb, qv, k=10).count()
        times["cosine"] = time.perf_counter() - t0

        # extra (not in the summed headline, reported separately): the
        # fully-distributed batch plan at 4096 queries — no
        # queries.collect(), query weights cogrouped with shard postings
        big_qs = bench_queries(spark, n=4096)
        t0 = time.perf_counter()
        search(idx, big_qs, k=10, plan="distributed").count()
        times["_extra_bm25_dist4096"] = time.perf_counter() - t0

        shutil.rmtree(idx_path, ignore_errors=True)
        return times
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--headline-worker", action="store_true", help="internal: one raw headline pass in this process")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    if args.headline_worker:
        from llm_rankers_spark.session import _default_cpus

        print(json.dumps(run_workload(f"local[{_default_cpus()}]", args.sf_dir)))
        return

    # Headline protocol (round-3 verdict #9): each pass runs in a FRESH
    # subprocess (its own JVM / python workers / GC state), best-of-N per
    # segment, and every raw pass is recorded in the output so regressions
    # are judged on raws, not on one draw from a ±15% box distribution.
    import subprocess

    n_passes = int(os.environ.get("LLMRS_BENCH_PASSES", "2"))
    raws: list[dict[str, float]] = []
    for _ in range(n_passes):
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--headline-worker", "--sf-dir", args.sf_dir],
            capture_output=True, text=True, check=True,
        )
        raws.append(json.loads(res.stdout.strip().splitlines()[-1]))

    times = {
        k: min(r[k] for r in raws) if k not in ("n_docs", "n_queries") else raws[0][k]
        for k in raws[0]
    }
    n_docs = times.pop("n_docs")
    n_queries = times.pop("n_queries")
    extras = {k[7:]: times.pop(k) for k in [k for k in times if k.startswith("_extra_")]}
    total = sum(times.values())
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "e2e_headline_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in times.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "docs_per_sec_build": round(n_docs / times["build"], 1),
        "queries_per_sec_bm25": round(n_queries / times["bm25_wand"], 1),
        "passes": n_passes,
        "raw_runs": [
            {k: round(v, 3) for k, v in r.items() if k not in ("n_docs", "n_queries")} for r in raws
        ],
    }
    if "bm25_dist4096" in extras:
        out["queries_per_sec_dist4096"] = round(4096 / extras["bm25_dist4096"], 1)
        out["bm25_dist4096_sec"] = round(extras["bm25_dist4096"], 3)
    if "minhash_cold" in extras:
        out["minhash_cold_sec"] = round(extras["minhash_cold"], 3)
    out["protocol_notes"] = (
        "r5 protocol change vs r4: bm25_wand is the pipeline's single "
        "first-stage search at k=20 and rerank_prep REUSES that run "
        "(candidate assembly only) — r4 re-searched inside rerank_prep, "
        "double-counting ~3.5s of first-stage work the pipeline pays once"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Block-max WAND skip-rate measurements, the one harness that counts
intervals skipped (``bm25.WAND_STATS``). Each mode prints one JSON line:

  python bench_extra.py wand-skip        drives the shard scorer in-process
                                         over the sf0.1 (and sf1 when
                                         generated by BENCH/gen_sf1.py)
                                         postings with the bench query batch
                                         and reports intervals scored vs
                                         total + blocks decoded.
  python bench_extra.py wand-skip-big [N]  the same over an N-doc synthetic
                                         code corpus (default 10^6), for a
                                         hot-term batch and a hot+rare batch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("LLMRS_SF1_DIR", "/tmp/llmrs_sf1")


def wand_skip() -> None:
    from collections import Counter

    from bench import VOCAB
    from llm_rankers_spark.corpus import driver_documents
    from llm_rankers_spark.operators import bm25 as B
    from llm_rankers_spark.functions.tokenize import tokenize
    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.session import get_spark

    spark = get_spark(app_name="bench_extra_wand_skip")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    tiers = [("sf0.1", SF_DIR)]
    if os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        tiers.append(("sf1", SF1_DIR))
    for tier, sf_dir in tiers:
        docs = driver_documents(spark, sf_dir)
        p = tempfile.mkdtemp(prefix=f"llmrs_bx_skip_{tier}_")
        idx = build_index(
            docs.select("docid", "content", "content_sha256"), p,
            tokenizer_mode="simple", num_shards=16, keep_forward=False,
        )
        pdf_all = idx.postings.toPandas()
        meta = idx.meta
        qplan = {}
        for i in range(64):
            terms = [VOCAB[(i * 3 + j) % len(VOCAB)] for j in range(1 + i % 4)]
            c = Counter(t for term in terms for t in tokenize(term, "simple"))
            qplan[f"b{i}"] = [(t, float(w)) for t, w in c.items()]
        B.reset_wand_stats()
        t0 = time.perf_counter()
        for _sid, spdf in pdf_all.groupby("shard"):
            # a zero cutover forces the block-max interval path for every
            # query (the default sends short candidate sets to the
            # exhaustive kernel, which never skips by design)
            B._score_shard(spdf, qplan, 10, 0, meta.k1, meta.b, meta.avgdl, 1.0,
                           n_docs=float(meta.n_docs))
        wall = time.perf_counter() - t0
        s = B.wand_stats()
        s["skip_fraction"] = round(
            1.0 - s["intervals_scored"] / max(s["intervals_total"], 1), 4
        )
        s["serial_wall_sec"] = round(wall, 3)
        results[tier] = s
        shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"mode": "wand_skip", "tiers": results}))
    spark.stop()


def code_corpus(spark, n_docs: int):
    """The ``n_docs``-doc synthetic code corpus (seed 42), written to parquet
    once per size in the temp dir so builds time indexing, not generation.
    ``wand-skip-big`` and ``BENCH/scale_proof.py`` share it."""
    from llm_rankers_spark.corpus import generate_corpus, with_docid

    corpus_dir = os.path.join(tempfile.gettempdir(), f"llmrs_code_corpus_{n_docs}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        with_docid(generate_corpus(spark, n_docs, seed=42, partitions=128)).select(
            "docid", "content", "content_sha256"
        ).write.mode("overwrite").parquet(corpus_dir)
    return spark.read.parquet(corpus_dir)


def wand_skip_big(n_docs: int = 1_000_000) -> None:
    """Skip rates on the 10^6-doc synthetic CODE corpus (round-5 verdict #2:
    sf-small tiers are all-hot by construction and prune little — the code
    corpus mixes df≈N keywords with rare identifiers, the regime block-max
    pruning exists for). Postings are pruned to the 256-query batch's terms
    before the driver collect, exactly the rows a traversal reads."""
    from collections import Counter

    from llm_rankers_spark.functions.tokenize import tokenize
    from llm_rankers_spark.operators import bm25 as B
    from llm_rankers_spark.operators.index_build import build_index, load_index
    from llm_rankers_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench_extra_wand_skip_big")
    spark.sparkContext.setLogLevel("ERROR")
    idx_dir = os.path.join(tempfile.gettempdir(), f"llmrs_bx_bigidx_{n_docs}")
    t_build = None
    if not os.path.exists(os.path.join(idx_dir, "_index_meta.json")):
        t0 = time.perf_counter()
        build_index(code_corpus(spark, n_docs), idx_dir, tokenizer_mode="code", num_shards=32)
        t_build = round(time.perf_counter() - t0, 1)
    idx = load_index(spark, idx_dir)
    pool = ["parse", "query", "import", "def", "return", "self", "request", "handler",
            "stream", "batch", "merge", "index", "block", "shard", "posting", "helper"]
    batches = {}
    # hot batch: the scaling harness's pool (df ≈ corpus size terms)
    qplan_hot = {}
    for i in range(256):
        terms = [pool[(i * 5 + j) % len(pool)] for j in range(1 + i % 4)]
        c = Counter(t for term in terms for t in tokenize(term, "code"))
        qplan_hot[f"s{i}"] = [(t, float(w)) for t, w in c.items()]
    batches["hot_pool"] = qplan_hot
    # hot+rare batch (FIXTURES §2 mix): a hot keyword + a rare identifier
    # sub-token (the helper_fn_<i> numeric suffix: df ≈ n_docs/500) — the
    # regime block-max pruning exists for
    qplan_hr = {}
    for i in range(256):
        hot = pool[i % 4]
        c = Counter(t for term in (hot, f"helper_fn_{(i * 7) % 500}") for t in tokenize(term, "code"))
        qplan_hr[f"r{i}"] = [(t, float(w)) for t, w in c.items()]
    batches["hot_plus_rare"] = qplan_hr
    meta = idx.meta
    out = {"mode": "wand_skip_big", "n_docs": n_docs, "batches": {}}
    if t_build is not None:
        out["build_sec"] = t_build
    for name, qplan in batches.items():
        batch_terms = sorted({t for tws in qplan.values() for t, _ in tws})
        pdf_all = idx.postings_for(batch_terms).filter(F.col("term").isin(batch_terms)).toPandas()
        B.reset_wand_stats()
        t0 = time.perf_counter()
        for _sid, spdf in pdf_all.groupby("shard"):
            B._score_shard(spdf, qplan, 10, 0, meta.k1, meta.b, meta.avgdl, 1.0,
                           n_docs=float(meta.n_docs))
        wall = time.perf_counter() - t0
        s = B.wand_stats()
        s["skip_fraction"] = round(1.0 - s["intervals_scored"] / max(s["intervals_total"], 1), 4)
        s["serial_wall_sec"] = round(wall, 3)
        s["posting_rows_collected"] = len(pdf_all)
        out["batches"][name] = s
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "wand-skip":
        wand_skip()
    elif mode == "wand-skip-big":
        wand_skip_big(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Round-6 auxiliary benchmarks. bench.py is FROZEN for measurement (the
driver times the round-start copy), so every extra measurement lives here
and is cited from OPTIMIZATION_r06.md.

Modes (each prints one JSON line):

  python bench_extra.py stages      noop-sink isolated per-stage walls
                                    (guide §1.4) for the headline stages,
                                    min-of-N in one warm session — computation
                                    time without the count()/persist sink.
  python bench_extra.py wand-skip   block-max pruning rates: drives the
                                    shard scorer in-process over the real
                                    sf0.1 (and sf1 when generated) postings
                                    with the bench query batch and reports
                                    intervals scored vs total + blocks
                                    decoded (WAND_STATS instrumentation).
  python bench_extra.py sf1         the frozen bench.py headline protocol on
                                    the 10x sf1 tables (BENCH/gen_sf1.py) —
                                    the tracked sf1 tier (round-5 verdict #3).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("LLMRS_SF1_DIR", "/tmp/llmrs_sf1")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stages(n_reps: int = 3) -> None:
    from pyspark.sql import functions as F

    from bench import bench_queries
    from llm_rankers_spark.corpus import driver_documents
    from llm_rankers_spark.operators.bm25 import bm25_dataframe_from_index, search
    from llm_rankers_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.operators.rerank import MockComparator, rerank
    from llm_rankers_spark.operators.runs import attach_text
    from llm_rankers_spark.operators.similarity import cosine_topk
    from llm_rankers_spark.session import get_spark

    spark = get_spark(app_name="bench_extra_stages")
    spark.sparkContext.setLogLevel("ERROR")
    docs = driver_documents(spark, SF_DIR)
    docs.count()
    qs = bench_queries(spark)
    idx_path = tempfile.mkdtemp(prefix="llmrs_bx_idx_")
    walls: dict[str, list[float]] = {}

    def timed(label: str, fn) -> None:
        spark.sparkContext.setJobDescription(f"bench_extra: {label}")
        for _ in range(n_reps):
            t0 = time.perf_counter()
            fn()
            walls.setdefault(label, []).append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)

    # build cannot use a noop sink (it IS a write); timed end-to-end
    def one_build():
        d = tempfile.mkdtemp(prefix="llmrs_bx_b_", dir=idx_path)
        build_index(
            docs.select("docid", "content", "content_sha256"), d,
            tokenizer_mode="simple", num_shards=16, keep_forward=True,
        )
        return d

    t0 = time.perf_counter()
    first_dir = one_build()
    walls["build_first_in_session"] = [time.perf_counter() - t0]
    timed("build", one_build)
    from llm_rankers_spark.operators.index_build import load_index

    idx = load_index(spark, first_dir)
    timed("bm25_wand", lambda: _noop(search(idx, qs, k=20)))
    timed("bm25_sql", lambda: _noop(bm25_dataframe_from_index(idx, qs, k=10)))
    first = search(idx, qs, k=20).persist()
    first.count()
    cands = (
        attach_text(first, docs).join(qs, "qid")
        .select("qid", "query", "docid", "rank", "text")
    )
    timed("rerank_prep", lambda: _noop(cands))
    cands_p = cands.persist()
    cands_p.count()
    timed("rerank", lambda: _noop(
        rerank(cands_p, method="setwise.heapsort", comparator=MockComparator(), k=10, num_child=2)
    ))
    timed("minhash", lambda: _noop(
        minhash_lsh_candidates(
            minhash_signatures(docs, id_col="docid", num_hashes=32, shingle_k=3),
            num_hashes=32, bands=16,
        )
    ))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    qv = emb.limit(32).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"),
        F.col("embedding").alias("qvec"),
    )
    timed("cosine", lambda: _noop(cosine_topk(emb, qv, k=10)))
    big_qs = bench_queries(spark, n=4096)
    timed("bm25_dist4096", lambda: _noop(search(idx, big_qs, k=10, plan="distributed")))
    shutil.rmtree(idx_path, ignore_errors=True)
    out = {
        "mode": "stages_noop",
        "sf_dir": SF_DIR,
        "reps": n_reps,
        "min": {k: round(min(v), 3) for k, v in walls.items()},
        "raw": {k: [round(x, 3) for x in v] for k, v in walls.items()},
    }
    print(json.dumps(out))
    spark.stop()


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


def wand_skip_big(n_docs: int = 1_000_000) -> None:
    """Skip rates on the 10^6-doc synthetic CODE corpus (round-5 verdict #2:
    sf-small tiers are all-hot by construction and prune little — the code
    corpus mixes df≈N keywords with rare identifiers, the regime block-max
    pruning exists for). Postings are pruned to the 256-query batch's terms
    before the driver collect, exactly the rows a traversal reads."""
    from collections import Counter

    from llm_rankers_spark.corpus import generate_corpus, with_docid
    from llm_rankers_spark.functions.tokenize import tokenize
    from llm_rankers_spark.operators import bm25 as B
    from llm_rankers_spark.operators.index_build import build_index, load_index
    from llm_rankers_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench_extra_wand_skip_big")
    spark.sparkContext.setLogLevel("ERROR")
    corpus_dir = os.path.join(tempfile.gettempdir(), f"llmrs_bx_corpus_{n_docs}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        # materialize the synthetic INPUT once (same pattern as bench.py's
        # emulation input) so the build times indexing, not generation
        with_docid(generate_corpus(spark, n_docs, seed=42, partitions=max(64, n_docs // 2000))).select(
            "docid", "content", "content_sha256"
        ).write.mode("overwrite").parquet(corpus_dir)
    idx_dir = os.path.join(tempfile.gettempdir(), f"llmrs_bx_bigidx_{n_docs}")
    t_build = None
    if not os.path.exists(os.path.join(idx_dir, "_index_meta.json")):
        t0 = time.perf_counter()
        build_index(spark.read.parquet(corpus_dir), idx_dir, tokenizer_mode="code", num_shards=32)
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


def sf1() -> None:
    if not os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "BENCH", "gen_sf1.py"), SF1_DIR], check=True
        )
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF1_DIR, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, check=True,
    )
    parsed = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps({"mode": "sf1_headline", "sf1_dir": SF1_DIR, "result": parsed}))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "stages"
    if mode == "stages":
        stages()
    elif mode == "wand-skip":
        wand_skip()
    elif mode == "wand-skip-big":
        wand_skip_big(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    elif mode == "sf1":
        sf1()
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()

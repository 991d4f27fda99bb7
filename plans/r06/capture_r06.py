"""Capture .explain("formatted") for every bench-path query the round-6
optimization touched, as plans/r06/<query>_{before,after}.txt.

Usage:
    python plans/r06/capture_r06.py --repo /root/repo --suffix after
    python plans/r06/capture_r06.py --repo <r5-worktree> --suffix before

The script itself lives in the round-6 tree; --repo selects which engine
version is imported (the round-5 worktree for the *_before captures), and
the output always lands in THIS directory, so the judge can diff the pair.
Queries are the bench shapes at sf0.01 (64-query batch, 16 shards).
"""

import argparse
import os
import sys
import tempfile

OUT_DIR = os.path.dirname(os.path.abspath(__file__))


def explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default="/root/repo")
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    from llm_rankers_spark.corpus import driver_documents
    from llm_rankers_spark.operators.bm25 import bm25_dataframe_from_index, search
    from llm_rankers_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.operators.similarity import cosine_topk
    from llm_rankers_spark.session import get_spark

    from pyspark.sql import functions as F

    spark = get_spark(app_name=f"capture_r06_{args.suffix}", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    docs = driver_documents(spark, sf_dir)

    # bench-shaped 64-query batch (bench.py bench_queries)
    vocab = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
             "merge", "slow", "order", "vector", "line", "table", "data", "agg", "value", "key",
             "stream", "window", "spark", "group", "part", "big", "sort", "query", "fast", "the", "dup"]
    qrows = []
    for i in range(64):
        terms = [vocab[(i * 3 + j) % len(vocab)] for j in range(1 + i % 4)]
        qrows.append((f"b{i}", " ".join(terms)))
    qs = spark.createDataFrame(qrows, "qid string, query string")

    idx_dir = tempfile.mkdtemp(prefix="cap_r06_idx_")
    idx = build_index(
        docs.select("docid", "content", "content_sha256"), idx_dir,
        tokenizer_mode="simple", num_shards=16, keep_forward=True,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    qv = emb.limit(32).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"),
        F.col("embedding").alias("qvec"),
    )

    captures = {
        "bm25_wand": search(idx, qs, k=20),
        "bm25_sql": bm25_dataframe_from_index(idx, qs, k=10),
        "bm25_dist": search(idx, qs, k=10, plan="distributed"),
        "minhash_lsh": minhash_lsh_candidates(
            minhash_signatures(docs, id_col="docid", num_hashes=32, shingle_k=3),
            num_hashes=32, bands=16,
        ),
        "cosine": cosine_topk(emb, qv, k=10),
    }
    for name, df in captures.items():
        path = os.path.join(OUT_DIR, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(explain_formatted(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()

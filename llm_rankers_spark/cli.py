"""CLI entry point — the analogue of the reference's ``run.py`` driver
(run.py:20-38 subcommand parser dispatching ranker configs, :54-133).

Subcommands:

- ``index``  : build the inverted index from a parquet corpus.
- ``search`` : BM25 top-k over a built index → TREC run.
- ``run``    : the full pipeline (index → search → rerank → TREC → eval),
  i.e. the reference's write_pyserini_* → index → search → run_setwise →
  eval chain as one resumable job (plans/pipeline.py).

Launch locally (``python -m llm_rankers_spark run …``) or on a cluster via
``spark-submit --py-files llm_rankers_spark.zip -m …`` — get_spark also
ships the package itself (session.py).

Input tables are parquet. The corpus needs (docid, content); the driver
testdata shape (doc_id, text, …) is adapted automatically. Queries need
(qid, query); qrels (qid, docid, rel).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RERANK_METHODS = (
    "setwise.heapsort", "setwise.bubblesort",
    "pairwise.allpair", "pairwise.heapsort", "pairwise.bubblesort",
    "listwise.sliding",
    "pointwise.yes_no", "pointwise.qlm", "pointwise.monot5",
)


def _load_corpus(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    if "docid" not in df.columns and "doc_id" in df.columns:
        # driver testdata shape: zero-padded docid keeps lexicographic order
        # == numeric order (corpus.py contract)
        df = df.withColumn("docid", F.lpad(F.col("doc_id").cast("string"), 10, "0"))
    if "content" not in df.columns and "text" in df.columns:
        df = df.withColumn("content", F.col("text"))
    missing = {"docid", "content"} - set(df.columns)
    if missing:
        raise SystemExit(f"corpus parquet lacks columns {sorted(missing)} (have {df.columns})")
    if "content_sha256" not in df.columns:
        df = df.withColumn("content_sha256", F.sha2("content", 256))
    return df.select("docid", "content", "content_sha256")


def _load_queries(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    missing = {"qid", "query"} - set(df.columns)
    if missing:
        raise SystemExit(f"queries parquet lacks columns {sorted(missing)} (have {df.columns})")
    return df.select("qid", "query")


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS], else the usable cores)")
    p.add_argument("--tokenizer-mode", default="code", choices=["code", "simple"])
    p.add_argument("--num-shards", type=int, default=8)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="llm_rankers_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_idx = sub.add_parser("index", help="build the inverted index")
    p_idx.add_argument("--docs", required=True)
    p_idx.add_argument("--out", required=True)
    p_idx.add_argument("--resume", action="store_true")
    p_idx.add_argument("--num-buckets", type=int, default=None,
                       help="term-hash buckets the postings are hive-partitioned "
                            "by (pruning granularity; default: sized from the "
                            "postings-row count, at most 64)")
    p_idx.add_argument("--pack-group", choices=["auto", "bucket", "shard_bucket"], default="auto",
                       help="pack-task grouping: 'auto' (default) picks by the "
                            "measured rows-per-bucket cutover; 'bucket' counts df "
                            "in-task (fewest jobs, small corpora); 'shard_bucket' "
                            "bounds task memory under scale/hot-term skew")
    _add_common(p_idx)

    p_s = sub.add_parser(
        "search",
        help="BM25 top-k over a built index; each query is scored by the "
             "numpy-exhaustive or the block-max kernel, picked from its "
             "candidate-posting count",
    )
    p_s.add_argument("--index", required=True)
    p_s.add_argument("--queries", required=True)
    p_s.add_argument("--out", required=True, help="TREC run output dir")
    p_s.add_argument("--hits", type=int, default=100)
    p_s.add_argument("--plan", default="auto", choices=["auto", "driver", "distributed"],
                     help="physical query plan; 'auto' (default) probes the batch "
                          "size and picks driver-planned vs fully-distributed — "
                          "the explicit values are overrides")
    p_s.add_argument("--single-file", action="store_true")
    _add_common(p_s)

    p_r = sub.add_parser("run", help="full pipeline: index, search, rerank, eval")
    p_r.add_argument("--docs", required=True)
    p_r.add_argument("--queries", required=True)
    p_r.add_argument("--qrels", default=None)
    p_r.add_argument("--excluded", default=None, help="parquet of (qid, docid) to drop (F4)")
    p_r.add_argument("--work-dir", required=True)
    p_r.add_argument("--method", default="setwise.heapsort", choices=RERANK_METHODS,
                     help="rerank method (reference run.py:54-133 configs)")
    p_r.add_argument("--hits", type=int, default=100)
    p_r.add_argument("--k", type=int, default=10)
    p_r.add_argument("--query-length", type=int, default=128,
                     help="query token clamp (run.py:220, default 128)")
    p_r.add_argument("--passage-length", type=int, default=128,
                     help="passage token clamp (run.py:221, default 128)")
    p_r.add_argument("--shuffle", default=None, choices=["random", "inverse"],
                     help="pre-rerank candidate permutation (run.py:185-191)")
    p_r.add_argument("--no-resume", action="store_true")
    _add_common(p_r)

    p_c = sub.add_parser("compact", help="fold streaming index segments into one (the Lucene merge)")
    p_c.add_argument("--root", required=True, help="segment root (start_index_stream output)")
    p_c.add_argument("--name", default="segment_compacted")
    _add_common(p_c)

    p_f = sub.add_parser("fuse", help="weighted min-max fusion of N TREC runs (hybrid.py:54-80)")
    p_f.add_argument("--runs", required=True, nargs="+", help="TREC run files/dirs to fuse")
    p_f.add_argument("--weights", type=float, nargs="+", default=None,
                     help="one weight per run (default: equal weights)")
    p_f.add_argument("--out", required=True, help="fused TREC run output dir")
    p_f.add_argument("--tag", default="fused")
    p_f.add_argument("--single-file", action="store_true")
    _add_common(p_f)

    p_p = sub.add_parser("prep", help="corpus prep: quality -> exact dedup -> near-dup clusters")
    p_p.add_argument("--docs", required=True)
    p_p.add_argument("--work-dir", required=True, help="stage outputs; clean corpus at <work-dir>/clean")
    p_p.add_argument("--min-words", type=int, default=5)
    p_p.add_argument("--max-words", type=int, default=200_000)
    p_p.add_argument("--min-alpha-ratio", type=float, default=0.5)
    p_p.add_argument("--minhash-hashes", type=int, default=32)
    p_p.add_argument("--minhash-bands", type=int, default=16)
    p_p.add_argument("--shingle-k", type=int, default=3)
    p_p.add_argument("--benchmark", default=None,
                     help="parquet of eval items (bench_id, text); adds a "
                          "decontamination stage dropping docs whose shingle "
                          "overlap with any item reaches the threshold")
    p_p.add_argument("--contamination-shingle-k", type=int, default=8)
    p_p.add_argument("--contamination-threshold", type=float, default=0.8)
    p_p.add_argument("--no-resume", action="store_true")
    _add_common(p_p)

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from llm_rankers_spark import get_spark

    spark = get_spark(master=args.master)

    if args.cmd == "index":
        from llm_rankers_spark.operators.index_build import build_index

        idx = build_index(
            _load_corpus(spark, args.docs), args.out,
            tokenizer_mode=args.tokenizer_mode, num_shards=args.num_shards, resume=args.resume,
            pack_group=args.pack_group,
            num_buckets=args.num_buckets,
        )
        print(json.dumps({
            "n_docs": idx.meta.n_docs, "avgdl": idx.meta.avgdl, "path": args.out,
            "num_buckets": idx.meta.num_buckets,
        }))
        return 0

    if args.cmd == "search":
        from llm_rankers_spark.operators.bm25 import search
        from llm_rankers_spark.operators.index_build import load_index
        from llm_rankers_spark.operators.runs import write_trec_run

        idx = load_index(spark, args.index)
        run = search(idx, _load_queries(spark, args.queries), k=args.hits, plan=args.plan)
        write_trec_run(run, args.out, single_file=args.single_file)
        print(json.dumps({"trec_path": args.out}))
        return 0

    if args.cmd == "run":
        from llm_rankers_spark.plans.pipeline import run_pipeline

        qrels = spark.read.parquet(args.qrels) if args.qrels else None
        excluded = spark.read.parquet(args.excluded) if args.excluded else None
        out = run_pipeline(
            spark,
            _load_corpus(spark, args.docs),
            _load_queries(spark, args.queries),
            args.work_dir,
            qrels=qrels,
            excluded=excluded,
            hits=args.hits,
            rerank_k=args.k,
            rerank_method=args.method,
            tokenizer_mode=args.tokenizer_mode,
            num_shards=args.num_shards,
            resume=not args.no_resume,
            query_length=args.query_length,
            passage_length=args.passage_length,
            shuffle=args.shuffle,
        )
        print(json.dumps({"trec_path": out["trec_path"], "metrics": out["metrics"]}))
        return 0

    if args.cmd == "compact":
        from llm_rankers_spark.streaming.index_stream import compact_segments, list_segments

        before = list_segments(args.root)
        if not before:
            # a bad --root must not exit 0 with a plausible-looking JSON
            # (round-5 review finding): no manifest means nothing to compact
            print(json.dumps({"error": f"no segment manifest under {args.root}"}))
            return 2
        compact_segments(spark, args.root, num_shards=args.num_shards, name=args.name)
        after = list_segments(args.root)
        print(json.dumps({
            "segments": after,
            "compacted": len(before) > 1,
            "n_before": len(before),
        }))
        return 0

    if args.cmd == "fuse":
        from llm_rankers_spark.operators.runs import fuse_runs_many, read_trec_run, write_trec_run

        weights = args.weights if args.weights is not None else [1.0] * len(args.runs)
        if len(weights) != len(args.runs):
            print(json.dumps({"error": "need one weight per run"}))
            return 2
        runs = [read_trec_run(spark, p) for p in args.runs]
        fused = fuse_runs_many(runs, weights)
        write_trec_run(fused, args.out, tag=args.tag, single_file=args.single_file)
        print(json.dumps({"trec_path": args.out, "n_runs": len(runs), "weights": weights}))
        return 0

    if args.cmd == "prep":
        from llm_rankers_spark.plans.prep import run_prep_pipeline

        counts = run_prep_pipeline(
            spark,
            _load_corpus(spark, args.docs),
            args.work_dir,
            min_words=args.min_words,
            max_words=args.max_words,
            min_alpha_ratio=args.min_alpha_ratio,
            minhash_hashes=args.minhash_hashes,
            minhash_bands=args.minhash_bands,
            shingle_k=args.shingle_k,
            benchmark=spark.read.parquet(args.benchmark) if args.benchmark else None,
            contamination_shingle_k=args.contamination_shingle_k,
            contamination_threshold=args.contamination_threshold,
            resume=not args.no_resume,
        )
        print(json.dumps({"counts": counts, "clean_path": f"{args.work_dir}/clean"}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())

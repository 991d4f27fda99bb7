"""End-to-end pipeline: build → search → filter → rerank → TREC sink → eval.

This is the engine's ownership of the reference's BRIGHT batch pipeline
(SURVEY.md §3 E3): write_pyserini_corpus → index_corpus.sh → search.sh →
filter_run.py → run_setwise.py → eval.sh, as one resumable DataFrame job
graph.

Resume model (north rule: "resumable from checkpoint with per-partition
lineage + metrics"):

- the index has its own manifest/fingerprint resume (index_build.py);
- every later stage writes parquet plus a ``_stage.json`` fingerprint of
  its inputs; rerun with ``resume=True`` skips stages whose fingerprint
  matches (byte-identical outputs — everything downstream is
  deterministic);
- the rerank stage additionally resumes per query: completed qids are
  anti-joined away and only the remainder is reranked, mirroring the
  reference's save/skip/append loop (Rank-R1/run_setwise.py:284-302).
"""

from __future__ import annotations

import os
import time
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_rankers_spark import fsio
from llm_rankers_spark.operators import runs as runs_ops
from llm_rankers_spark.operators.bm25 import search
from llm_rankers_spark.operators.index_build import build_index
from llm_rankers_spark.operators.pointwise import pointwise_rerank
from llm_rankers_spark.operators.rerank import MockComparator, rerank, shuffle_candidates


def _dispatch_rerank(cands, method: str, comparator, k: int):
    """run.py:54-133 ranker dispatch: comparator loops (setwise/pairwise/
    listwise) or pointwise scoring (pointwise.{yes_no,qlm,monot5})."""
    if method.startswith("pointwise."):
        return pointwise_rerank(cands, method=method.split(".", 1)[1]).select(
            "qid", "docid", "rank", "score"
        )
    return rerank(cands, method=method, comparator=comparator, k=k)


def _fingerprint(df: DataFrame, cols: list[str]) -> str:
    row = df.agg(
        F.count("*").alias("n"),
        *[F.sum(F.crc32(F.col(c).cast("string"))).alias(f"c_{c}") for c in cols],
    ).collect()[0]
    return ":".join(str(row[i]) for i in range(len(cols) + 1))


class Stage:
    def __init__(self, work_dir: str, name: str):
        self.path = os.path.join(work_dir, name)
        self.meta_path = os.path.join(work_dir, f"_{name}_stage.json")

    def is_done(self, fp: str) -> bool:
        if not (fsio.exists(self.meta_path) and fsio.exists(self.path)):
            return False
        return fsio.read_json(self.meta_path).get("fingerprint") == fp

    def mark(self, fp: str, extra: dict | None = None) -> None:
        fsio.write_json(self.meta_path, {"fingerprint": fp, **(extra or {})}, indent=None)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    queries: DataFrame,
    work_dir: str,
    qrels: DataFrame | None = None,
    excluded: DataFrame | None = None,
    hits: int = 100,
    rerank_k: int = 10,
    rerank_method: str = "setwise.heapsort",
    comparator=None,
    tokenizer_mode: str = "code",
    num_shards: int = 8,
    resume: bool = True,
    query_length: int | None = None,
    passage_length: int | None = None,
    shuffle: str | None = None,
) -> dict:
    """Returns {"run_path", "trec_path", "metrics", "ndcg" (if qrels)}.

    ``query_length`` / ``passage_length`` reproduce the reference's
    pre-rerank clamps (run.py:135-149 truncates every query via the ranker
    tokenizer, :174 every passage; both default 128 there). Applied through
    the shared engine tokenizer (F1)."""
    from llm_rankers_spark.functions.tokenize import truncate_col

    fsio.makedirs(work_dir)
    metrics: dict[str, float] = {}
    t_all = time.time()

    if query_length is not None:
        queries = queries.withColumn(
            "query", truncate_col("query", query_length, tokenizer_mode)
        )

    # 1. index (self-resuming)
    t0 = time.time()
    idx = build_index(
        docs,
        os.path.join(work_dir, "index"),
        tokenizer_mode=tokenizer_mode,
        num_shards=num_shards,
        resume=resume,
    )
    metrics["index_sec"] = time.time() - t0

    q_fp = _fingerprint(queries, ["qid", "query"]) + f":{hits}:{idx.meta.input_fingerprint}"

    # 2. first-stage BM25
    st_first = Stage(work_dir, "first_stage")
    t0 = time.time()
    if not (resume and st_first.is_done(q_fp)):
        first = search(idx, queries, k=hits)
        first.write.mode("overwrite").parquet(st_first.path)
        st_first.mark(q_fp)
    first = spark.read.parquet(st_first.path)
    metrics["search_sec"] = time.time() - t0

    # 3. exclusion filter (optional)
    ex_fp = ""
    if excluded is not None:
        ex_fp = _fingerprint(excluded, ["qid", "docid"])
        st_filt = Stage(work_dir, "filtered")
        if not (resume and st_filt.is_done(q_fp + ":" + ex_fp)):
            runs_ops.filter_excluded(first, excluded).write.mode("overwrite").parquet(st_filt.path)
            st_filt.mark(q_fp + ":" + ex_fp)
        first = spark.read.parquet(st_filt.path)

    # 4. rerank with per-qid resume
    comparator = comparator or MockComparator()
    st_rr = Stage(work_dir, "reranked")
    rr_fp = q_fp + f":{ex_fp}:{rerank_method}:{rerank_k}:{passage_length}:{shuffle}:{query_length}"
    # the partial marker pins everything EXCEPT the query set: per-qid reuse
    # across a grown query batch is the point of resume (the reference skips
    # qids already in the run file, Rank-R1/run_setwise.py:284-302), but a
    # changed method/k/index/exclusion/clamp config must invalidate partial
    # output — query_length included per round-2 ADVICE.
    cfg_fp = (
        f"{idx.meta.input_fingerprint}:{hits}:{ex_fp}:{rerank_method}:{rerank_k}"
        f":{passage_length}:{shuffle}:{query_length}"
    )
    t0 = time.time()
    partial_path = st_rr.meta_path + ".partial"
    qids_path = st_rr.path + "_qids"  # (qid, qhash) of completed queries
    # per-qid identity = (qid, md5(query-after-clamps)): an edited query
    # text invalidates that qid's cached rerank even though the qid matches
    # (round-2 ADVICE — done-qids used to be matched by qid alone)
    qh = queries.select("qid", F.md5(F.coalesce(F.col("query"), F.lit(""))).alias("qhash"))
    if not (resume and st_rr.is_done(rr_fp)):
        cands = (
            runs_ops.attach_text(first, docs.select("docid", F.col("content")))
            .join(queries, "qid")
            .select("qid", "query", "docid", "rank", "text")
        )
        if passage_length is not None:
            cands = cands.withColumn("text", truncate_col("text", passage_length, tokenizer_mode))
        if shuffle is not None:
            # pre-rerank candidate permutation (run.py:185-191)
            cands = shuffle_candidates(cands, how=shuffle)
        # Per-qid reuse is only sound if the existing partial output was
        # produced under the SAME rerank fingerprint (method/k/clamps) —
        # otherwise a changed config would silently keep stale results.
        partial_ok = False
        if resume and fsio.exists(partial_path):
            try:
                partial_ok = fsio.read_json(partial_path).get("fingerprint") == cfg_fp
            except Exception as e:  # an unreadable marker only costs a full rerank
                warnings.warn(
                    f"rerank resume marker {partial_path} unreadable, reranking all queries: {e!r}", stacklevel=2
                )
        valid_qids = None
        if partial_ok and fsio.exists(st_rr.path) and fsio.exists(qids_path):
            try:
                existing = spark.read.parquet(st_rr.path)
                # done rows stay valid only if their recorded query hash
                # still matches the current text for that qid
                valid_qids = (
                    spark.read.parquet(qids_path)
                    .join(qh, ["qid", "qhash"], "left_semi")
                    .select("qid")
                )
            except Exception as e:  # unreadable partial output only costs a full rerank
                warnings.warn(
                    f"partial rerank output {st_rr.path} (qids {qids_path}) unreadable, reranking all queries: {e!r}",
                    stacklevel=2,
                )
                existing, valid_qids = None, None
        elif fsio.exists(st_rr.path):
            # stale partial output from a different config: drop it
            fsio.delete(st_rr.path)
            fsio.delete(qids_path)
        fsio.write_json(partial_path, {"fingerprint": cfg_fp}, indent=None)
        if valid_qids is not None:
            existing_keep = existing.join(valid_qids, "qid", "left_semi")
            todo = cands.join(valid_qids, "qid", "left_anti")
            if todo.limit(1).count() > 0:
                fresh = _dispatch_rerank(todo, rerank_method, comparator, rerank_k)
                merged = existing_keep.unionByName(fresh)
            else:
                merged = existing_keep
            # rewrite atomically so a rerun is byte-identical to a single shot
            tmp = st_rr.path + "_tmp"
            merged.write.mode("overwrite").parquet(tmp)
            final = spark.read.parquet(tmp)
            final.write.mode("overwrite").parquet(st_rr.path)
            fsio.delete(tmp)  # round-3 ADVICE: don't leak a full copy per resume
        else:
            _dispatch_rerank(cands, rerank_method, comparator, rerank_k).write.mode(
                "overwrite"
            ).parquet(st_rr.path)
        # record (qid, qhash) for every query now present in the output —
        # the identity future partial resumes validate against
        reranked_now = spark.read.parquet(st_rr.path)
        qh.join(reranked_now.select("qid").distinct(), "qid", "left_semi").write.mode(
            "overwrite"
        ).parquet(qids_path)
        st_rr.mark(rr_fp)
    reranked = spark.read.parquet(st_rr.path)
    metrics["rerank_sec"] = time.time() - t0

    # 5. TREC sink
    trec_path = os.path.join(work_dir, "run.trec")
    runs_ops.write_trec_run(reranked.withColumn("tag", F.lit("llm_rankers_spark")), trec_path)

    # 6. eval
    out = {"run_path": st_rr.path, "trec_path": trec_path}
    if qrels is not None:
        nd = runs_ops.ndcg_at_k(reranked, qrels, k=10)
        mean_row = nd.agg(F.avg("ndcg").alias("m")).collect()[0]
        out["ndcg"] = float(mean_row["m"]) if mean_row["m"] is not None else float("nan")
        metrics["ndcg_at_10"] = out["ndcg"]

    metrics["total_sec"] = time.time() - t_all
    fsio.write_json(os.path.join(work_dir, "metrics.json"), metrics)
    out["metrics"] = metrics
    return out

"""End-to-end pipeline + resume-equivalence tests (SURVEY.md §7.4 #5:
rerun must yield byte-identical runs; resume-from-partial ≡ single-shot)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from llm_rankers_spark.corpus import generate_corpus, generate_queries, with_docid
from llm_rankers_spark.operators.rerank import MockComparator
from llm_rankers_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def corpus(spark):
    return with_docid(generate_corpus(spark, 200, seed=42)).select("docid", "content", "content_sha256").persist()


@pytest.fixture(scope="module")
def queries(spark):
    return generate_queries(spark, ["parse", "query", "import", "def", "handler"], n_queries=8, seed=1)


def _read_trec(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    lines = []
    for p in parts:
        with open(p) as f:
            lines.extend(f.readlines())
    return lines


def test_pipeline_end_to_end(spark, corpus, queries, tmp_path):
    qrels = queries.select("qid").crossJoin(corpus.select("docid").limit(3)).withColumn("rel", F.lit(1))
    out = run_pipeline(
        spark, corpus, queries, str(tmp_path / "wd"), qrels=qrels, hits=20, rerank_k=5,
        comparator=MockComparator(),
    )
    assert os.path.exists(out["trec_path"])
    assert "ndcg_at_10" in out["metrics"]
    lines = _read_trec(out["trec_path"])
    assert lines and all(len(ln.split("\t")) == 6 for ln in lines)


def test_rerun_is_identical_and_skips(spark, corpus, queries, tmp_path):
    wd = str(tmp_path / "wd2")
    out1 = run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5, comparator=MockComparator())
    lines1 = _read_trec(out1["trec_path"])
    t_index_1 = out1["metrics"]["index_sec"]
    out2 = run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5, comparator=MockComparator())
    lines2 = _read_trec(out2["trec_path"])
    assert lines1 == lines2  # byte-identical
    assert out2["metrics"]["index_sec"] < t_index_1  # index resume skipped the build
    assert out2["metrics"]["search_sec"] < out1["metrics"]["search_sec"]


def test_resume_from_partial_equals_single_shot(spark, corpus, queries, tmp_path):
    # single shot
    wd_a = str(tmp_path / "a")
    out_a = run_pipeline(spark, corpus, queries, wd_a, hits=15, rerank_k=5, comparator=MockComparator())
    # partial: run with only half the queries, then resume with all
    wd_b = str(tmp_path / "b")
    half = queries.filter(F.col("qid").isin(["q0", "q1", "q2", "q3"]))
    run_pipeline(spark, corpus, half, wd_b, hits=15, rerank_k=5, comparator=MockComparator())
    # drop the stage fingerprints so the full run re-enters the rerank stage
    for f in glob.glob(os.path.join(wd_b, "_first_stage_stage.json")):
        os.remove(f)
    for f in glob.glob(os.path.join(wd_b, "_reranked_stage.json")):
        os.remove(f)
    out_b = run_pipeline(spark, corpus, queries, wd_b, hits=15, rerank_k=5, comparator=MockComparator())
    assert _read_trec(out_a["trec_path"]) == _read_trec(out_b["trec_path"])


def test_corrupt_partial_marker_warns_and_equals_single_shot(spark, corpus, queries, tmp_path):
    # an unreadable per-qid resume marker falls back to a full rerank, and
    # says so once instead of swallowing the error
    import warnings

    out_a = run_pipeline(spark, corpus, queries, str(tmp_path / "a"), hits=15, rerank_k=5, comparator=MockComparator())
    wd = str(tmp_path / "b")
    run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5, comparator=MockComparator())
    marker = os.path.join(wd, "_reranked_stage.json.partial")
    with open(marker, "w") as f:
        f.write("{not json")
    os.remove(os.path.join(wd, "_reranked_stage.json"))  # re-enter the rerank stage
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out_b = run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5, comparator=MockComparator())
    msgs = [str(w.message) for w in caught if "unreadable" in str(w.message)]
    assert len(msgs) == 1 and marker in msgs[0]
    assert _read_trec(out_a["trec_path"]) == _read_trec(out_b["trec_path"])


def test_changed_method_invalidates_partial_resume(spark, corpus, queries, tmp_path):
    # round-1 advice: per-qid resume must NOT trust parquet produced under a
    # different rerank config — rerunning with a new method in the same
    # work_dir has to discard the old method's rows, not re-tag them.
    wd = str(tmp_path / "switch")
    run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5,
                 rerank_method="setwise.heapsort", comparator=MockComparator())
    out_b = run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5,
                         rerank_method="pairwise.allpair", comparator=MockComparator())
    clean = run_pipeline(spark, corpus, queries, str(tmp_path / "clean"), hits=15, rerank_k=5,
                         rerank_method="pairwise.allpair", comparator=MockComparator())
    assert _read_trec(out_b["trec_path"]) == _read_trec(clean["trec_path"])


def test_pipeline_pointwise_and_shuffle(spark, corpus, queries, tmp_path):
    # pointwise dispatch (run.py:54-133) + pre-rerank shuffle (run.py:185-191)
    out = run_pipeline(
        spark, corpus, queries, str(tmp_path / "pw"), hits=10, rerank_k=5,
        rerank_method="pointwise.yes_no", shuffle="inverse",
        query_length=64, passage_length=64,
    )
    lines = _read_trec(out["trec_path"])
    assert lines and all(len(ln.split("\t")) == 6 for ln in lines)


def test_excluded_filter_in_pipeline(spark, corpus, queries, tmp_path):
    first = run_pipeline(spark, corpus, queries, str(tmp_path / "c1"), hits=10, rerank_k=3,
                         comparator=MockComparator())
    top = spark.read.parquet(first["run_path"]).filter(F.col("rank") == 1).select("qid", "docid")
    out = run_pipeline(
        spark, corpus, queries, str(tmp_path / "c2"), excluded=top, hits=10, rerank_k=3,
        comparator=MockComparator(),
    )
    banned = {(r["qid"], r["docid"]) for r in top.collect()}
    got = {(r["qid"], r["docid"]) for r in spark.read.parquet(out["run_path"]).collect()}
    assert not (banned & got)


def test_changed_query_text_invalidates_that_qid(spark, corpus, queries, tmp_path):
    # round-2 ADVICE: per-qid resume must key on (qid, query-text hash) —
    # rerunning with an EDITED query text for an existing qid must recompute
    # that qid instead of reusing the stale cached rerank.
    wd = str(tmp_path / "edit")
    run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5, comparator=MockComparator())
    for f in glob.glob(os.path.join(wd, "_first_stage_stage.json")):
        os.remove(f)
    for f in glob.glob(os.path.join(wd, "_reranked_stage.json")):
        os.remove(f)
    edited = queries.withColumn(
        "query", F.when(F.col("qid") == "q0", F.lit("handler import")).otherwise(F.col("query"))
    )
    out_b = run_pipeline(spark, corpus, edited, wd, hits=15, rerank_k=5, comparator=MockComparator())
    clean = run_pipeline(spark, corpus, edited, str(tmp_path / "edit_clean"),
                         hits=15, rerank_k=5, comparator=MockComparator())
    assert _read_trec(out_b["trec_path"]) == _read_trec(clean["trec_path"])


def test_changed_query_length_invalidates_partial(spark, corpus, queries, tmp_path):
    # cfg_fp must include query_length: rerunning with a different clamp
    # must not treat old qids as done
    wd = str(tmp_path / "qlen")
    run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5,
                 comparator=MockComparator(), query_length=64)
    out_b = run_pipeline(spark, corpus, queries, wd, hits=15, rerank_k=5,
                         comparator=MockComparator(), query_length=1)
    clean = run_pipeline(spark, corpus, queries, str(tmp_path / "qlen_clean"),
                         hits=15, rerank_k=5, comparator=MockComparator(), query_length=1)
    assert _read_trec(out_b["trec_path"]) == _read_trec(clean["trec_path"])

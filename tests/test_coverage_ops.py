"""Tests for the remaining SURVEY §2 operators: S3/S4 exports, F1/F2
clamps, A2 permutation vote, P10 reasoning parse, M3 retry wrapper."""

import glob
import json
import os

import pytest

from llm_rankers_spark.corpus import (
    clean_query_text,
    export_corpus_json,
    export_qrels_tsv,
    export_queries_tsv,
    generate_corpus,
    read_code_table,
)
from llm_rankers_spark.functions.tokenize import truncate_col, truncate_tokens, word_clamp_col
from llm_rankers_spark.operators.rerank import (
    MockComparator,
    RetryingComparator,
    VotingComparator,
    parse_reasoning_answer,
    run_lockstep,
    setwise_heapsort,
)


def _read_lines(path):
    out = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p) as f:
            out.extend(ln.rstrip("\n") for ln in f)
    return out


def test_read_code_table_shape_and_filter(spark, tmp_path):
    # the input_hint table shape (repo, path, commit, lang, content) loads
    # through one entry point regardless of source (catalog table / parquet)
    src = str(tmp_path / "code_files")
    generate_corpus(spark, 60, seed=7).write.parquet(src)
    docs = read_code_table(spark, src)
    assert {"docid", "content", "content_sha256"} <= set(docs.columns)
    assert docs.count() == 60
    py_only = read_code_table(spark, src, lang_filter=["python"])
    assert 0 < py_only.count() < 60
    assert py_only.filter(~py_only.lang.isin(["python"])).count() == 0
    with pytest.raises(ValueError, match="lacks columns"):
        bad = str(tmp_path / "bad")
        spark.createDataFrame([("x",)], "repo string").write.parquet(bad)
        read_code_table(spark, bad)


def test_export_corpus_json_rules(spark, tmp_path):
    docs = spark.createDataFrame(
        [("a b", "one"), ("a b", "dup of same id"), ("c", "two")], "docid string, content string"
    )
    out = str(tmp_path / "corpus")
    export_corpus_json(docs, out)
    recs = [json.loads(ln) for ln in _read_lines(out)]
    ids = sorted(r["id"] for r in recs)
    assert ids == ["a_b", "c"]  # spaces→underscores + dedup
    assert all("contents" in r for r in recs)


def test_export_queries_and_qrels(spark, tmp_path):
    qs = spark.createDataFrame([("q1", "hello\tworld\nnew\rline\fend")], "qid string, query string")
    qp = str(tmp_path / "queries")
    export_queries_tsv(qs, qp)
    (line,) = _read_lines(qp)
    assert line == "q1\thello world new line end"
    qrels = spark.createDataFrame([("q1", "d9", 1)], "qid string, docid string, rel int")
    rp = str(tmp_path / "qrels")
    export_qrels_tsv(qrels, rp)
    assert _read_lines(rp) == ["q1\t0\td9\t1"]


def test_clean_query_text_col(spark):
    df = spark.createDataFrame([("a\tb\nc",)], "query string")
    assert df.select(clean_query_text("query").alias("q")).collect()[0]["q"] == "a b c"


def test_truncate_tokens():
    assert truncate_tokens("def foo_bar(x): return x", 3, mode="code") == "def foo bar"
    assert truncate_tokens("", 5) == ""


def test_truncate_and_word_clamp_cols(spark):
    df = spark.createDataFrame([("one two three four five",)], "content string")
    r = df.select(
        truncate_col("content", 2, mode="simple").alias("t"),
        word_clamp_col("content", 3).alias("w"),
    ).collect()[0]
    assert r["t"] == "one two"
    assert r["w"] == "one two three"


def relevance(query, text):
    return int(text.rsplit("=", 1)[1])


def test_voting_comparator_majority():
    base = MockComparator(relevance=relevance)
    vc = VotingComparator(base, num_permutation=5)
    texts = [f"doc rel={r}" for r in (1, 9, 3)]
    # a transitive base comparator wins every permutation → unanimous vote
    assert vc.best_of("q", texts) == 1
    assert base.calls == 5  # one base call per permutation


def test_voting_comparator_deterministic():
    a = VotingComparator(MockComparator(relevance=relevance), num_permutation=3)
    b = VotingComparator(MockComparator(relevance=relevance), num_permutation=3)
    texts = [f"doc rel={r}" for r in (5, 2, 8, 1)]
    assert a.best_of("q", texts) == b.best_of("q", texts)


def test_voting_comparator_in_heapsort():
    items = [(f"d{i}", f"doc rel={r}") for i, r in enumerate([4, 7, 1, 9, 3])]
    vc = VotingComparator(MockComparator(relevance=relevance), num_permutation=3)
    out = run_lockstep([("q", setwise_heapsort(items, num_child=2, k=3))], vc)[0]
    assert [d for d, _ in out[:3]] == ["d3", "d1", "d0"]


def test_retrying_comparator():
    def flaky(fail_times):
        left = [fail_times]

        def rel(query, text):
            if left[0] > 0:
                left[0] -= 1
                raise RuntimeError("transient")
            return 0

        return rel

    rc = RetryingComparator(MockComparator(relevance=flaky(2)), max_retries=3)
    assert rc.best_of("q", ["a"]) == 0
    assert rc.retries == 2
    rc2 = RetryingComparator(MockComparator(relevance=flaky(10)), max_retries=2)
    with pytest.raises(RuntimeError):
        rc2.best_of("q", ["a"])


def test_parse_reasoning_answer():
    assert parse_reasoning_answer("<think>blah [3] blah</think><answer>[2]</answer>", 4) == 1
    assert parse_reasoning_answer("<answer>the best is [1]!</answer>", 4) == 0
    assert parse_reasoning_answer("<answer>[9]</answer>", 4) is None
    assert parse_reasoning_answer("no tags at all", 4) is None
    assert parse_reasoning_answer("", 4) is None

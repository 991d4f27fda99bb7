"""Tests for the remaining SURVEY §2 operators: S3/S4 exports, F1/F2
clamps, A2 permutation vote, P10 reasoning parse."""

import glob
import json
import os

from llm_rankers_spark.corpus import (
    clean_query_text,
    export_corpus_json,
    export_qrels_tsv,
    export_queries_tsv,
)
from llm_rankers_spark.functions.tokenize import truncate_col, truncate_tokens, word_clamp_col
from llm_rankers_spark.operators.model_comparator import RankR1Comparator, fake_model_factory
from llm_rankers_spark.operators.rerank import (
    Compare,
    MockComparator,
    VotingComparator,
    run_lockstep,
    setwise_heapsort,
)


def _read_lines(path):
    out = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p) as f:
            out.extend(ln.rstrip("\n") for ln in f)
    return out


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


def test_parse_reasoning_answer():
    # P10's one parser is RankR1Comparator.decide with the toml's
    # ANSWER_PATTERN. A completion it cannot read casts no vote, and with no
    # vote the parent (index 0) keeps its slot: the reference's
    # unexpected-output path (setwise.py:546)
    req = Compare("best_of", "q", ["a", "b", "c", "d"], seq=1)
    one = RankR1Comparator("r1-parse-1", fake_model_factory)
    (order,) = one._orders(req)
    # control: a well-formed trace votes for the doc behind its label, here
    # not the parent
    assert one.decide(req, ["<think>blah [3] blah</think><answer>[2]</answer>"]) == order[1] != 0
    three = RankR1Comparator("r1-parse-3", fake_model_factory, num_permutation=3)
    orders = three._orders(req)
    vote = f"<think>t</think> <answer>[{orders[2].index(3) + 1}]</answer>"  # a vote for doc 3
    unreadable = (
        "<think>t</think><answer>[9]</answer>",  # label out of range
        "<answer>[9]</answer>",
        "",  # empty completion
        "no tags at all",
        "<answer>[2]</answer>",  # <answer> with no <think>
        "<answer>the best is [1]!</answer>",
    )
    for bad in unreadable:
        assert one.decide(req, [bad]) == 0, bad
        assert three.decide(req, [bad, bad, bad]) == 0, bad
        # the one readable vote outweighs two unreadable ones: they cast none
        assert three.decide(req, [bad, bad, vote]) == 3, bad

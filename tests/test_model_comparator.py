"""Real-model comparator integration: lazy per-worker load, one-batch-per-
call scoring, cross-query pooled batching, and batched ≡ sequential parity
(the reference's DataLoader-batched inference, pairwise.py:176-204, as a
Spark-shaped plug-in)."""

import hashlib
import itertools
import threading

import pytest
from pyspark.sql import functions as F

from llm_rankers_spark.operators.model_comparator import (
    FakeGenerativeModel,
    FakeRelevanceModel,
    GenerativeModelComparator,
    ModelComparator,
    fake_generative_factory,
    fake_model_factory,
    get_model,
    rerank_batched,
)
from llm_rankers_spark.operators.rerank import MockComparator, rerank, rerank_local, rerank_many

_names = itertools.count()


def _on(cls, model, **kw):
    """``cls`` over this very model instance, under a fresh cache name."""
    return cls(f"test-model-{next(_names)}", lambda: model, **kw)


def _fake_rel(query: str, text: str) -> float:
    return int(hashlib.md5(f"{query}\x1f{text}".encode()).hexdigest()[:7], 16) / float(1 << 28)


def _mk_items(qid: str, n: int = 12):
    return [(f"{qid}_d{i:02d}", f"passage {qid} number {i} about topic {i % 4}") for i in range(n)]


def test_get_model_loads_once_per_process():
    before = FakeRelevanceModel.loads
    a = get_model("cache-test", fake_model_factory)
    b = get_model("cache-test", fake_model_factory)
    assert a is b
    assert FakeRelevanceModel.loads == before + 1


def test_model_comparator_one_batch_per_call():
    model = FakeRelevanceModel()
    cmp = _on(ModelComparator, model)
    win = cmp.best_of("q", ["alpha", "beta", "gamma"])
    assert model.batches == 1 and model.items == 3
    # decision parity with MockComparator on the same relevance
    mock = MockComparator(relevance=_fake_rel)
    assert win == mock.best_of("q", ["alpha", "beta", "gamma"])
    assert cmp.pair("q", "alpha", "beta") == mock.pair("q", "alpha", "beta")
    assert cmp.permutation("q", ["alpha", "beta"]) == mock.permutation("q", ["alpha", "beta"])


@pytest.mark.parametrize("method", ["setwise.heapsort", "pairwise.heapsort", "pairwise.allpair", "listwise.sliding"])
def test_engine_batched_equals_sequential(method):
    queries = [(_mk_items(f"q{i}"), f"query q{i}") for i in range(6)]
    # sequential: one loop at a time, a fresh comparator per query
    seq = [rerank_local(method, items, q, _on(ModelComparator, FakeRelevanceModel()), k=5) for items, q in queries]
    # batched: every loop in lockstep, one comparator for all of them
    model = FakeRelevanceModel()
    cmp = _on(ModelComparator, model)
    assert rerank_many(method, queries, cmp, batch_size=16, k=5) == seq
    # pooling actually happened: fewer model batches than comparator calls
    assert model.batches < cmp.calls, (
        f"no cross-query pooling: {model.batches} batches for {cmp.calls} compare calls"
    )


@pytest.mark.parametrize("method", ["setwise.heapsort", "pairwise.heapsort", "listwise.sliding"])
def test_generative_comparator_matches_scoring(method):
    # generation-mode protocol (prompt -> label string -> parse) must reach
    # the same rankings as scoring-mode on the same hidden relevance
    items = _mk_items("g0")
    gen = _on(GenerativeModelComparator, FakeGenerativeModel())
    score = _on(ModelComparator, FakeRelevanceModel())
    a = rerank_local(method, items, "query g0", gen, k=5)
    b = rerank_local(method, items, "query g0", score, k=5)
    assert a == b


def test_generative_parse_fallbacks():
    # unparseable setwise label -> keep parent slot (index 0), like the
    # reference's output[-1] guard; pairwise disagreement -> a doesn't win
    class Junk:
        def generate_batch(self, prompts):
            return ["no label here!" for _ in prompts]

    cmp = _on(GenerativeModelComparator, Junk())
    assert cmp.best_of("q", ["t1", "t2", "t3"]) == 0
    w1, w2 = cmp.pair("q", "a", "b")
    assert (w1, w2) == (False, False)


def test_rerank_batched_generative(spark):
    rows = []
    for q in range(4):
        for d, t in _mk_items(f"q{q}", n=8):
            rows.append((f"q{q}", f"query {q}", d, int(d[-2:]) + 1, t))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")
    gen = rerank_batched(cands, method="setwise.heapsort", model_name="gen-spark",
                         model_factory=fake_generative_factory, k=4, queries_per_task=2,
                         comparator_cls=GenerativeModelComparator)
    base = rerank(cands, method="setwise.heapsort", comparator=MockComparator(relevance=_fake_rel), k=4)
    assert {tuple(r) for r in gen.collect()} == {tuple(r) for r in base.collect()}


def test_engine_model_error_propagates_no_hang():
    class BoomModel:
        def score_batch(self, pairs):
            raise RuntimeError("boom")

    threads = threading.active_count()
    queries = [(_mk_items(f"q{i}", n=6), "q") for i in range(3)]
    with pytest.raises(RuntimeError, match="boom"):
        rerank_many("setwise.heapsort", queries, _on(ModelComparator, BoomModel()), batch_size=4, k=3)
    assert threading.active_count() == threads  # the stepper starts no thread


def test_one_comparator_serves_many_queries():
    # Rank-R1 shuffles seed from each query's own compare index: with a
    # position-biased model (always answers [1]) the votes follow the
    # shuffles, and one comparator over three queries in lockstep must
    # still rank each as a fresh comparator does alone
    from llm_rankers_spark.operators.model_comparator import RankR1Comparator

    class FirstLabel:
        def generate_batch(self, prompts):
            return ["<think> first </think> <answer>[1]</answer>" for _ in prompts]

    queries = [(_mk_items(f"q{i}", n=10), f"query q{i}") for i in range(3)]
    shared = _on(RankR1Comparator, FirstLabel(), num_permutation=3)
    got = rerank_many("setwise.heapsort", queries, shared, k=5, num_child=3)
    for (items, q), ranked in zip(queries, got):
        fresh = _on(RankR1Comparator, FirstLabel(), num_permutation=3)
        assert ranked == rerank_local("setwise.heapsort", items, q, fresh, k=5, num_child=3), q


def test_pointwise_model_scorer_matches_direct(spark):
    from llm_rankers_spark.operators.pointwise import model_scorer, pointwise_rerank

    rows = []
    for q in range(3):
        for d, t in _mk_items(f"q{q}", n=9):
            rows.append((f"q{q}", f"query {q}", d, int(d[-2:]) + 1, t))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")

    via_model = pointwise_rerank(cands, scorer=model_scorer("pw-test", fake_model_factory, batch_size=4))
    import numpy as np

    def direct(queries, texts):
        return np.array([_fake_rel(q, t) for q, t in zip(queries, texts)])

    via_direct = pointwise_rerank(cands, scorer=direct)
    a = {(r.qid, r.docid, r.rank) for r in via_model.collect()}
    b = {(r.qid, r.docid, r.rank) for r in via_direct.collect()}
    assert a == b


def test_rerank_batched_matches_per_qid_rerank(spark):
    rows = []
    for q in range(8):
        for d, t in _mk_items(f"q{q}"):
            rows.append((f"q{q}", f"query text {q}", d, int(d[-2:]) + 1, t))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")

    base = rerank(cands, method="setwise.heapsort", comparator=MockComparator(relevance=_fake_rel), k=5)
    batched = rerank_batched(
        cands, method="setwise.heapsort", model_name="spark-test", model_factory=fake_model_factory,
        k=5, batch_size=8, queries_per_task=3,
    )
    a = {(r.qid, r.docid, r.rank, r.score) for r in base.collect()}
    b = {(r.qid, r.docid, r.rank, r.score) for r in batched.collect()}
    assert a == b
    # 8 qids at 3/task -> multiple shards, so pooling ran under Spark too
    n_shards = rerank_batched(
        cands, method="setwise.heapsort", model_factory=fake_model_factory, k=5, queries_per_task=3,
    ).select("qid").distinct().count()
    assert n_shards == 8


def test_duo_prob_comparator_matches_scoring():
    # P5: DuoT5 joint-prompt P(true) compare ≡ scoring comparator on the
    # same (text-only) relevance, for every pairwise loop
    from llm_rankers_spark.operators.model_comparator import (
        DuoProbPairComparator,
        FakeDuoModel,
    )

    def text_rel(_q, t):
        return int(hashlib.md5(t.encode()).hexdigest()[:7], 16)

    items = _mk_items("duo")
    for method in ("pairwise.heapsort", "pairwise.bubblesort", "pairwise.allpair"):
        duo = _on(DuoProbPairComparator, FakeDuoModel())
        mock = MockComparator(relevance=text_rel)
        got = rerank_local(method, items, "query duo", duo, k=5)
        want = rerank_local(method, items, "query duo", mock, k=5)
        assert got == want, method
    # both orders of one compare travel in ONE model batch
    m = FakeDuoModel()
    duo = _on(DuoProbPairComparator, m)
    duo.pair("q", "aaa", "bbb")
    assert m.batches == 1 and m.items == 2
    with pytest.raises(NotImplementedError):
        duo.best_of("q", ["a", "b"])


def test_rank_r1_comparator_matches_scoring():
    # P10: reasoning-prompt flow (shuffled copies, <think>/<answer> parse,
    # vote) ≡ scoring comparator on the same relevance — rels are distinct,
    # so every permutation votes for the same doc
    from llm_rankers_spark.operators.model_comparator import (
        FakeReasoningModel,
        RankR1Comparator,
    )

    items = _mk_items("r1")
    for nperm in (1, 3):
        m = FakeReasoningModel()
        r1 = _on(RankR1Comparator, m, num_permutation=nperm)
        mock = MockComparator(relevance=_fake_rel)
        got = rerank_local("setwise.heapsort", items, "query r1", r1, k=5, num_child=3)
        want = rerank_local("setwise.heapsort", items, "query r1", mock, k=5, num_child=3)
        assert got == want, nperm
        # num_permutation prompts per compare, all in one batch per call
        assert m.items == r1.calls * nperm


def test_rank_r1_v02_comparator_matches_scoring():
    # P10-v0.2: same voting/parse flow, v0.2 prompt protocol (RankLLM
    # system text, blank-line doc separator, 'Here is the query:' framing)
    from llm_rankers_spark.operators.model_comparator import (
        FakeReasoningModel,
        RankR1V02Comparator,
    )

    items = _mk_items("r1v2")
    m = FakeReasoningModel()
    seen = {}

    class Spy:
        def generate_batch(self, prompts):
            seen.setdefault("p", prompts[0])
            return m.generate_batch(prompts)

    r1 = _on(RankR1V02Comparator, Spy(), num_permutation=3)
    mock = MockComparator(relevance=_fake_rel)
    got = rerank_local("setwise.heapsort", items, "query r1v2", r1, k=5, num_child=3)
    want = rerank_local("setwise.heapsort", items, "query r1v2", mock, k=5, num_child=3)
    assert got == want
    p = seen["p"]
    assert p.startswith("You are RankLLM")
    assert "Here is the query: query r1v2\n\nHere are the documents:\n[1]: " in p
    assert "\n\n[2]: " in p  # v0.2 doc_separator is a blank line


def test_rank_r1_parse_fallback_keeps_parent():
    from llm_rankers_spark.operators.model_comparator import RankR1Comparator

    class Garbage:
        def generate_batch(self, prompts):
            return ["no tags at all" for _ in prompts]

    r1 = _on(RankR1Comparator, Garbage())
    assert r1.best_of("q", ["a", "b", "c"]) == 0


def test_rank_r1_answer_pattern_matches_reference_trace():
    # the toml pattern must accept a realistic completion (lowercased by the
    # reference before matching) and reject think-only output
    from llm_rankers_spark.operators.model_comparator import RankR1Comparator
    import re

    m = re.search(RankR1Comparator.ANSWER_PATTERN,
                  "<think>\nDoc two mentions it.\n</think> <answer>[2]</answer>".lower(),
                  re.DOTALL)
    assert m and m.group(1).strip() == "[2]"
    assert re.search(RankR1Comparator.ANSWER_PATTERN, "<think>only thoughts</think>", re.DOTALL) is None


def test_rerank_batched_duo_and_r1(spark):
    # both new protocols must run through the cross-query stepper and
    # match the per-qid MockComparator path
    from llm_rankers_spark.operators.model_comparator import (
        DuoProbPairComparator,
        RankR1Comparator,
        fake_duo_factory,
        fake_reasoning_factory,
    )

    rows = []
    for qi in range(4):
        for rank, (docid, text) in enumerate(_mk_items(f"q{qi}", 10), start=1):
            rows.append((f"q{qi}", f"query q{qi}", docid, rank, text))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")

    def text_rel(_q, t):
        return int(hashlib.md5(t.encode()).hexdigest()[:7], 16)

    duo = rerank_batched(cands, method="pairwise.heapsort", model_name="duo_t",
                         model_factory=fake_duo_factory, k=5, batch_size=8,
                         queries_per_task=2, comparator_cls=DuoProbPairComparator)
    want_duo = rerank(cands, method="pairwise.heapsort", comparator=MockComparator(relevance=text_rel), k=5)
    assert sorted(map(tuple, duo.collect())) == sorted(map(tuple, want_duo.collect()))

    r1 = rerank_batched(cands, method="setwise.heapsort", model_name="r1_t",
                        model_factory=fake_reasoning_factory, k=5, num_child=3,
                        batch_size=8, queries_per_task=2, comparator_cls=RankR1Comparator)
    want_r1 = rerank(cands, method="setwise.heapsort", comparator=MockComparator(relevance=_fake_rel), k=5, num_child=3)
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, want_r1.collect()))


def test_openai_api_ranker_worked_example():
    # P-API (setwise.py:338-399): injectable transport, truncation, bounded
    # retry — end-to-end through GenerativeModelComparator + a rerank loop
    from llm_rankers_spark.operators.model_comparator import (
        FakeGenerativeModel,
        OpenAIGenerativeModel,
    )

    inner = FakeGenerativeModel()
    fails = {"n": 2}

    def flaky_transport(prompt: str) -> str:
        if fails["n"] > 0:
            fails["n"] -= 1
            raise ConnectionError("transient")
        return inner.generate_batch([prompt])[0]

    api = OpenAIGenerativeModel(transport=flaky_transport, max_retries=3, retry_sleep=0.0)
    cmp = _on(GenerativeModelComparator, api)
    items = _mk_items("api")
    got = rerank_local("setwise.heapsort", items, "query api", cmp, k=5, num_child=3)
    want = rerank_local("setwise.heapsort", items, "query api",
                        MockComparator(relevance=_fake_rel), k=5, num_child=3)
    assert got == want
    assert api.retries == 2  # the two transient failures were retried

    # bounded retry surfaces the error instead of hanging forever
    def always_down(prompt):
        raise ConnectionError("down")

    dead = OpenAIGenerativeModel(transport=always_down, max_retries=1, retry_sleep=0.0)
    with pytest.raises(ConnectionError):
        dead.generate_batch(["x"])
    assert dead.retries == 2  # initial + 1 retry

    # whitespace-clamp truncation fallback honors the budget
    tiny = OpenAIGenerativeModel(transport=lambda p: p, max_prompt_tokens=3, retry_sleep=0.0)
    assert tiny.generate_batch(["a b c d e f"]) == ["a b c"]

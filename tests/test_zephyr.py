"""RankZephyr listwise comparator (round-3 verdict #6): prompt/parse
protocol of Rank-R1/run_listwise.py:92-158 + the rankzephyr toml, asserted
gen ≡ scoring through listwise_slide and batched through rerank_batched."""

import itertools

import pandas as pd
import pytest

from llm_rankers_spark.operators.model_comparator import (
    FakeZephyrModel,
    ModelComparator,
    RankZephyrComparator,
    fake_model_factory,
    fake_zephyr_factory,
    rerank_batched,
)
from llm_rankers_spark.operators.rerank import listwise_slide, rerank_local, run_lockstep

_names = itertools.count()


def _on(cls, model):
    """``cls`` over this very model instance, under a fresh cache name."""
    return cls(f"zephyr-test-{next(_names)}", lambda: model)


def _items(n, tag=""):
    return [(f"d{i}", f"passage {tag}{i} text") for i in range(n)]


def test_permutation_prompt_and_parse():
    model = FakeZephyrModel()
    cmp = _on(RankZephyrComparator, model)
    texts = [t for _, t in _items(4)]
    out = cmp.permutation("the query", texts)
    # FakeZephyrModel ranks by the shared md5 relevance; the comparator's
    # parse must pass the full '[a] > [b] > ...' string through
    scoring = ModelComparator("m", fake_model_factory)
    assert out == scoring.permutation("the query", texts)
    assert model.batches == 1 and model.items == 1


def test_prompt_contains_toml_protocol():
    seen = {}

    class Spy:
        def generate_batch(self, prompts):
            seen["p"] = prompts[0]
            return ["[2] > [1] > [3]"]

    cmp = _on(RankZephyrComparator, Spy())
    cmp.permutation("my query", ["t1", "t2", "t3"])
    p = seen["p"]
    assert p.startswith("You are RankLLM")
    assert "I will provide you with 3 passages" in p
    assert "search query: my query.\n[1] t1\n[2] t2\n[3] t3\nSearch Query: my query." in p
    assert "Only respond with the ranking results" in p


def test_unparseable_completion_is_identity():
    class Mute:
        def generate_batch(self, prompts):
            return ["!!!"]

    cmp = _on(RankZephyrComparator, Mute())
    out = cmp.permutation("q", ["a", "b"])
    # 'None' (run_listwise.py:150-156) → clean_permutation finds no digits
    from llm_rankers_spark.operators.rerank import receive_permutation

    assert receive_permutation([("d0", "a"), ("d1", "b")], out, 0, 2) == [("d0", "a"), ("d1", "b")]


def test_only_listwise_defined():
    cmp = RankZephyrComparator("z", fake_zephyr_factory)
    with pytest.raises(NotImplementedError):
        cmp.best_of("q", ["a", "b"])
    with pytest.raises(NotImplementedError):
        cmp.pair("q", "a", "b")


def test_listwise_slide_gen_equals_scoring():
    items = _items(8, "win")
    model = FakeZephyrModel()
    zcmp = _on(RankZephyrComparator, model)
    scmp = ModelComparator("m", fake_model_factory)
    z = run_lockstep([("q77", listwise_slide(items, "q77", window_size=4, step_size=2, num_repeat=1))], zcmp)[0]
    s = run_lockstep([("q77", listwise_slide(items, "q77", window_size=4, step_size=2, num_repeat=1))], scmp)[0]
    assert [d for d, _ in z] == [d for d, _ in s]


def test_rerank_batched_zephyr(spark):
    rows = []
    for qi in range(6):
        for d, t in _items(8, f"q{qi}_"):
            rows.append((f"q{qi}", f"query {qi}", f"{d}_{qi}", len(rows) % 8 + 1, t))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")
    out = rerank_batched(
        cands,
        method="listwise.sliding",
        model_name="zephyr_batch_test",
        model_factory=fake_zephyr_factory,
        comparator_cls=RankZephyrComparator,
        window_size=4,
        step_size=2,
        k=8,
    ).toPandas()
    assert len(out) == 48
    # sequential twin per qid
    pdf = pd.DataFrame(rows, columns=["qid", "query", "docid", "rank", "text"])
    for qid, g in pdf.groupby("qid"):
        g = g.sort_values("rank")
        items = list(zip(g["docid"], g["text"]))
        cmp = RankZephyrComparator("zephyr_seq", fake_zephyr_factory)
        expected = rerank_local(
            "listwise.sliding", items, g["query"].iloc[0], cmp,
            window_size=4, step_size=2, k=8,
        )
        got = out[out["qid"] == qid].sort_values("rank")
        assert list(got["docid"]) == [d for d, _ in expected], qid

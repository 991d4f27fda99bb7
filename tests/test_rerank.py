"""Rerank loop semantics + Spark plumbing parity.

Ground truth: MockComparator with a hidden integer relevance (FIXTURES.md
§6). With a transitive comparator every top-k method must surface the true
top-k in relevance order; the Spark applyInPandas result must equal the
local loop run on identical input (same algorithm object, so equality is
exact, including the assembly tail).
"""

import pytest

from llm_rankers_spark.operators.rerank import (
    MockComparator,
    VotingComparator,
    assemble,
    build_rank_prompt,
    clean_permutation,
    listwise_slide,
    pairwise_allpair,
    receive_permutation,
    rerank,
    rerank_local,
    run_lockstep,
    setwise_heapsort,
    shrink_window_words,
    shuffle_candidates,
)

QUERY = "find the relevant passage"


def relevance(query: str, text: str) -> int:
    # hidden gold: text is "doc<i> rel=<r>"
    return int(text.rsplit("=", 1)[1])


def make_items(rels):
    return [(f"d{i}", f"doc{i} rel={r}") for i, r in enumerate(rels)]


GOLD_RELS = [3, 9, 1, 7, 5, 8, 2, 6, 4, 0, 11, 10]


def gold_topk(items, k):
    return [d for d, _ in sorted(items, key=lambda it: -relevance(QUERY, it[1]))][:k]


ALL_METHODS = [
    "setwise.heapsort",
    "setwise.bubblesort",
    "pairwise.allpair",
    "pairwise.heapsort",
    "pairwise.bubblesort",
]


@pytest.mark.parametrize("method", ALL_METHODS)
@pytest.mark.parametrize("k", [3, 10])
def test_topk_matches_gold(method, k):
    if method == "setwise.bubblesort" and k == 10:
        # the reference's last_start skip (setwise.py:258-264) is a heuristic
        # that deviates from the true top-k when k approaches n — covered by
        # test_setwise_bubblesort_matches_reference_sim instead
        pytest.skip("reference heuristic is not gold-faithful at k≈n")
    items = make_items(GOLD_RELS)
    out = rerank_local(method, items, QUERY, MockComparator(relevance=relevance), k=k, num_child=3)
    got_topk = [d for d, _ in out[:k]]
    if method == "pairwise.allpair":
        # docs that lose every pair never enter the reference's score dict
        # (defaultdict only touched by wins/ties, pairwise.py:206-216); they
        # re-enter via assembly in original order — compare only the head
        got_topk = got_topk[: len(gold_topk(items, k))]
    assert got_topk == gold_topk(items, k), method


def test_setwise_bubblesort_matches_reference_sim():
    """Line-faithful check: our loop reproduces the reference's exact
    (heuristic, non-gold) output for k=10, n=12, num_child=3 — traced from
    an independent simulation of setwise.py:243-273."""
    items = make_items(GOLD_RELS)
    out = rerank_local(
        "setwise.bubblesort", items, QUERY, MockComparator(relevance=relevance), k=10, num_child=3
    )
    assert [d for d, _ in out[:10]] == ["d10", "d11", "d1", "d5", "d3", "d4", "d6", "d7", "d8", "d9"]


@pytest.mark.parametrize("num_child", [1, 2, 3, 5])
def test_setwise_arity(num_child):
    items = make_items(GOLD_RELS)
    cmp = MockComparator(relevance=relevance)
    out = run_lockstep([(QUERY, setwise_heapsort(items, num_child, k=4))], cmp)[0]
    assert [d for d, _ in out[:4]] == gold_topk(items, 4)
    # wider fan-out → fewer comparator calls (setwise.py:200-217 rationale)
    cmp1 = MockComparator(relevance=relevance)
    run_lockstep([(QUERY, setwise_heapsort(items, 1, k=4))], cmp1)
    if num_child > 1:
        assert cmp.calls < cmp1.calls


def test_assembly_tail_in_original_order():
    # setwise.py:300-313: scores are -1..-n; tail keeps first-stage order
    items = make_items([0, 10, 1, 9, 2, 8])
    out = rerank_local("setwise.heapsort", items, QUERY, MockComparator(relevance=relevance), k=2)
    assert [d for d, _ in out[:2]] == ["d1", "d3"]
    assert [d for d, _ in out[2:]] == ["d0", "d2", "d4", "d5"]  # original order
    assert [s for _, s in out] == [-1.0, -2.0, -3.0, -4.0, -5.0, -6.0]


# MockComparator (calls, prompt_items) per method on a fixed 20-item input,
# pinned from the recursive loops before they became generators: a rewrite
# that issues another compare set fails here even if the ranking holds
PINNED_COMPARES = {
    "setwise.heapsort": (19, 72),
    "setwise.bubblesort": (30, 115),
    "pairwise.allpair": (190, 380),
    "pairwise.heapsort": (58, 116),
    "pairwise.bubblesort": (85, 170),
    "listwise.sliding": (9, 36),
}


@pytest.mark.parametrize("method", list(PINNED_COMPARES))
def test_compare_counts_pinned(method):
    items = make_items([(i * 7 + 3) % 20 for i in range(20)])
    cmp = MockComparator(relevance=relevance)
    rerank_local(method, items, QUERY, cmp, k=5, num_child=3)
    assert (cmp.calls, cmp.prompt_items) == PINNED_COMPARES[method]


def test_allpair_win_counts():
    items = make_items([1, 3, 2])
    cmp = MockComparator(relevance=relevance)
    out = run_lockstep([(QUERY, pairwise_allpair(items))], cmp)[0]
    # d0 loses every pair → never enters the score dict (reference
    # defaultdict behavior); it returns via assembly
    assert [d for d, _ in out] == ["d1", "d2"]
    assert cmp.calls == 3  # C(3,2) compare calls (each asks both orders)
    full = rerank_local("pairwise.allpair", items, QUERY, MockComparator(relevance=relevance), k=3)
    assert full == [("d1", -1.0), ("d2", -2.0), ("d0", -3.0)]


def test_listwise_full_window_sorts():
    items = make_items(GOLD_RELS[:8])
    out = rerank_local(
        "listwise.sliding", items, QUERY, MockComparator(relevance=relevance),
        window_size=8, step_size=4, num_repeat=1,
    )
    assert [d for d, _ in out] == [d for d, _ in sorted(items, key=lambda it: -relevance(QUERY, it[1]))]
    assert [s for _, s in out] == [0.0, -1.0, -2.0, -3.0, -4.0, -5.0, -6.0, -7.0]


def test_shrink_window_words_fits_budget():
    # listwise.py:63-88: word cap decrements until the assembled prompt fits
    query = "the search query"
    texts = [f"word{i} " * 50 for i in range(4)]  # 50 words each
    full_cost = len(build_rank_prompt(query, [t.strip() for t in texts]).split())
    budget = full_cost // 2 + 200  # forces shrinking
    clamped, cap = shrink_window_words(
        query, texts, token_budget=budget, start_words=50, reserve=200,
        counter=lambda s: len(s.split()),
    )
    assert cap < 50
    assert all(len(c.split()) <= cap for c in clamped)
    assert len(build_rank_prompt(query, clamped).split()) <= budget - 200
    # a generous budget leaves texts at the starting cap
    same, cap2 = shrink_window_words(
        query, texts, token_budget=10**6, start_words=50, counter=lambda s: len(s.split())
    )
    assert cap2 == 50 and [s.split() for s in same] == [t.split() for t in texts]


def test_shrink_floor_is_one_word():
    clamped, cap = shrink_window_words(
        "q", ["aaa bbb ccc"], token_budget=1, reserve=0, counter=lambda s: len(s.split())
    )
    assert cap == 1 and clamped == ["aaa"]


def test_listwise_budget_clamp_preserves_loop():
    # with the clamp active the comparator sees clamped texts but the
    # permutation still reorders the original items
    rels = [3, 1, 2]
    items = [(f"d{i}", f"padding {' x' * 30} rel={r}") for i, r in enumerate(rels)]

    def clamped_relevance(query, text):
        assert len(text.split()) <= 1  # clamp reached the comparator
        return len(text)

    loop = listwise_slide(items, QUERY, window_size=3, step_size=3, num_repeat=1, token_budget=1, start_words=1)
    out = run_lockstep([(QUERY, loop)], MockComparator(relevance=clamped_relevance))[0]
    assert {d for d, _ in out} == {"d0", "d1", "d2"}


def test_listwise_sliding_window_promotes():
    # w=4, s=2, r=2 (reference README config shape): best doc starting at the
    # bottom must bubble to the top across repeats
    rels = [5, 4, 3, 2, 1, 100]
    items = make_items(rels)
    out = rerank_local(
        "listwise.sliding", items, QUERY, MockComparator(relevance=relevance),
        window_size=4, step_size=2, num_repeat=2,
    )
    assert out[0][0] == "d5"


def test_clean_permutation_repair():
    # listwise.py:113-144 rules
    assert clean_permutation("[2] > [1] > [3]") == [1, 0, 2]
    assert clean_permutation("[2] > [2] > [1]") == [1, 0]  # dedup keep-first
    assert clean_permutation("no digits here") == []
    items = make_items([1, 2, 3, 4])
    # out-of-range dropped, missing appended in original order
    fixed = receive_permutation(items, "[9] > [3] > [3]", 0, 4)
    assert [d for d, _ in fixed] == ["d2", "d0", "d1", "d3"]


def test_assemble_rule_direct():
    original = [("a", ""), ("b", ""), ("c", ""), ("d", "")]
    reordered = [("c", ""), ("a", ""), ("b", ""), ("d", "")]
    out = assemble(original, reordered, k=2)
    assert out == [("c", -1.0), ("a", -2.0), ("b", -3.0), ("d", -4.0)]


@pytest.mark.parametrize("method", ALL_METHODS + ["listwise.sliding"])
def test_spark_matches_local(spark, method):
    rows = []
    queries = {}
    for q in range(6):
        rels = [(r * 7 + q * 3) % 13 for r in range(9)]
        queries[f"q{q}"] = make_items(rels)
        for rank, (docid, text) in enumerate(queries[f"q{q}"], start=1):
            rows.append((f"q{q}", QUERY, docid, rank, text))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")
    got = rerank(cands, method=method, comparator=MockComparator(relevance=relevance), k=5, num_child=2)
    got_map = {}
    for r in got.orderBy("qid", "rank").collect():
        got_map.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    for qid, items in queries.items():
        want = rerank_local(method, items, QUERY, MockComparator(relevance=relevance), k=5, num_child=2)
        assert got_map[qid] == want, f"{method} mismatch for {qid}"


def coarse_relevance(query: str, text: str) -> int:
    # ties within a band of 4 go to the passage shown first: position bias
    return relevance(query, text) // 4


def test_rerank_state_is_per_query(spark):
    # shuffled votes over a position-biased base depend on each vote's
    # seed; one comparator serves every qid of a task (8 qids, at most 4
    # shuffle partitions), yet each query must rank as it does alone with a
    # fresh comparator
    rows = []
    queries = {}
    for q in range(8):
        queries[f"q{q}"] = make_items([(r * 5 + q) % 12 for r in range(10)])
        for rank, (docid, text) in enumerate(queries[f"q{q}"], start=1):
            rows.append((f"q{q}", QUERY, docid, rank, text))
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")
    voting = VotingComparator(MockComparator(relevance=coarse_relevance), num_permutation=3)
    got = rerank(cands, method="setwise.heapsort", comparator=voting, k=5, num_child=2)
    got_map = {}
    for r in got.orderBy("qid", "rank").collect():
        got_map.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    for qid, items in queries.items():
        fresh = VotingComparator(MockComparator(relevance=coarse_relevance), num_permutation=3)
        assert got_map[qid] == rerank_local("setwise.heapsort", items, QUERY, fresh, k=5, num_child=2), qid


def test_shuffle_candidates(spark):
    rows = [("q1", QUERY, f"d{i}", i + 1, f"t{i}") for i in range(5)]
    cands = spark.createDataFrame(rows, "qid string, query string, docid string, rank int, text string")
    inv = shuffle_candidates(cands, "inverse").orderBy("rank").collect()
    assert [r["docid"] for r in inv] == ["d4", "d3", "d2", "d1", "d0"]
    r1 = shuffle_candidates(cands, "random", seed=929).orderBy("rank").collect()
    r2 = shuffle_candidates(cands, "random", seed=929).orderBy("rank").collect()
    assert [r["docid"] for r in r1] == [r["docid"] for r in r2]  # deterministic
    with pytest.raises(ValueError):
        shuffle_candidates(cands, "bogus")

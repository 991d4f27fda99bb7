"""Property-based check of the block-max WAND kernel (SURVEY §5: random
tiny corpora; invariant WAND ≡ exhaustive). Pure-python — no Spark session —
so hypothesis can hammer the pivot/skip/bound logic (including the BMW d'+1
advance rule) across hundreds of random corpora."""

from types import SimpleNamespace

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from llm_rankers_spark.functions.codec import DEFAULT_B, DEFAULT_K1, pack_postings
from llm_rankers_spark.operators.bm25 import _bound_scale, reset_wand_stats, wand_stats

from .oracle_bm25 import score_rows_block_max, score_rows_exhaustive, score_rows_wand


def _row(ords, tfs, dls, avgdl):
    """One posting list packed at the default k1/b → its postings row."""
    cols = pack_postings(ords, tfs, dls, np.array([0]), avgdl=avgdl, k1=DEFAULT_K1, b=DEFAULT_B)
    return {c: v[0] for c, v in cols.items()}


corpus_strategy = st.tuples(
    st.integers(min_value=1, max_value=400),  # n_docs
    st.integers(min_value=1, max_value=6),  # n_terms
    st.integers(min_value=1, max_value=25),  # k
    st.randoms(use_true_random=False),
)


@given(corpus_strategy)
@settings(max_examples=150, deadline=None)
def test_wand_equals_exhaustive_random_corpora(args):
    n_docs, n_terms, k, rng = args
    dls = [rng.randint(1, 200) for _ in range(n_docs)]
    avgdl = float(sum(dls)) / n_docs
    rows = []
    for t in range(n_terms):
        df = rng.randint(1, n_docs)
        docs = sorted(rng.sample(range(n_docs), df))
        ords = np.array(docs, dtype=np.int64)
        tfs = np.array([rng.randint(1, max(1, dls[d])) for d in docs], dtype=np.int64)
        term_dls = np.array([dls[d] for d in docs], dtype=np.int64)
        weight = rng.uniform(0.01, 5.0)
        rows.append((_row(ords, tfs, term_dls, avgdl), weight))

    ex = score_rows_exhaustive("q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl)
    wd = score_rows_wand("q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl)
    assert wd["ord"].tolist() == ex["ord"].tolist(), (
        f"docids diverge (n={n_docs}, terms={n_terms}, k={k})"
    )
    np.testing.assert_allclose(wd["score"].to_numpy(), ex["score"].to_numpy(), rtol=0, atol=1e-12)
    # scoring under another avgdl (global statistics across segments) keeps
    # the vectorized kernel with rescaled block bounds, and stays exact
    avgdl2 = avgdl * rng.uniform(0.25, 4.0)
    baked = SimpleNamespace(avgdl=avgdl)
    ex2 = score_rows_exhaustive("q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl2)
    bm2 = score_rows_block_max(
        "q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl2, _bound_scale(baked, avgdl2)
    )
    assert bm2["ord"].tolist() == ex2["ord"].tolist()
    np.testing.assert_array_equal(bm2["score"].to_numpy(), ex2["score"].to_numpy())
    # the vectorized interval-pruned kernel (round-3 hot-list path) must be
    # bit-identical too — same sorted-term accumulation order
    bm = score_rows_block_max("q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl)
    assert bm["ord"].tolist() == ex["ord"].tolist()
    np.testing.assert_array_equal(bm["score"].to_numpy(), ex["score"].to_numpy())


def test_block_max_skipping_engages_on_hot_plus_rare():
    """Round-5 verdict #2: on a corpus where a rare high-idf term dominates
    the score, the interval traversal must PRUNE (skip scoring most of the
    hot term's blocks) — and still equal exhaustive scoring exactly.

    Construction: one hot term in every doc (many blocks, low weight), one
    rare term in a handful of docs (tiny df, high weight). With k much
    smaller than the hot df, every top-k doc contains the rare term, so
    intervals not covered by the rare list bound below theta and are
    skipped."""
    rng = np.random.default_rng(7)
    n_docs = 20_000
    dls = rng.integers(20, 60, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    # hot term: df == n_docs, tf 1..3 → 157 blocks at BLOCK=128
    hot_ords = np.arange(n_docs, dtype=np.int64)
    hot_tfs = rng.integers(1, 4, size=n_docs).astype(np.int64)
    hot = _row(hot_ords, hot_tfs, dls, avgdl)
    # rare term: df = 12, large tf → rides high idf weight
    rare_docs = np.sort(rng.choice(n_docs, size=12, replace=False)).astype(np.int64)
    rare_tfs = rng.integers(5, 12, size=12).astype(np.int64)
    rare = _row(rare_docs, rare_tfs, dls[rare_docs], avgdl)
    # weights = qw·idf with N=n_docs (the Lucene-style formula)
    import math

    def idf(df):
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

    rows = [(hot, idf(n_docs)), (rare, idf(12))]
    k = 10
    reset_wand_stats()
    bm = score_rows_block_max("q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl)
    stats = wand_stats()
    ex = score_rows_exhaustive("q", rows, k, DEFAULT_K1, DEFAULT_B, avgdl)
    assert bm["ord"].tolist() == ex["ord"].tolist()
    np.testing.assert_array_equal(bm["score"].to_numpy(), ex["score"].to_numpy())
    assert stats["calls"] == 1
    # pruning must actually engage: the hot list alone spans ~157 intervals,
    # and only the rare-covered ones (≤ 12 + slack) may be scored
    assert stats["intervals_total"] > 100
    skipped = stats["intervals_total"] - stats["intervals_scored"]
    assert skipped > 0.5 * stats["intervals_total"], stats
    # decode work is bounded by scored intervals, not the whole corpus
    assert stats["blocks_decoded"] <= 2 * stats["intervals_scored"] + 2


def test_block_max_skipping_engages_under_global_avgdl():
    """A segment scored under a larger global avgdl rescales its baked
    bounds instead of dropping them: still exact, and still pruning."""
    rng = np.random.default_rng(11)
    n_docs = 20_000
    dls = rng.integers(20, 60, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    hot = _row(np.arange(n_docs, dtype=np.int64), rng.integers(1, 4, size=n_docs).astype(np.int64), dls, avgdl)
    rare_docs = np.sort(rng.choice(n_docs, size=12, replace=False)).astype(np.int64)
    rare = _row(rare_docs, rng.integers(5, 12, size=12).astype(np.int64), dls[rare_docs], avgdl)
    rows = [(hot, 0.05), (rare, 8.0)]
    global_avgdl = 1.7 * avgdl
    scale = _bound_scale(SimpleNamespace(avgdl=avgdl), global_avgdl)
    assert 0.0 < scale < 1.0
    reset_wand_stats()
    bm = score_rows_block_max("q", rows, 10, DEFAULT_K1, DEFAULT_B, global_avgdl, scale)
    stats = wand_stats()
    ex = score_rows_exhaustive("q", rows, 10, DEFAULT_K1, DEFAULT_B, global_avgdl)
    assert bm["ord"].tolist() == ex["ord"].tolist()
    np.testing.assert_array_equal(bm["score"].to_numpy(), ex["score"].to_numpy())
    assert stats["intervals_total"] - stats["intervals_scored"] > 0.5 * stats["intervals_total"], stats


def test_wand_stats_reset():
    reset_wand_stats()
    assert wand_stats() == {
        "calls": 0, "intervals_total": 0, "intervals_scored": 0, "blocks_decoded": 0
    }


def test_score_shard_picks_kernel_by_candidate_postings():
    """A query plan with fewer candidate postings than the cutover is scored
    by the numpy-exhaustive kernel, any other by block-max (the only one
    that counts WAND_STATS calls); the two give the same frame."""
    import pandas as pd

    from llm_rankers_spark.operators.bm25 import EXHAUSTIVE_MAX_POSTINGS, _score_shard

    rng = np.random.default_rng(3)
    n_docs = 500
    dls = rng.integers(5, 50, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    recs = []
    for term, df in (("hot", n_docs), ("rare", 9)):
        ords = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 5, size=df).astype(np.int64)
        recs.append({"term": term, "shard": 0, **_row(ords, tfs, dls[ords], avgdl)})
    pdf = pd.DataFrame(recs)
    qplan = {"q1": [("hot", 0.2), ("rare", 3.0)], "q2": [("rare", 1.0)]}

    def run(cutover):
        reset_wand_stats()
        out = _score_shard(pdf, qplan, 5, cutover, DEFAULT_K1, DEFAULT_B, avgdl, 1.0)
        return out, wand_stats()["calls"]

    ex, ex_calls = run(EXHAUSTIVE_MAX_POSTINGS)
    bm, bm_calls = run(0)
    assert (ex_calls, bm_calls) == (0, 2)
    pd.testing.assert_frame_equal(ex, bm)
    # the cutover is strict: q1's n_docs + 9 postings reach it, q2's 9 do not
    assert run(n_docs + 9)[1] == 1

"""LLM-rerank loops as Spark jobs — the reference's second stage.

The reference runs one Python loop per query, calling an LLM comparator at
each step (llmrankers/setwise.py, pairwise.py, listwise.py). The sequential
dependency is per-query, so the scalable axis is ACROSS queries (the
reference itself only parallelizes by sharding queries across jobs,
Rank-R1/run_setwise.py:90-92).

Each sort loop is a generator: it yields one compare request at a time —
``("best_of", texts)``, ``("pair", (a, b))`` or ``("permutation", texts)``
— and receives the comparator's answer. :func:`run_lockstep` drives any
number of loops in one thread: each round takes the pending request of
every unfinished query and answers the round with one model call per
``batch_size`` pooled inputs (the analogue of the reference's DataLoader
batching, pairwise.py:176-204). :func:`rerank` runs one qid per
``applyInPandas`` group (SURVEY.md §3 E2 chosen design: 10^6 queries →
10^6 independent groups, Arrow-batched, no driver round trips);
``model_comparator.rerank_batched`` runs a shard of qids per group over the
same stepper.

Loop semantics are preserved operation-for-operation (same compare sets,
same swaps, same early stops) from:

- Setwise heapsort: (num_child+1)-ary heapify — setwise.py:200-232;
  bubblesort with the ``last_start`` skip — setwise.py:243-273.
- Pairwise: allpair win-counting — pairwise.py:169-219 (consistency rule
  206-216); binary heapsort via two-order compare — pairwise.py:133-162,
  221-237; bubblesort with the ``last_end`` skip — pairwise.py:253-275.
- Listwise sliding window + permutation repair — listwise.py:113-144,
  178-196.
- Final assembly (top-k get score=-rank, untouched tail appended in
  original first-stage order) — setwise.py:300-313, pairwise.py:279-290.

This file contains fresh implementations written from the studied
semantics; no reference code is copied.
"""

from __future__ import annotations

import random
import re
import zlib
from collections import Counter
from dataclasses import dataclass
from typing import NamedTuple, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RERANK_SCHEMA = "qid string, docid string, rank int, score double"
BATCH_SIZE = 64


# ---------------------------------------------------------------------------
# Comparators. A comparator answers "which of these passages is most
# relevant to the query" — the reference's pluggable LLM payload
# (setwise.py:79, pairwise.py:84). The engine treats it as a black box; the
# mock is deterministic + seedable so loop tests have a ground truth.
# ---------------------------------------------------------------------------


class Compare(NamedTuple):
    """One compare request of a sort loop. ``kind`` is ``best_of``,
    ``pair`` (texts are (a, b)) or ``permutation``; ``seq`` numbers the
    query's own compares from 1, so a comparator that shuffles seeds from
    the query alone, whichever queries share its task."""

    kind: str
    query: str
    texts: Sequence[str]
    seq: int = 1


def majority(votes: list) -> object:
    """Most frequent vote; a tie goes to the vote seen first."""
    counts = Counter(votes)
    return max(counts, key=counts.__getitem__)


def vote_orders(n: int, seed: int, seq: int, votes: int) -> list[list[int]]:
    """One shuffle of ``range(n)`` per vote, seeded by (seed, the query's
    compare index, vote)."""
    orders = []
    for p in range(votes):
        order = list(range(n))
        random.Random((seed, seq, p).__hash__()).shuffle(order)
        orders.append(order)
    return orders


class Comparator:
    """The comparator protocol. ``prompt`` turns a request into model
    inputs, ``model`` returns the batch callable that answers a list of
    inputs (many requests' inputs in one call), and ``decide`` turns one
    request's outputs into its answer.

    The default rules decide from one relevance score per passage: argmax
    with first-wins ties (best_of); a wins iff score(a) >= score(b), for
    both prompt orders at once (pair — a scoring model is order-consistent
    by construction); score-sorted permutation.

    ``calls``/``prompt_items`` mirror the reference's per-query cost
    counters (run.py:198-201; setwise.py:80)."""

    calls = 0
    prompt_items = 0

    def model(self):
        raise NotImplementedError

    def prompt(self, req: Compare) -> list:
        return [(req.query, t) for t in req.texts]

    def decide(self, req: Compare, scores: list):
        if req.kind == "best_of":
            return max(range(len(scores)), key=lambda i: (scores[i], -i))
        if req.kind == "pair":
            win = scores[0] >= scores[1]
            return win, win
        order = sorted(range(len(scores)), key=lambda i: (-scores[i], i))
        return " > ".join(f"[{i + 1}]" for i in order)

    def encode(self, req: Compare) -> list:
        """``prompt``, counted in ``calls`` and ``prompt_items``."""
        inputs = self.prompt(req)
        self.calls += 1
        self.prompt_items += len(inputs)
        return inputs

    def answer(self, req: Compare):
        """Answer one request with a model call of its own."""
        return self.decide(req, self.model()(self.encode(req)))

    def best_of(self, query: str, texts: list[str]) -> int:
        """Setwise payload: index of the most relevant passage."""
        return self.answer(Compare("best_of", query, texts))

    def pair(self, query: str, a: str, b: str) -> tuple[bool, bool]:
        """Pairwise payload: (a_wins_order1, a_wins_order2) for the two
        prompt orders of pairwise.py:84-90 (the reference's
        output1=="Passage A" and output2=="Passage B" both mean doc1 wins —
        here both booleans refer to ``a``). Real LLMs are often not
        order-consistent, which is why the reference demands agreement."""
        return self.answer(Compare("pair", query, (a, b)))

    def permutation(self, query: str, texts: list[str]) -> str:
        """Listwise payload: a RankGPT-style '[2] > [1] > ...' string."""
        return self.answer(Compare("permutation", query, texts))


def _crc_relevance(query: str, text: str) -> int:
    """Deterministic pseudo-relevance; stable across processes/partitions."""
    return zlib.crc32(f"{query}\x1f{text}".encode())


@dataclass
class MockComparator(Comparator):
    """Decides by the default rules over a hidden deterministic relevance
    (FIXTURES.md §6): ``relevance(query, text) -> number``, crc32 by
    default, is its model."""

    relevance: object = None  # callable (query, text) -> number
    calls: int = 0
    prompt_items: int = 0

    def model(self):
        rel = self.relevance or _crc_relevance
        return lambda pairs: [rel(q, t) for q, t in pairs]


@dataclass
class VotingComparator(Comparator):
    """A2 (setwise.py:102-157): wrap a base comparator with
    ``num_permutation`` shuffled-prompt votes and a majority decision. All
    votes of one compare go out in one model call.

    The reference shuffles with a global seeded RNG and breaks ties with
    ``random.choice``; we seed each vote from (seed, the query's compare
    index, vote) so results depend on the query alone, and break ties
    (count desc, first-seen asc) — documented intentional divergence
    (SURVEY.md §2.4 A2)."""

    base: object
    num_permutation: int = 3
    seed: int = 929
    calls: int = 0

    def model(self):
        return self.base.model()

    def _votes(self, req: Compare):
        for order in vote_orders(len(req.texts), self.seed, req.seq, self.num_permutation):
            yield order, req._replace(texts=[req.texts[i] for i in order])

    def prompt(self, req: Compare) -> list:
        if req.kind != "best_of":
            return self.base.encode(req)
        return [x for _, sub in self._votes(req) for x in self.base.encode(sub)]

    def decide(self, req: Compare, outputs: list):
        if req.kind != "best_of":
            return self.base.decide(req, outputs)
        n = len(outputs) // self.num_permutation  # every vote prompts the same texts
        return majority([
            order[self.base.decide(sub, outputs[p * n : (p + 1) * n])]
            for p, (order, sub) in enumerate(self._votes(req))
        ])


@dataclass
class RetryingComparator(Comparator):
    """M3 (setwise.py:338-399): retry a failed model call. The reference
    loops forever with sleep(5); ours is bounded (max_retries) and surfaces
    the retry count in metrics — an infinite retry inside an executor task
    would turn one bad record into a hung stage at cluster scale."""

    base: object
    max_retries: int = 3
    retries: int = 0

    def model(self):
        call = self.base.model()

        def retried(inputs):
            for attempt in range(self.max_retries + 1):
                try:
                    return call(inputs)
                except Exception:  # noqa: BLE001 — model payloads are opaque
                    self.retries += 1
                    if attempt == self.max_retries:
                        raise

        return retried

    def prompt(self, req: Compare) -> list:
        return self.base.encode(req)

    def decide(self, req: Compare, outputs: list):
        return self.base.decide(req, outputs)


_REASONING_ANSWER_RE = re.compile(r"<answer>.*?\[(\d+)\].*?</answer>", re.DOTALL)


def parse_reasoning_answer(response: str, n_docs: int) -> int | None:
    """P10 (setwise.py:513-516, Rank-R1): extract the ``<answer>[i]</answer>``
    label from a reasoning trace; 1-based in the prompt → 0-based index;
    out-of-range / missing → None (caller treats as no-swap)."""
    m = _REASONING_ANSWER_RE.search(response or "")
    if not m:
        return None
    v = int(m.group(1)) - 1
    return v if 0 <= v < n_docs else None


# ---------------------------------------------------------------------------
# Sort loops. Each is a generator over (docid, text) items: it yields
# (kind, texts) compare requests, receives each answer, and returns the
# reordered items.
# ---------------------------------------------------------------------------


def _setwise_heapify(arr: list, n: int, i: int, num_child: int):
    # semantics of setwise.py:200-217; the recursion into the swapped child
    # is a loop
    while num_child * i + 1 < n:
        inds = [i] + list(range(num_child * i + 1, min(num_child * (i + 1) + 1, n)))
        w = yield "best_of", [arr[j][1] for j in inds]
        largest = inds[w] if 0 <= w < len(inds) else i
        if largest == i:
            return
        arr[i], arr[largest] = arr[largest], arr[i]
        i = largest


def setwise_heapsort(items: list, num_child: int, k: int):
    # semantics of setwise.py:219-232 + the reversed() at 240-242
    arr = list(items)
    n = len(arr)
    ranked = 0
    for i in range(n // num_child, -1, -1):
        yield from _setwise_heapify(arr, n, i, num_child)
    for i in range(n - 1, 0, -1):
        arr[i], arr[0] = arr[0], arr[i]
        ranked += 1
        if ranked == k:
            break
        yield from _setwise_heapify(arr, i, 0, num_child)
    return list(reversed(arr))


def setwise_bubblesort(items: list, num_child: int, k: int):
    # semantics of setwise.py:243-273 (window of num_child+1 sliding
    # bottom→top by num_child, with the last_start skip optimization)
    arr = list(items)
    last_start = len(arr) - (num_child + 1)
    for i in range(k):
        start = last_start
        end = last_start + (num_child + 1)
        changed = False
        while True:
            if start < i:
                start = i
            # the reference issues the LLM call even for ≤1-item windows and
            # relies on the invalid-label fallback (best_ind=0 → no swap,
            # setwise.py:250-253); we skip the degenerate call — same
            # ranking, marginally lower compare counter (documented divergence)
            w = (yield "best_of", [t for _, t in arr[start:end]]) if end - start > 1 else 0
            if not (0 <= w < max(end - start, 1)):
                w = 0
            if w != 0:
                arr[start], arr[start + w] = arr[start + w], arr[start]
                if not changed:
                    changed = True
                    if last_start != len(arr) - (num_child + 1) and w == len(arr[start:end]) - 1:
                        last_start += len(arr[start:end]) - 1
            if start == i:
                break
            if not changed:
                last_start -= num_child
            start -= num_child
            end -= num_child
    return arr


def pairwise_allpair(items: list):
    # semantics of pairwise.py:169-219: every unordered pair asked in both
    # prompt orders; +1 to the winner only when consistent, else +0.5 each;
    # final sort score desc with stable (original-order) ties.
    scores: dict[str, float] = {}
    pos = {docid: i for i, (docid, _) in enumerate(items)}
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            d1, t1 = items[i]
            d2, t2 = items[j]
            o1, o2 = yield "pair", (t1, t2)
            if o1 and o2:  # both orders agree doc1 wins (pairwise.py:206-211)
                scores[d1] = scores.get(d1, 0.0) + 1.0
            elif (not o1) and (not o2):
                scores[d2] = scores.get(d2, 0.0) + 1.0
            else:
                scores[d1] = scores.get(d1, 0.0) + 0.5
                scores[d2] = scores.get(d2, 0.0) + 0.5
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], pos[kv[0]]))
    text = dict(items)
    return [(d, text[d]) for d, _ in ranked]


def _pair_gt(a, b):
    # pairwise.py:221-237: a > b iff both prompt orders agree a wins
    o1, o2 = yield "pair", (a[1], b[1])
    return o1 and o2


def pairwise_heapsort(items: list, k: int):
    # semantics of pairwise.py:133-162 (binary max-heap, k pops)
    arr = list(items)

    def heapify(n: int, i: int):
        # the recursion into the swapped child is a loop
        while True:
            largest = i
            l, r = 2 * i + 1, 2 * i + 2
            if l < n and (yield from _pair_gt(arr[l], arr[largest])):
                largest = l
            if r < n and (yield from _pair_gt(arr[r], arr[largest])):
                largest = r
            if largest == i:
                return
            arr[i], arr[largest] = arr[largest], arr[i]
            i = largest

    n = len(arr)
    ranked = 0
    for i in range(n // 2, -1, -1):
        yield from heapify(n, i)
    for i in range(n - 1, 0, -1):
        arr[i], arr[0] = arr[0], arr[i]
        ranked += 1
        if ranked == k:
            break
        yield from heapify(i, 0)
    return list(reversed(arr))


def pairwise_bubblesort(items: list, k: int):
    # semantics of pairwise.py:253-275 (bottom-up adjacent swaps with the
    # last_end never-swapped-tail skip)
    arr = list(items)
    k = min(k, len(arr))
    last_end = len(arr) - 1
    for i in range(k):
        cur = last_end
        changed = False
        while True:
            if cur <= i:
                break
            if (yield from _pair_gt(arr[cur], arr[cur - 1])):
                arr[cur - 1], arr[cur] = arr[cur], arr[cur - 1]
                if not changed:
                    changed = True
                    if last_end != len(arr) - 1:
                        last_end += 1
            if not changed:
                last_end -= 1
            cur -= 1
    return arr


def clean_permutation(response: str) -> list[int]:
    """Digit-only cleaning + dedup-keep-first (listwise.py:113-129),
    returning 0-based indices."""
    cleaned = "".join(c if c.isdigit() else " " for c in response).strip()
    out: list[int] = []
    for tok in cleaned.split():
        v = int(tok) - 1
        if v not in out:
            out.append(v)
    return out


def receive_permutation(items: list, response: str, start: int, end: int) -> list:
    """Apply a (possibly malformed) permutation to items[start:end]
    (listwise.py:131-144): drop out-of-range, append missing in original
    order."""
    window = items[start:end]
    perm = [p for p in clean_permutation(response) if 0 <= p < len(window)]
    perm += [i for i in range(len(window)) if i not in perm]
    out = list(items)
    for j, p in enumerate(perm):
        out[start + j] = window[p]
    return out


def build_rank_prompt(query: str, texts: list[str]) -> str:
    """RankGPT-style 'complete' prompt (listwise.py:90-110): preamble, one
    ``[i] passage`` line per doc, ranking instruction. Only used to MEASURE
    prompt size for the budget-shrink loop; generation payloads build their
    own (the comparator is a black box)."""
    n = len(texts)
    head = (
        f"The following are {n} passages, each indicated by number identifier []. "
        f"Rank them based on their relevance to query: {query}\n\n"
    )
    body = "".join(f"[{i + 1}] {t}\n" for i, t in enumerate(texts))
    tail = (
        f"Rank the {n} passages above based on their relevance to the search query. "
        "The output format should be [] > [], e.g., [2] > [1]."
    )
    return head + body + tail


def shrink_window_words(
    query: str,
    texts: list[str],
    token_budget: int,
    start_words: int = 300,
    reserve: int = 200,
    counter=None,
) -> tuple[list[str], int]:
    """Listwise prompt-budget shrink (listwise.py:63-88): clamp every
    passage to ``max_words`` words, measure the assembled prompt, decrement
    the cap by 1 and rebuild until it fits ``token_budget - reserve``.
    The reference counts with tiktoken; ours defaults to the engine's simple
    tokenizer (documented deviation — the control loop is what's preserved).
    Returns (clamped_texts, final_word_cap)."""
    from llm_rankers_spark.functions.tokenize import tokenize

    counter = counter or (lambda s: len(tokenize(s, "simple")))
    max_words = start_words
    while True:
        clamped = [" ".join((t or "").split()[:max_words]) for t in texts]
        if counter(build_rank_prompt(query, clamped)) <= token_budget - reserve or max_words <= 1:
            return clamped, max_words
        max_words -= 1


def listwise_slide(
    items: list,
    query: str,
    window_size: int,
    step_size: int,
    num_repeat: int,
    token_budget: int | None = None,
    start_words: int = 300,
):
    # semantics of listwise.py:178-196: window [start, end) moves end→start
    # by step, repeated num_repeat times; with a token_budget each window's
    # passages pass through the budget-shrink loop first (listwise.py:63-88)
    arr = list(items)
    for _ in range(num_repeat):
        end = len(arr)
        start = end - window_size
        while start >= 0:
            start = max(start, 0)
            texts = [t for _, t in arr[start:end]]
            if token_budget is not None:
                texts, _ = shrink_window_words(query, texts, token_budget, start_words)
            resp = yield "permutation", texts
            arr = receive_permutation(arr, resp, start, end)
            end -= step_size
            start -= step_size
    return arr


def assemble(original: list, reordered: list, k: int) -> list[tuple[str, float]]:
    """Final ranking assembly (setwise.py:300-313, pairwise.py:279-290):
    top-k of the reordered list get score=-rank; every other doc follows in
    ORIGINAL first-stage order with continuing negative scores."""
    results: list[tuple[str, float]] = []
    top: set[str] = set()
    rank = 1
    for docid, _ in reordered[:k]:
        top.add(docid)
        results.append((docid, float(-rank)))
        rank += 1
    for docid, _ in original:
        if docid not in top:
            results.append((docid, float(-rank)))
            rank += 1
    return results


_METHODS = {
    "setwise.heapsort": lambda it, q, p: setwise_heapsort(it, p["num_child"], p["k"]),
    "setwise.bubblesort": lambda it, q, p: setwise_bubblesort(it, p["num_child"], p["k"]),
    "pairwise.allpair": lambda it, q, p: pairwise_allpair(it),
    "pairwise.heapsort": lambda it, q, p: pairwise_heapsort(it, p["k"]),
    "pairwise.bubblesort": lambda it, q, p: pairwise_bubblesort(it, p["k"]),
    "listwise.sliding": lambda it, q, p: listwise_slide(
        it, q, p["window_size"], p["step_size"], p["num_repeat"], p["token_budget"], p["start_words"],
    ),
}
_DEFAULTS = dict(k=10, num_child=3, window_size=4, step_size=2, num_repeat=1, token_budget=None, start_words=300)


# ---------------------------------------------------------------------------
# The stepper: every loop of a task in one thread, compares pooled per round.
# ---------------------------------------------------------------------------


def run_lockstep(loops: list, cmp, batch_size: int = BATCH_SIZE) -> list:
    """Drive ``loops`` — (query, sort-loop generator) pairs — to completion
    and return their results in input order.

    Each round takes the pending request of every unfinished loop and pools
    their model inputs: a model call as soon as the pool holds
    ``batch_size`` inputs, and one for the rest at the end of the round (a
    request's inputs never split across calls). A single query's loop
    exposes one compare at a time (data dependency); pooling across the
    queries of a task is what keeps a model batch full — the same reason
    the reference shards queries across jobs."""
    model = cmp.model()
    results: list = [None] * len(loops)
    seqs = [0] * len(loops)
    answers: list = [(i, None) for i in range(len(loops))]
    while answers:
        asked = []
        for i, answer in answers:
            query, loop = loops[i]
            try:
                kind, texts = loop.send(answer)
            except StopIteration as done:
                results[i] = done.value
                continue
            seqs[i] += 1
            req = Compare(kind, query, texts, seqs[i])
            asked.append((i, req, cmp.encode(req)))
        answers = []
        pool: list = []
        inputs: list = []
        for n, (i, req, x) in enumerate(asked, 1):
            pool.append((i, req, len(x)))
            inputs += x
            if len(inputs) >= batch_size or n == len(asked):
                outputs = model(inputs)
                at = 0
                for j, r, size in pool:
                    answers.append((j, cmp.decide(r, outputs[at : at + size])))
                    at += size
                pool, inputs = [], []
    return results


def rerank_many(method: str, queries: list, cmp, batch_size: int = BATCH_SIZE, **params) -> list:
    """Rerank (items, query) pairs in lockstep; one [(docid, score)]
    ranking per query."""
    p = {**_DEFAULTS, **params}
    reordered = run_lockstep([(q, _METHODS[method](items, q, p)) for items, q in queries], cmp, batch_size)
    if method == "listwise.sliding":
        # listwise assigns score=-i to the whole list (listwise.py:194-195)
        return [[(d, float(-i)) for i, (d, _) in enumerate(r)] for r in reordered]
    return [assemble(items, r, p["k"]) for (items, _), r in zip(queries, reordered)]


def rerank_local(method: str, items: list, query: str, cmp, **params) -> list[tuple[str, float]]:
    """Run one query's rerank loop locally (used by tests and gates)."""
    return rerank_many(method, [(items, query)], cmp, **params)[0]


def rerank_pandas(pdf: pd.DataFrame, method: str, cmp, params: dict, hits: int | None = None,
                  batch_size: int = BATCH_SIZE) -> pd.DataFrame:
    """Rerank one Spark group of candidates (qid, query, docid, rank, text),
    all its qids in lockstep; rows follow RERANK_SCHEMA."""
    groups = [
        (qid, g if hits is None else g.head(hits))  # per-query cap, run.py:163-164
        for qid, g in pdf.sort_values("rank", kind="stable").groupby("qid", sort=True)
    ]
    queries = [(list(zip(g["docid"], g["text"])), g["query"].iloc[0]) for _, g in groups]
    ranked = rerank_many(method, queries, cmp, batch_size, **params)
    return pd.DataFrame(
        {
            "qid": [qid for (qid, _), r in zip(groups, ranked) for _ in r],
            "docid": [d for r in ranked for d, _ in r],
            "rank": [i for r in ranked for i in range(1, len(r) + 1)],
            "score": [s for r in ranked for _, s in r],
        }
    )


def rerank(
    candidates: DataFrame,
    method: str = "setwise.heapsort",
    comparator: object = None,
    k: int = 10,
    num_child: int = 3,
    window_size: int = 4,
    step_size: int = 2,
    num_repeat: int = 1,
    hits: int | None = None,
    token_budget: int | None = None,
    start_words: int = 300,
) -> DataFrame:
    """Rerank first-stage candidates.

    ``candidates``: (qid, query, docid, rank, text). Each qid group runs its
    full sort loop in one Arrow-batched task; the comparator is shipped in
    the closure (must be picklable — MockComparator is; a real-model
    comparator holds lazy per-executor model state, see
    ``model_comparator``). One comparator serves every qid of a task: its
    decisions depend on the query alone.
    """
    comparator = comparator or MockComparator()
    params = dict(
        k=k, num_child=num_child, window_size=window_size, step_size=step_size,
        num_repeat=num_repeat, token_budget=token_budget, start_words=start_words,
    )
    return candidates.groupBy("qid").applyInPandas(
        lambda _, pdf: rerank_pandas(pdf, method, comparator, params, hits), schema=RERANK_SCHEMA
    )


def shuffle_candidates(candidates: DataFrame, how: str, seed: int = 929) -> DataFrame:
    """Pre-rerank candidate permutation (run.py:185-191): 'random' (seeded —
    we use a per-qid deterministic hash order so the result is partition-
    independent, documented divergence from random.shuffle) or 'inverse'."""
    from pyspark.sql import Window

    if how == "inverse":
        w = Window.partitionBy("qid").orderBy(F.desc("rank"))
    elif how == "random":
        w = Window.partitionBy("qid").orderBy(F.xxhash64("qid", "docid", F.lit(seed)))
    else:
        raise ValueError(f"invalid shuffle method: {how}")
    return candidates.withColumn("rank", F.row_number().over(w))

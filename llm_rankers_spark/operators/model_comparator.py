"""Real-model comparator integration: lazy per-worker model state +
cross-query batched inference.

The reference's whole point is batched LLM inference: DataLoader batching
in pairwise.py:176-204, HF ``generate`` in setwise.py:93-95, vLLM in
Rank-R1/run_setwise.py:121-126. This module is the worked example of
plugging such a model into the engine's rerank loops:

- :func:`get_model` — per-worker-process model cache. Spark reuses Python
  workers across tasks; the factory runs ONCE per worker, not once per
  task or per compare (the analogue of loading the HF checkpoint once in
  the reference's ``__init__``, setwise.py:83-101).
- :class:`ModelComparator` and its protocol variants — the comparator
  protocol (``rerank.Comparator``: prompt / model / decide) over a cached
  model. One compare's inputs always travel in ONE model call (all texts
  of a setwise window, both passages of a pair, the whole listwise window).
- :func:`rerank_batched` — the cross-QUERY layout: each Spark task owns a
  shard of queries and ``rerank.run_lockstep`` advances every query's sort
  loop in one thread, pooling the round's pending compares into large
  model batches. A single query's heapsort can only expose ~1 compare at a
  time (data dependency); pooling across the queries in a task is what
  keeps a GPU saturated — the same reason the reference shards queries
  across jobs (Rank-R1/run_setwise.py:90-92) and batches within allpair
  (pairwise.py:176-204).

The scoring-model contract is one method::

    score_batch(pairs: list[tuple[str, str]]) -> list[float]
    # pairs are (query, passage); scores are independent per pair

Independence per pair is what makes batch composition irrelevant to the
results: batched ≡ sequential, asserted in tests/test_model_comparator.py.
A real cross-encoder / LLM-likelihood scorer satisfies this; a prompt that
scores passages *jointly* (generative listwise) must go through the
single-call ``permutation`` path instead.
"""

from __future__ import annotations

import hashlib
import re
import threading

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_rankers_spark.operators.rerank import (
    BATCH_SIZE,
    RERANK_SCHEMA,
    Comparator,
    majority,
    rerank_pandas,
    vote_orders,
)

# ---------------------------------------------------------------------------
# per-worker model cache
# ---------------------------------------------------------------------------

_MODEL_REGISTRY: dict[str, object] = {}
_REGISTRY_LOCK = threading.Lock()


def get_model(name: str, factory):
    """Load-once-per-worker model cache. ``factory`` must be picklable
    (top-level callable); it runs only when this worker process has not
    seen ``name`` before."""
    with _REGISTRY_LOCK:
        if name not in _MODEL_REGISTRY:
            _MODEL_REGISTRY[name] = factory()
        return _MODEL_REGISTRY[name]


def md5_relevance(query: str, text: str) -> float:
    """The fake models' shared relevance: md5 of (query, text) in [0, 1)."""
    return int(hashlib.md5(f"{query}\x1f{text}".encode()).hexdigest()[:7], 16) / float(1 << 28)


class FakeRelevanceModel:
    """Deterministic stand-in for a cross-encoder: md5-derived relevance,
    plus instrumentation (load/batch/item counters) so tests can prove the
    lazy-load and batching behavior. Scores are per-pair independent."""

    loads = 0  # class-level: counts constructions in THIS process

    def __init__(self):
        type(self).loads += 1
        self.batches = 0
        self.items = 0

    def score_batch(self, pairs: list[tuple[str, str]]) -> list[float]:
        self.batches += 1
        self.items += len(pairs)
        return [md5_relevance(q, t) for q, t in pairs]


def fake_model_factory():
    return FakeRelevanceModel()


class HFCrossEncoderModel:
    """Shape of a real integration (NOT runnable here: transformers/torch
    are absent from this environment — SURVEY.md §2.9 scopes model payloads
    as pluggable). Mirrors the reference's batched scoring: tokenize the
    (query, passage) pairs, one forward pass per batch
    (llmrankers/pairwise.py:176-204)."""

    def __init__(self, checkpoint: str, device: str = "cuda", max_length: int = 512):
        try:
            import torch  # noqa: F401
            from transformers import (  # noqa: F401
                AutoModelForSequenceClassification,
                AutoTokenizer,
            )
        except ImportError as e:  # pragma: no cover - env without torch
            raise NotImplementedError(
                "HFCrossEncoderModel needs torch+transformers; this container "
                "has neither. Use FakeRelevanceModel for tests, or run on a "
                "GPU cluster where the factory loads the checkpoint once per "
                "executor python worker."
            ) from e
        self.tok = AutoTokenizer.from_pretrained(checkpoint)  # pragma: no cover
        self.model = AutoModelForSequenceClassification.from_pretrained(checkpoint).to(device).eval()  # pragma: no cover
        self.device, self.max_length = device, max_length  # pragma: no cover

    def score_batch(self, pairs):  # pragma: no cover - needs torch
        import torch

        qs = [q for q, _ in pairs]
        ts = [t for _, t in pairs]
        enc = self.tok(qs, ts, truncation=True, padding=True, max_length=self.max_length, return_tensors="pt").to(self.device)
        with torch.no_grad():
            return self.model(**enc).logits.squeeze(-1).tolist()


# ---------------------------------------------------------------------------
# comparators over a cached model
# ---------------------------------------------------------------------------


class ModelComparator(Comparator):
    """The comparator protocol over the per-worker cached model:
    ``model()`` is its ``MODEL_METHOD`` batch method. Decisions are the
    default scoring rules of ``rerank.Comparator`` — the same as
    MockComparator's — so every loop-semantics test applies unchanged."""

    MODEL_METHOD = "score_batch"

    def __init__(self, model_name: str, model_factory):
        self.model_name = model_name
        self.model_factory = model_factory

    def model(self):
        return getattr(get_model(self.model_name, self.model_factory), self.MODEL_METHOD)


class GenerativeModelComparator(ModelComparator):
    """Generation-mode comparator — the reference's actual P4/P6/P8 protocol:
    build a prompt, ``generate_batch`` a label string, parse it
    (pairwise.py:84-131 'Passage A'/'Passage B'; setwise.py:86-101 label
    letter; listwise.py:91-110 '[2] > [1]' permutation).

    The model contract is ``generate_batch(prompts: list[str]) ->
    list[str]``; :func:`rerank_batched` (``comparator_cls=
    GenerativeModelComparator``) pools prompts across queries. Malformed
    outputs degrade the same way the reference does: unparseable setwise
    label → keep current best (index 0 is the parent slot); inconsistent
    pairwise orders → a wins only if both agree; permutation repair happens
    downstream in receive_permutation."""

    LABELS = "ABCDEFGHIJKLMNOPQRSTUVW"  # setwise.py:22-23 label alphabet
    MODEL_METHOD = "generate_batch"

    @staticmethod
    def _pair_prompt(query: str, x: str, y: str) -> str:
        return (
            f"Given a query \"{query}\", which of the following two passages is more "
            f"relevant to the query?\n\nPassage A: \"{x}\"\n\nPassage B: \"{y}\"\n\n"
            "Output Passage A or Passage B:"
        )

    def prompt(self, req) -> list[str]:
        query, texts = req.query, req.texts
        if req.kind == "best_of":
            labels = ", ".join(f"Passage {self.LABELS[i]}" for i in range(len(texts)))
            body = "\n".join(f"Passage {self.LABELS[i]}: \"{t}\"" for i, t in enumerate(texts))
            return [
                f"Given a query \"{query}\", which of the following passages is the most "
                f"relevant one to the query?\n\n{body}\n\nOutput only the passage label of "
                f"the most relevant passage ({labels}):"
            ]
        if req.kind == "pair":
            # both document orders in ONE batch (pairwise.py:84-131)
            a, b = texts
            return [self._pair_prompt(query, a, b), self._pair_prompt(query, b, a)]
        body = "\n".join(f"[{i + 1}] {t}" for i, t in enumerate(texts))
        return [
            f"Rank the {len(texts)} passages based on their relevance to query "
            f"\"{query}\".\n\n{body}\n\nThe output format should be [] > [], "
            "e.g., [2] > [1]:"
        ]

    def decide(self, req, outs: list[str]):
        if req.kind == "best_of":
            out = outs[0].strip()
            # parse: last character label (setwise.py:99-101 output[-1])
            label = out[-1] if out else ""
            return self.LABELS.index(label) if label in self.LABELS[: len(req.texts)] else 0
        if req.kind == "pair":
            return outs[0].strip().endswith("Passage A"), outs[1].strip().endswith("Passage B")
        return outs[0]


class OpenAIGenerativeModel:
    """P-API — the worked API-ranker example (llmrankers/setwise.py:338-399,
    OpenAiSetwiseLlmRanker): truncate each prompt to a token budget, send a
    chat completion per prompt, retry transient API errors. Satisfies the
    ``generate_batch`` contract, so it plugs into
    :class:`GenerativeModelComparator` / :class:`RankR1Comparator` and
    :func:`rerank_batched`'s cross-query pooling unchanged — one worker
    process keeps ONE client (via :func:`get_model`), and batching happens
    above it.

    Divergences from the reference, both deliberate: retries are BOUNDED
    (the reference loops forever with sleep(5) — an infinite retry inside an
    executor task turns one bad record into a hung stage), and truncation
    falls back to a whitespace clamp when tiktoken is absent (the control
    flow, not the tokenizer, is the semantics). ``transport`` is injectable
    for tests; the default builds an OpenAI client (absent here — this
    container has no network/openai package, so construction without a
    transport raises with that explanation, mirroring HFCrossEncoderModel).
    """

    def __init__(self, model: str = "gpt-4o-mini", api_key: str | None = None,
                 max_prompt_tokens: int = 4096, max_retries: int = 3,
                 retry_sleep: float = 5.0, transport=None):
        self.model = model
        self.max_prompt_tokens = max_prompt_tokens
        self.max_retries = max_retries
        self.retry_sleep = retry_sleep
        self.retries = 0
        if transport is not None:
            self._transport = transport
        else:  # pragma: no cover - env without openai
            try:
                from openai import OpenAI
            except ImportError as e:
                raise NotImplementedError(
                    "OpenAIGenerativeModel needs the openai package (absent in "
                    "this container). Pass transport=callable(prompt)->str for "
                    "tests, or run where the factory builds one client per "
                    "executor python worker."
                ) from e
            client = OpenAI(api_key=api_key)

            def _transport(prompt: str) -> str:
                resp = client.chat.completions.create(
                    model=self.model,
                    messages=[{"role": "user", "content": prompt}],
                    temperature=0.0,
                )
                return resp.choices[0].message.content

            self._transport = _transport

    def _truncate(self, prompt: str) -> str:
        try:  # tiktoken truncation (setwise.py:357-360) when available
            import tiktoken

            enc = tiktoken.get_encoding("cl100k_base")
            toks = enc.encode(prompt)
            return enc.decode(toks[: self.max_prompt_tokens]) if len(toks) > self.max_prompt_tokens else prompt
        except ImportError:
            words = prompt.split(" ")
            return " ".join(words[: self.max_prompt_tokens]) if len(words) > self.max_prompt_tokens else prompt

    def generate_batch(self, prompts: list[str]) -> list[str]:
        import time as _time

        outs = []
        for prompt in prompts:
            prompt = self._truncate(prompt)
            last = None
            for attempt in range(self.max_retries + 1):
                try:
                    outs.append(self._transport(prompt))
                    break
                except Exception as e:  # noqa: BLE001 - API errors are opaque
                    last = e
                    self.retries += 1
                    if attempt < self.max_retries and self.retry_sleep > 0:
                        _time.sleep(self.retry_sleep)
            else:
                raise last
        return outs


class DuoProbPairComparator(ModelComparator):
    """P5 — the DuoT5 protocol (llmrankers/pairwise.py:296-318): one joint
    prompt ``'Query: {q} Document0: {a} Document1: {b} Relevant:'`` per
    order, the model returns P(true) for each, and document A wins iff
    ``P(true)(A,B) > P(true)(B,A)`` (strict — the reference compares the
    two softmaxed true-probabilities with ``>``).

    Model contract: ``score_batch(items)`` where each item is a
    ``(query, duo_prompt)`` pair and the score is P(true) of that prompt —
    so the same per-worker cache and cross-query pooling apply (both orders
    always travel in ONE batch, like the reference's 2-row tensor). DuoT5
    defines only the pairwise compare; the reference wires it to heapsort
    only (pairwise.py:320-335) — best_of/permutation are therefore protocol
    errors here."""

    PROMPT = "Query: {query} Document0: {doc1} Document1: {doc2} Relevant:"

    def prompt(self, req) -> list[tuple[str, str]]:
        if req.kind != "pair":
            raise NotImplementedError("DuoT5 defines only the pairwise compare")
        q, (a, b) = req.query, req.texts
        return [
            (q, self.PROMPT.format(query=q, doc1=a, doc2=b)),
            (q, self.PROMPT.format(query=q, doc1=b, doc2=a)),
        ]

    def decide(self, req, scores: list[float]) -> tuple[bool, bool]:
        win = scores[0] > scores[1]  # strict, per the reference's batch_probs[0] > [1]
        return win, win


class FakeDuoModel:
    """Deterministic DuoT5 stand-in: parses Document0/Document1 from the duo
    prompt and returns a monotone P(true) in rel(doc0) − rel(doc1), so
    ``P(A,B) > P(B,A)  ⟺  rel(A) > rel(B)`` — duo results must equal a
    plain scoring comparator on the same relevance (tested)."""

    def __init__(self):
        self.batches = 0
        self.items = 0

    @staticmethod
    def _rel(text: str) -> float:
        return int(hashlib.md5(text.encode()).hexdigest()[:7], 16) / float(1 << 28)

    def score_batch(self, items: list[tuple[str, str]]) -> list[float]:
        import math

        self.batches += 1
        self.items += len(items)
        outs = []
        for _q, prompt in items:
            m = re.search(r"Document0: (.*) Document1: (.*) Relevant:$", prompt, re.DOTALL)
            d0, d1 = m.group(1), m.group(2)
            outs.append(1.0 / (1.0 + math.exp(-(self._rel(d0) - self._rel(d1)))))
        return outs


def fake_duo_factory():
    return FakeDuoModel()


class RankR1Comparator(GenerativeModelComparator):
    """P10 — the Rank-R1 reasoning setwise protocol
    (llmrankers/setwise.py:406-553 + Rank-R1/prompts/prompt_setwise-R1.toml):
    chat-style prompt (system message demanding ``<think>…</think>
    <answer>…</answer>``, user message listing ``[i]: passage`` lines),
    ``num_permutation`` shuffled copies generated per compare, each
    completion parsed with the toml's answer pattern, votes mapped back
    through the shuffle, majority wins.

    Divergences (documented, deterministic): the reference shuffles with the
    global RNG and breaks vote ties with random.choice — here the shuffles
    derive from (seed, the query's compare index) and ties go to the first
    vote, so results depend on the query alone; the chat template is
    rendered as plain ``system\\n\\nuser`` text (the real template is
    tokenizer-specific and lives in the model payload). Parse failures fall
    back to index 0 = parent keeps its slot, the same degradation as the
    reference's unexpected-output path (setwise.py:546)."""

    # prompt text mirrors Rank-R1/prompts/prompt_setwise-R1.toml
    PROMPT_SYSTEM = (
        "A conversation between User and Assistant. The user asks a question, "
        "and the Assistant solves it. The assistant first thinks about the "
        "reasoning process in the mind and then provides the user with the "
        "answer. The reasoning process and answer are enclosed within <think> "
        "</think> and <answer> </answer> tags, respectively, i.e., <think> "
        "reasoning process here </think> <answer> answer here </answer>."
    )
    PROMPT_USER = (
        'Given the query: "{query}", which of the following documents is most '
        "relevant?\n{docs}\nAfter completing the reasoning process, please "
        "provide only the label of the most relevant document to the query, "
        "enclosed in square brackets, within the answer tags. For example, if "
        "the third document is the most relevant, the answer should be: "
        "<think> reasoning process here </think> <answer>[3]</answer>."
    )
    ANSWER_PATTERN = r"<think>.*?</think>\s*<answer>(.*?)</answer>"
    DOC_PREFIX = "[{num}]: "
    DOC_SEPARATOR = "\n"

    def __init__(self, model_name: str, model_factory, num_permutation: int = 1, seed: int = 929):
        super().__init__(model_name, model_factory)
        self.num_permutation = num_permutation
        self.seed = seed

    def _orders(self, req) -> list[list[int]]:
        return vote_orders(len(req.texts), self.seed, req.seq, self.num_permutation)

    def prompt(self, req) -> list[str]:
        if req.kind != "best_of":
            return super().prompt(req)
        return [
            self.PROMPT_SYSTEM + "\n\n" + self.PROMPT_USER.format(
                query=req.query,
                docs=self.DOC_SEPARATOR.join(
                    self.DOC_PREFIX.format(num=i + 1) + req.texts[j] for i, j in enumerate(order)
                ),
            )
            for order in self._orders(req)
        ]

    def decide(self, req, outs: list[str]):
        if req.kind != "best_of":
            return super().decide(req, outs)
        labels = [f"[{i + 1}]" for i in range(len(req.texts))]
        votes: list[int] = []
        for order, completion in zip(self._orders(req), outs):
            m = re.search(self.ANSWER_PATTERN, (completion or "").lower(), re.DOTALL)
            if m and m.group(1).strip() in labels:
                votes.append(order[labels.index(m.group(1).strip())])
        return majority(votes) if votes else 0  # parent keeps its slot (unexpected-output fallback)


class RankZephyrComparator(GenerativeModelComparator):
    """P8-zephyr — the RankZephyr listwise chat protocol
    (Rank-R1/run_listwise.py:92-158 R1ListwiseLlmRanker +
    Rank-R1/prompts/prompt_listwise_rankzephyr.toml): system/user chat
    prompt with ``[i] passage`` lines, one ``llm.chat`` call per window,
    completion matched against the toml's permutation pattern; no match →
    the literal string 'None' (run_listwise.py:150-156), which
    ``receive_permutation`` downstream treats as the identity permutation.

    Only the listwise ``permutation`` compare is defined (the reference
    wires this ranker to the sliding-window loop exclusively); best_of /
    pair are protocol errors. Plugs into :func:`rerank_batched` with
    ``method='listwise.sliding'`` — windows across queries pool into one
    ``generate_batch``.

    Divergence (documented, same as RankR1Comparator): the chat template is
    rendered as plain ``system\\n\\nuser`` text — the real template is
    tokenizer-specific and lives in the model payload."""

    # prompt text mirrors Rank-R1/prompts/prompt_listwise_rankzephyr.toml
    PROMPT_SYSTEM = (
        "You are RankLLM, an intelligent assistant that can rank passages "
        "based on their relevancy to the query"
    )
    PROMPT_USER = (
        "I will provide you with {num} passages, each indicated by a "
        "numerical identifier []. Rank the passages based on their relevance "
        "to the search query: {query}.\n{docs}\nSearch Query: {query}.\n"
        "Rank the {num} passages above based on their relevance to the "
        "search query. All the passages should be included and listed using "
        "identifiers, in descending order of relevance. The output format "
        "should be [] > [], e.g., [2] > [1], Only respond with the ranking "
        "results, do not say any word or explain."
    )
    PATTERN = r"\s*([\d+\s*>*\[\]]+)\s*"

    def prompt(self, req) -> list[str]:
        if req.kind != "permutation":
            raise NotImplementedError("RankZephyr defines only the listwise permutation")
        docs = "\n".join(f"[{i + 1}] {t}" for i, t in enumerate(req.texts))
        return [self.PROMPT_SYSTEM + "\n\n" + self.PROMPT_USER.format(num=len(req.texts), query=req.query, docs=docs)]

    def decide(self, req, outs: list[str]) -> str:
        m = re.search(self.PATTERN, (outs[0] or "").lower(), re.DOTALL)
        return m.group(1).strip() if m else "None"


class FakeZephyrModel:
    """Deterministic RankZephyr stand-in: recovers the ``[i] passage`` lines
    and the search query from the chat prompt, ranks by the shared
    md5-derived relevance, answers '[2] > [1] > ...' — so zephyr listwise
    results must equal a scoring comparator on the same relevance (tested)."""

    def __init__(self):
        self.batches = 0
        self.items = 0

    def generate_batch(self, prompts: list[str]) -> list[str]:
        self.batches += 1
        self.items += len(prompts)
        outs = []
        for p in prompts:
            q = re.search(r"Search Query: (.*?)\.\n", p, re.DOTALL).group(1)
            # anchor to line starts: the instruction tail contains a literal
            # "e.g., [2] > [1]," that an unanchored pattern would pick up
            texts = re.findall(r"^\[\d+\] (.*)$", p, re.MULTILINE)
            order = sorted(range(len(texts)), key=lambda i: (-md5_relevance(q, texts[i]), i))
            outs.append(" > ".join(f"[{i + 1}]" for i in order))
        return outs


def fake_zephyr_factory():
    return FakeZephyrModel()


class RankR1V02Comparator(RankR1Comparator):
    """P10-v0.2 — the Rank-R1 v0.2 prompt variant
    (Rank-R1/prompts/prompt_setwise-R1-v0.2.toml): analysis-oriented
    RankLLM system/user text, ``[i]: doc`` lines joined by BLANK lines,
    same ``<think>/<answer>`` answer pattern and voting flow as v1 — only
    the prompt protocol differs, so everything else inherits."""

    # prompt text mirrors Rank-R1/prompts/prompt_setwise-R1-v0.2.toml
    PROMPT_SYSTEM = (
        "You are RankLLM, an intelligent assistant capable of evaluating the "
        "relevancy of passages to a given query."
    )
    PROMPT_USER = (
        "You will be presented with a query, and a set of documents.\n\n"
        "Your task consists of the following step:\n\n"
        "1. Analyze the query: Carefully read the query and identify the core "
        "problem or question being asked.\n\n"
        "2. Analyze the documents: Thoroughly examine each document and briefly "
        "explain how each document is relevant or not relevant to the query.\n\n"
        "3. Find the most relevant document: Based on your analysis, select the "
        "most relevant document to the query from the set and briefly explain "
        "why.\n\n"
        "Important: Provide your analysis within the <think> </think> tags and "
        "answer only the label of the most relevant document, enclosed in "
        "square brackets, within the <answer> </answer> tags. For example, if "
        "the third document is the most relevant, your response should be:\n"
        "<think> Your analysis here </think>\n<answer>[3]</answer>\n\n"
        "Here is the query: {query}\n\nHere are the documents:\n{docs}"
    )
    DOC_SEPARATOR = "\n\n"


class FakeReasoningModel:
    """Deterministic Rank-R1 stand-in: recovers the ``[i]: passage`` lines
    from the user message, ranks them by the md5 relevance and answers with
    a ``<think>…</think> <answer>[best]</answer>`` trace."""

    def __init__(self):
        self.batches = 0
        self.items = 0

    def generate_batch(self, prompts: list[str]) -> list[str]:
        self.batches += 1
        self.items += len(prompts)
        outs = []
        for p in prompts:
            m = re.search(r'Given the query: "([^"]*)"', p)  # v1 prompt
            if m is None:  # v0.2 prompt
                m = re.search(r"Here is the query: (.*?)\n\nHere are the documents:", p, re.DOTALL)
            q = m.group(1)
            texts = re.findall(r"\[\d+\]: (.*)", p)
            best = max(range(len(texts)), key=lambda i: (md5_relevance(q, texts[i]), -i))
            outs.append(f"<think> scored {len(texts)} docs </think> <answer>[{best + 1}]</answer>")
        return outs


def fake_reasoning_factory():
    return FakeReasoningModel()


class FakeGenerativeModel:
    """Deterministic generation stand-in: answers each prompt by recovering
    the passages from the prompt text and ranking them with the same
    md5-derived relevance as FakeRelevanceModel — so generative results are
    comparable against the scoring-mode comparator in tests."""

    def __init__(self):
        self.batches = 0
        self.items = 0

    def generate_batch(self, prompts: list[str]) -> list[str]:
        self.batches += 1
        self.items += len(prompts)
        outs = []
        for p in prompts:
            q = re.search(r'query "([^"]*)"', p).group(1)
            if "Output Passage A or Passage B" in p:
                a = re.search(r'Passage A: "(.*?)"\n', p, re.DOTALL).group(1)
                b = re.search(r'Passage B: "(.*?)"\n', p, re.DOTALL).group(1)
                outs.append("Passage A" if md5_relevance(q, a) >= md5_relevance(q, b) else "Passage B")
            elif "Output only the passage label" in p:
                texts = re.findall(r'Passage [A-W]: "(.*?)"\n?', p, re.DOTALL)
                best = max(range(len(texts)), key=lambda i: (md5_relevance(q, texts[i]), -i))
                outs.append(f"Passage {GenerativeModelComparator.LABELS[best]}")
            else:
                texts = re.findall(r"\[\d+\] (.*)", p)
                order = sorted(range(len(texts)), key=lambda i: (-md5_relevance(q, texts[i]), i))
                outs.append(" > ".join(f"[{i + 1}]" for i in order))
        return outs


def fake_generative_factory():
    return FakeGenerativeModel()


# ---------------------------------------------------------------------------
# cross-query layout: a shard of qids per task, one stepper per shard
# ---------------------------------------------------------------------------


def rerank_batched(
    candidates: DataFrame,
    method: str = "setwise.heapsort",
    model_name: str = "fake",
    model_factory=fake_model_factory,
    k: int = 10,
    num_child: int = 3,
    window_size: int = 4,
    step_size: int = 2,
    num_repeat: int = 1,
    batch_size: int = BATCH_SIZE,
    queries_per_task: int = 64,
    num_tasks: int | None = None,
    comparator_cls: type = ModelComparator,
) -> DataFrame:
    """Rerank with a real (lazily-loaded, batch-scoring) model.

    Unlike :func:`~llm_rankers_spark.operators.rerank.rerank` (one qid per
    Arrow group), this shards qids so each task owns ``queries_per_task``
    of them, and one ``comparator_cls(model_name, model_factory)`` answers
    all their compares through ``rerank.run_lockstep``: each round, every
    unfinished query's pending compare is pooled, one model call per
    ``batch_size`` inputs — the GPU-scale layout. Results are identical to
    the per-qid path for any per-pair-independent model (tested batched ≡
    sequential in test_model_comparator.py).

    At 100 TB / 10^6-query scale: tasks = n_queries / queries_per_task,
    each holding ``queries_per_task × hits`` candidate texts in one Arrow
    batch — size queries_per_task so that fits executor memory, and
    batch_size to the model's optimal GPU batch.
    """
    params = dict(
        k=k, num_child=num_child, window_size=window_size, step_size=step_size, num_repeat=num_repeat
    )

    def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        cmp = comparator_cls(model_name, model_factory)
        return rerank_pandas(pdf, method, cmp, params, batch_size=batch_size)

    # deterministic qid->shard spread: ~queries_per_task qids per task. The
    # distinct count is a distributed aggregate (no data collected); pass
    # num_tasks explicitly to skip even that job.
    if num_tasks is None:
        n_q = candidates.select("qid").distinct().count()
        num_tasks = max(1, -(-n_q // max(queries_per_task, 1)))
    shards = candidates.withColumn("_shard", F.pmod(F.xxhash64("qid"), F.lit(num_tasks)))
    return shards.groupBy("_shard").applyInPandas(lambda _, pdf: run_shard(pdf), schema=RERANK_SCHEMA)

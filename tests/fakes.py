"""Deterministic model and media stand-ins for the tests.

Each fake model recovers the passages from the prompt its comparator
builds and answers from ``md5_relevance``, the same relevance
``FakeRelevanceModel`` scores with, so a protocol comparator's results can
be compared with the scoring comparator's. The ``fake_*_factory``
functions are the picklable factories ``rerank_batched`` ships to the
Python workers. Executors cannot import ``tests``, so this module is
registered with cloudpickle to travel by value.
"""

import hashlib
import math
import re
import sys

from pyspark import cloudpickle

from llm_rankers_spark.operators.model_comparator import GenerativeModelComparator, md5_relevance
from llm_rankers_spark.operators.multimodal import MEDIA_SCHEMA

cloudpickle.register_pickle_by_value(sys.modules[__name__])


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


def synth_media(spark, n: int = 32, seed: int = 42):
    """Deterministic fake media table for plumbing tests."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (f"m{i}", kind, bytearray(payload), f"{kind}/x-fake", 64 + i, 48 + i, 1000 * (1 + i % 7))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)

"""Pointwise rerank scoring — the reference's P1-P3 payloads
(llmrankers/pointwise.py) as one vectorized Arrow pass.

Unlike the comparison loops, pointwise scoring is embarrassingly parallel:
score every (query, passage) pair independently, then T1-sort per query
(pointwise.py:129, 185). The operator is therefore a single ``mapInPandas``
over the candidates table — the batch dimension maps 1:1 onto the
reference's DataLoader batching (pointwise.py:45-56).

Scorer payloads (each a vectorized function batch → scores):

- ``yes_no``  : P2 (pointwise.py:84-127) — P(yes) from the first-token
  softmax over {Yes, No}.
- ``qlm``     : P1 (pointwise.py:41-82) — query-likelihood, score =
  Σ −CE(query tokens | passage prompt).
- ``monot5``  : P3 (pointwise.py:136-186) — P(true) over {true, false}.

No GPU model ships in this sandbox, so the default payloads are
deterministic mocks with the right *shape* (logits → softmax → probability)
driven by a seeded hash of (query, text); a real HF model slots in as
another ``scorer`` callable with per-executor lazy state.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCORED_SCHEMA = "qid string, docid string, score double"


def _hash_unit(queries: pd.Series, texts: pd.Series) -> np.ndarray:
    """Deterministic pseudo-logit in [0, 1) per (query, text) pair."""
    out = np.empty(len(texts), dtype=np.float64)
    for i, (q, t) in enumerate(zip(queries, texts)):
        h = hashlib.md5(f"{q}\x1f{t}".encode()).hexdigest()[:13]
        out[i] = int(h, 16) / 16**13
    return out


def mock_yes_no_scorer(queries: pd.Series, texts: pd.Series) -> np.ndarray:
    """P2 shape: two pseudo-logits → softmax → P(yes) (pointwise.py:120-124)."""
    u = _hash_unit(queries, texts)
    logit_yes = 4.0 * (u - 0.5)
    logit_no = -logit_yes
    m = np.maximum(logit_yes, logit_no)
    ey = np.exp(logit_yes - m)
    en = np.exp(logit_no - m)
    return ey / (ey + en)


def mock_qlm_scorer(queries: pd.Series, texts: pd.Series) -> np.ndarray:
    """P1 shape: score = Σ −CE over query tokens (pointwise.py:77-79) —
    mocked as query-length × pseudo-per-token log-likelihood."""
    u = _hash_unit(queries, texts)
    qlen = queries.str.split().str.len().to_numpy(dtype=np.float64)
    per_token_ll = np.log(np.clip(u, 1e-6, 1 - 1e-6))
    return qlen * per_token_ll


def mock_monot5_scorer(queries: pd.Series, texts: pd.Series) -> np.ndarray:
    """P3 shape: softmax over {false, true} token logits (pointwise.py:177-180)."""
    return mock_yes_no_scorer(queries, texts)


SCORERS = {"yes_no": mock_yes_no_scorer, "qlm": mock_qlm_scorer, "monot5": mock_monot5_scorer}


def pointwise_rerank(
    candidates: DataFrame,
    method: str = "yes_no",
    scorer=None,
    hits: int | None = None,
) -> DataFrame:
    """(qid, query, docid, rank, text) → (qid, docid, rank, score), ranked
    by (score desc, docid asc) per query (T1, pointwise.py:129)."""
    scorer = scorer or SCORERS[method]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            scores = scorer(pdf["query"], pdf["text"])
            yield pd.DataFrame({"qid": pdf["qid"], "docid": pdf["docid"], "score": scores})

    cands = candidates
    if hits is not None:
        w = Window.partitionBy("qid").orderBy(F.asc("rank"))
        cands = cands.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= hits).drop("_rn")
    scored = cands.select("qid", "query", "docid", "text").mapInPandas(run, schema=SCORED_SCHEMA)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return scored.withColumn("rank", F.row_number().over(w))

"""Pure-Python exhaustive BM25 oracle sharing the engine tokenizer.

This is the rank-identity reference of BASELINE.md: same formula, same
tokenizer, same (score desc, docid asc) tie-break, contributions summed in
sorted-term order so even float64 op order matches the engine.
"""

from __future__ import annotations

import math
from collections import Counter

from llm_rankers_spark.functions.tokenize import tokenize


def bm25_oracle(
    docs: list[tuple[str, str]],
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = 0.9,
    b: float = 0.4,
    mode: str = "code",
) -> dict[str, list[tuple[str, float]]]:
    """docs: [(docid, content)], queries: [(qid, query)] →
    {qid: [(docid, score)] top-k}."""
    tf: dict[str, Counter] = {}
    dl: dict[str, int] = {}
    for docid, content in docs:
        toks = tokenize(content, mode)
        tf[docid] = Counter(toks)
        dl[docid] = len(toks)
    n = len(docs)
    avgdl = sum(dl.values()) / n if n else 0.0
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())

    out: dict[str, list[tuple[str, float]]] = {}
    for qid, query in queries:
        qterms = Counter(tokenize(query, mode))
        scores: dict[str, float] = {}
        for docid in tf:
            s = 0.0
            hit = False
            for term in sorted(qterms):  # sorted-term accumulation order
                f = tf[docid].get(term)
                if not f or term not in df:
                    continue
                hit = True
                idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
                s += qterms[term] * idf * f / (f + k1 * (1.0 - b + b * dl[docid] / avgdl))
            if hit:
                scores[docid] = s
        ranked = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
        out[qid] = ranked
    return out


def fresh_shard_manifest(spark, index_path: str) -> list[dict]:
    """Per-shard (lists, postings, term_crc) of an index's postings, computed
    by a fresh read and ``groupBy("shard")`` — the oracle for the manifest a
    build records from its own write."""
    import os

    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(os.path.join(index_path, "postings"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("lists"),
            F.sum("n").alias("postings"),
            F.sum(F.crc32(F.col("term"))).alias("term_crc"),
        )
        .orderBy("shard")
        .collect()
    )
    return [r.asDict() for r in rows]

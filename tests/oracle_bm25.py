"""Pure-Python exhaustive BM25 oracle sharing the engine tokenizer.

This is the rank-identity reference of BASELINE.md: same formula, same
tokenizer, same (score desc, docid asc) tie-break, contributions summed in
sorted-term order so even float64 op order matches the engine.

It also holds the kernel-level references: a per-list posting packer
(:func:`pack_posting_list`, the reference of the codec's many-list
packer) and, for tests/test_wand_property.py, a doc-at-a-time block-max
WAND over packed posting rows (:func:`score_rows_wand`) and one-query
frames of the engine's two vectorized kernels
(:func:`score_rows_exhaustive`, :func:`score_rows_block_max`).
"""

from __future__ import annotations

import heapq
import math
from collections import Counter

import numpy as np
import pandas as pd

from llm_rankers_spark.functions import codec
from llm_rankers_spark.functions.tokenize import tokenize
from llm_rankers_spark.operators.bm25 import _block_max_arrays, _exhaustive_arrays


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


def pack_posting_list(
    doc_ords: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = codec.DEFAULT_K1,
    b: float = codec.DEFAULT_B,
) -> dict:
    """Pack ONE posting list with a per-block Python loop — the reference
    the engine's one-pass :func:`codec.pack_postings` must match byte for
    byte. Returns one postings row keyed like the schema."""
    doc_ords = np.ascontiguousarray(doc_ords, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n = doc_ords.size
    deltas = np.diff(doc_ords, prepend=0)
    if n > 1 and (deltas[1:] <= 0).any():
        raise ValueError("doc ordinals must be strictly increasing")
    tfn = tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    row = {"n": n, "block_last": [], "block_max_tfn": []}
    for blob_col, offs_col, vals in (
        ("docs_blob", "doc_offs", deltas), ("tfs_blob", "tf_offs", tfs), ("dls_blob", "dl_offs", dls)
    ):
        row[blob_col], row[offs_col] = b"", []
        for lo in range(0, n, codec.BLOCK):
            row[offs_col].append(len(row[blob_col]))
            row[blob_col] += codec.encode_varint(vals[lo : lo + codec.BLOCK])[0]
    for lo in range(0, n, codec.BLOCK):
        row["block_last"].append(int(doc_ords[min(lo + codec.BLOCK, n) - 1]))
        row["block_max_tfn"].append(float(tfn[lo : lo + codec.BLOCK].max()))
    return row


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


class _ListIter:
    """Cursor over one packed posting list with block-aligned skipping."""

    __slots__ = (
        "weight", "nblocks", "blk", "pos", "docs", "tfs", "dls", "cur", "exhausted", "ub", "n",
        "docs_blob", "tfs_blob", "dls_blob", "doc_offs", "tf_offs", "dl_offs", "block_last", "block_max_tfn",
    )

    def __init__(self, row, weight: float):
        self.weight = weight  # qw * idf
        self.n = int(row["n"])
        self.docs_blob, self.tfs_blob, self.dls_blob = row["docs_blob"], row["tfs_blob"], row["dls_blob"]
        self.doc_offs = np.asarray(row["doc_offs"], dtype=np.int64)
        self.tf_offs = np.asarray(row["tf_offs"], dtype=np.int64)
        self.dl_offs = np.asarray(row["dl_offs"], dtype=np.int64)
        self.block_last = np.asarray(row["block_last"], dtype=np.int64)
        self.block_max_tfn = np.asarray(row["block_max_tfn"], dtype=np.float64)
        self.nblocks = self.doc_offs.shape[0]
        self.ub = self.weight * float(self.block_max_tfn.max())  # term upper bound
        self.blk = -1
        self.exhausted = False
        self._load_block(0)

    def _load_block(self, i: int):
        if i >= self.nblocks:
            self.exhausted = True
            self.cur = np.iinfo(np.int64).max
            return
        self.docs, self.tfs, self.dls = codec.unpack_block(
            self.docs_blob, self.tfs_blob, self.dls_blob,
            self.doc_offs, self.tf_offs, self.dl_offs, self.block_last,
            self.n, i,
        )
        self.blk = i
        self.pos = 0
        self.cur = int(self.docs[0])

    def block_max_contrib(self) -> float:
        return self.weight * float(self.block_max_tfn[self.blk])

    def block_last_doc(self) -> int:
        return int(self.block_last[self.blk])

    def advance_to(self, target: int):
        """Move cursor to first doc >= target (block skip + binary search)."""
        if self.exhausted or self.cur >= target:
            return
        if self.block_last[self.blk] < target:
            # skip whole blocks using the block_last skip pointers
            j = int(np.searchsorted(self.block_last, target, side="left"))
            self._load_block(j)
            if self.exhausted:
                return
        p = int(np.searchsorted(self.docs[self.pos :], target, side="left")) + self.pos
        if p >= self.docs.size:
            self._load_block(self.blk + 1)
        else:
            self.pos = p
            self.cur = int(self.docs[p])

    def next(self):
        self.pos += 1
        if self.pos >= self.docs.size:
            self._load_block(self.blk + 1)
        else:
            self.cur = int(self.docs[self.pos])

    def contrib(self, k1: float, b: float, avgdl: float) -> float:
        tf = float(self.tfs[self.pos])
        dl = float(self.dls[self.pos])
        return self.weight * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def score_rows_wand(
    qid: str, rows: list, k: int, k1: float, b: float, avgdl: float
) -> pd.DataFrame:
    """Block-max WAND with a bounded min-heap over one query's shard lists —
    the doc-at-a-time reference traversal. ``rows`` = [(posting_row,
    weight)] already sorted by term; the baked bounds must hold, i.e.
    (k1, b, avgdl) are the index's own."""
    iters = [_ListIter(row, w) for row, w in rows if int(row["n"]) > 0]
    heap: list[tuple[float, int]] = []  # (score, -ord): kth best at heap[0]
    theta = -np.inf
    while True:
        live = [it for it in iters if not it.exhausted]
        if not live:
            break
        live.sort(key=lambda it: it.cur)
        # pivot: first prefix whose ub sum reaches theta
        acc = 0.0
        pivot_idx = -1
        for i, it in enumerate(live):
            acc += it.ub
            if acc >= theta or len(heap) < k:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no doc can make the heap
        pivot_doc = live[pivot_idx].cur
        if live[0].cur == pivot_doc:
            involved = [it for it in live if it.cur == pivot_doc]
            if len(heap) >= k:
                bm_ub = sum(it.block_max_contrib() for it in involved)
                if bm_ub < theta or (bm_ub == theta and heap and -heap[0][1] <= pivot_doc):
                    # The block-max bound only covers the lists at the pivot;
                    # a doc past the pivot may also appear in a later list, so
                    # cap the jump at the earliest other cursor (BMW d'+1 rule,
                    # Ding & Suel 2011) as well as the nearest block boundary.
                    nxt = min(it.block_last_doc() for it in involved) + 1
                    others = [it.cur for it in live if it.cur > pivot_doc]
                    if others:
                        nxt = min(nxt, min(others))
                    for it in involved:
                        it.advance_to(nxt)
                    continue
            # full score, summed in sorted-term order (involved is term-sorted)
            s = 0.0
            for it in involved:
                s += it.contrib(k1, b, avgdl)
            entry = (s, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
                if len(heap) == k:
                    theta = heap[0][0]
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
                theta = heap[0][0]
            for it in involved:
                it.next()
        else:
            # advance all lists before the pivot up to the pivot doc
            for it in live[:pivot_idx]:
                it.advance_to(pivot_doc)
    ranked = sorted(((s, -negord) for s, negord in heap), key=lambda t: (-t[0], t[1]))
    return pd.DataFrame(
        {"qid": qid,
         "ord": [o for _, o in ranked],
         "score": [s for s, _ in ranked]}
    )


def score_rows_exhaustive(qid: str, rows: list, k: int, k1: float, b: float, avgdl: float) -> pd.DataFrame:
    """One query through the engine's numpy-exhaustive kernel."""
    uniq, scores = _exhaustive_arrays(rows, k, k1, b, avgdl, {})
    return pd.DataFrame({"qid": qid, "ord": uniq, "score": scores})


def score_rows_block_max(
    qid: str, rows: list, k: int, k1: float, b: float, avgdl: float, bound_scale: float = 1.0
) -> pd.DataFrame:
    """One query through the engine's block-max kernel."""
    uniq, scores = _block_max_arrays(rows, k, k1, b, avgdl, {}, bound_scale)
    return pd.DataFrame({"qid": qid, "ord": uniq, "score": scores})

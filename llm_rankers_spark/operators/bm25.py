"""BM25 top-k search — native replacement for the reference's Lucene search
step (Rank-R1/bright/search.sh:4-9; k1=0.9, b=0.4 per README.md:70).

One search entry point, :func:`search`, over the packed index. Inside it,
per (segment, shard) group of an ``applyInPandas``, each query's candidate
postings are scored by one of two vectorized kernels, picked from the
input size (``EXHAUSTIVE_MAX_POSTINGS``):

- numpy-exhaustive (:func:`_exhaustive_arrays`): decode every candidate
  list and accumulate — cheapest for short candidate sets;
- block-max (:func:`_block_max_arrays`): interval-pruned scoring with a
  bounded min-heap — the hot-term path.

Shards are disjoint doc ranges, so per-shard top-k merge to the exact
global top-k. :func:`bm25_dataframe` is the pure built-in-functions
DataFrame plan straight from the corpus (no packed index) — Catalyst-visible
end to end; it is the form mirrored by the DuckDB oracle SQL in
``__spark_entry__.py``.

Determinism: contributions for one doc are always summed in sorted-term
order (same float64 op order in both kernels and in the pytest oracle),
tie-break is (score desc, docid asc) — ordinals are docid-ordered so the
in-UDF compare is an integer compare (SURVEY.md §7.4 hard part #1).

BM25 formula (Lucene-style, exact dl instead of Lucene's quantized norms —
documented deviation, SURVEY.md §7.1 step 4):
  idf = ln(1 + (N - df + 0.5)/(df + 0.5))
  score(q, d) = Σ_t qw_t · idf_t · tf / (tf + k1·(1 - b + b·dl/avgdl))
Repeated query terms contribute with multiplicity ``qw``. k1 and b are the
ones the index was built with (its block-max bounds are baked with them).
"""

from __future__ import annotations

import heapq
import math
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llm_rankers_spark.functions import codec
from llm_rankers_spark.functions.tokenize import tokenize, tokens_col
from llm_rankers_spark.operators.index_build import InvertedIndex

RESULT_SCHEMA = "qid string, ord long, score double"

#: Block-max pruning counters (round-5 verdict #2: prove the scorer
#: actually skips). Accumulated by _block_max_arrays in whatever process
#: runs it: inside Spark tasks they live in the python worker (invisible
#: driver-side), so measurement drives the scorer in-process on collected
#: posting rows — ``bench_extra.py``'s ``wand-skip`` and ``wand-skip-big``
#: modes do exactly that; the pytest in tests/test_wand_property.py asserts
#: pruning engages on a constructed hot+rare corpus.
WAND_STATS = {"calls": 0, "intervals_total": 0, "intervals_scored": 0, "blocks_decoded": 0}

#: Lists at most this long get whole-list decoded for presence-exact
#: interval bounds in the vectorized block-max scorer (the decode is
#: cached and reused for scoring, so the extra cost is ~zero; the payoff
#: is that a sparse rare-term list no longer spreads its high upper bound
#: over every interval its one block spans — see _block_max_arrays).
SMALL_LIST_DECODE_MAX = 4096


def reset_wand_stats() -> None:
    for k in WAND_STATS:
        WAND_STATS[k] = 0


def wand_stats() -> dict:
    return dict(WAND_STATS)


def query_terms(queries: DataFrame, mode: str) -> DataFrame:
    """(qid, term, qw) with qw = multiplicity of the term in the query."""
    return (
        queries.select("qid", F.explode(tokens_col("query", mode=mode)).alias("term"))
        .groupBy("qid", "term")
        .agg(F.count("*").alias("qw"))
    )


def _decode_list(row: dict, k1: float, b: float, avgdl: float, cache: dict) -> tuple:
    """Whole-list decode → (ords, tf_float, denom), cached across queries.

    ``denom`` is the weight-INDEPENDENT BM25 denominator
    ``tf + k1·(1 - b + b·dl/avgdl)`` — the per-query contribution is then
    ``w · tf / denom``, the exact float-op order the inline expression used
    (``w*tf/(tf + k1*(...))`` evaluates left-to-right as ``(w·tf)/denom``),
    so cached and uncached scoring are bit-identical. A query batch keeps
    re-visiting the same posting rows (every query containing a term decodes
    its list); decoding once per row per shard task instead of once per
    (query, row) is the guide-§4.2 "do the per-batch work once" rule."""
    key = id(row)
    dc = cache.get(key)
    if dc is None:
        ords, tfs, dls = codec.unpack_lists([row["n"]], [row["docs_blob"]], [row["tfs_blob"]], [row["dls_blob"]])
        tf = tfs.astype(np.float64)
        denom = tf + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
        dc = (ords, tf, denom)
        cache[key] = dc
    return dc


def _exhaustive_arrays(
    rows: list, k: int, k1: float, b: float, avgdl: float, cache: dict
) -> tuple[np.ndarray, np.ndarray]:
    """Decode all lists; accumulate per-doc in sorted-term order; top-k.
    ``rows`` = [(posting_row, weight)] already sorted by term. Returns the
    (ord, score) arrays; list decodes are shared across queries via
    ``cache`` (float op order unchanged — see :func:`_decode_list`)."""
    all_ords, all_scores = [], []
    for row, w in rows:
        ords, tf, denom = _decode_list(row, k1, b, avgdl, cache)
        all_ords.append(ords)
        all_scores.append(w * tf / denom)
    ords = np.concatenate(all_ords)
    contribs = np.concatenate(all_scores)
    uniq, inv = np.unique(ords, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, contribs)  # adds in concatenation order == sorted-term order
    # top-k by (score desc, ord asc)
    order = np.lexsort((uniq, -scores))[:k]
    return uniq[order], scores[order]


def _bound_scale(meta, avgdl: float) -> float:
    """How a segment's baked block bounds carry over to scoring under the
    avgdl a′ of a whole search: ``r = min(1, a/a′)`` for the baked avgdl a
    (k1 and b are always the baked ones)."""
    return min(1.0, meta.avgdl / avgdl) if avgdl > 0 else 1.0


def _block_max_arrays(
    rows: list, k: int, k1: float, b: float, avgdl: float, shared_cache: dict,
    bound_scale: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized block-max pruned scoring (round-2 verdict #3): exact top-k
    without a doc-at-a-time Python loop.

    The lists' block boundaries (``block_last``) partition doc-ordinal space
    into elementary intervals; each interval is covered by at most one block
    per list, so its score upper bound is the sum of those blocks'
    ``weight·block_max_tfn``. Intervals are processed in upper-bound-desc
    order: each surviving interval is scored EXHAUSTIVELY with numpy (decode
    the ≤1 covering block per list — cached — slice, np.add.at accumulate in
    sorted-term order, identical float op order to the exhaustive path), and
    the traversal stops when the next interval's bound is strictly below the
    running k-th score. Hot-term queries therefore do O(total_blocks) Python
    iterations with numpy block work inside, instead of the O(total_postings)
    interpreter steps of a doc-at-a-time WAND (tests/oracle_bm25.py keeps one
    as a reference; both are verified equal to exhaustive scoring in
    test_wand_property.py).

    Block decodes (and the weight-independent BM25 denominator — see
    :func:`_decode_list`) are shared ACROSS queries via ``shared_cache``,
    keyed by (posting-row identity, block); only the cheap per-query
    ``w·tf/denom`` fold is recomputed, in the identical float op order.

    Sparse-list presence bounds (round-6, the round-5-verdict #2 fix): a
    SPARSE list's block spans a huge ordinal range (12 random docs over a
    10⁶-doc corpus = one block covering everything), so pure block
    coverage would add its upper bound to every interval and pruning never
    engages — the skip-rate instrumentation exposed exactly this. Lists
    with n ≤ SMALL_LIST_DECODE_MAX are therefore decoded whole (cached,
    shared with the exhaustive path's cache shape) and contribute their
    bound only to intervals that actually contain one of their docs; an
    absent list contributes 0 there, so the interval bound stays a true
    upper bound and results are exact (property-tested).

    Scoring under statistics other than the baked ones (global avgdl a′
    across segments) keeps the kernel: with ``bound_scale`` r = min(1, a/a′),
    k1·(1−b+b·dl/a′) ≥ r·k1·(1−b+b·dl/a), so each baked block bound ub
    becomes 1/(1 + r·(1/ub − 1)), padded up by a relative 1e-12 because
    pruning is a strict ``<``."""
    lists = []
    for row, w in rows:
        n = int(row["n"])
        if n == 0:
            continue
        bl = np.asarray(row["block_last"], dtype=np.int64)
        tfn = np.asarray(row["block_max_tfn"], dtype=np.float64)
        if bound_scale < 1.0:
            tfn = (1.0 + 1e-12) / (1.0 + bound_scale * (1.0 / tfn - 1.0))
        ub = w * tfn
        lists.append((row, w, n, bl, ub, n <= SMALL_LIST_DECODE_MAX))
    if not lists:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    ends = np.unique(np.concatenate([bl for _, _, _, bl, _, _ in lists]))
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    m = ends.size
    interval_ub = np.zeros(m, dtype=np.float64)
    covers = []  # per list: (block_idx per interval, coverage mask)
    list_whole: dict[int, tuple] = {}  # li -> whole-list (ords, tf, denom)
    for li, (row, _w, _n, bl, ub, small) in enumerate(lists):
        j = np.searchsorted(bl, ends, side="left")
        valid = j < bl.size
        if small:
            ords, tf, denom = _decode_list(row, k1, b, avgdl, shared_cache)
            list_whole[li] = (ords, tf, denom)
            lo = np.searchsorted(ords, starts, side="left")
            hi = np.searchsorted(ords, ends, side="right")
            valid = valid & (hi > lo)  # presence-exact coverage
        interval_ub += np.where(valid, ub[np.minimum(j, bl.size - 1)], 0.0)
        covers.append((j, valid))

    order = np.argsort(-interval_ub, kind="stable")
    heap: list[tuple[float, int]] = []  # (score, -ord)
    theta = -np.inf
    # per-query memo of the w-folded contribs; decodes live in shared_cache
    cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    n_scored = 0
    n_decoded = 0
    for pos in order:
        p = int(pos)
        if len(heap) == k and interval_ub[p] < theta:
            break  # every remaining interval's bound is below the k-th score
        n_scored += 1
        parts_d, parts_c = [], []
        for li, (row, w, n, bl, _ub, small) in enumerate(lists):
            jarr, valid = covers[li]
            if not valid[p]:
                continue
            # small lists score from their (cached) whole-list decode; big
            # lists decode per block. Same rows, same float values either
            # way (LEB128 values are position-independent; denom/contrib
            # expressions identical).
            key = (li, -1) if small else (li, int(jarr[p]))
            dc = cache.get(key)
            if dc is None:
                if small:
                    docs, tf, denom = list_whole[li]
                else:
                    skey = (id(row), int(jarr[p]))
                    sdc = shared_cache.get(skey)
                    if sdc is None:
                        n_decoded += 1
                        docs, tfs, dls = codec.unpack_block(
                            row["docs_blob"], row["tfs_blob"], row["dls_blob"],
                            np.asarray(row["doc_offs"], dtype=np.int64),
                            np.asarray(row["tf_offs"], dtype=np.int64),
                            np.asarray(row["dl_offs"], dtype=np.int64),
                            bl, n, key[1],
                        )
                        tf = tfs.astype(np.float64)
                        denom = tf + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
                        sdc = (docs, tf, denom)
                        shared_cache[skey] = sdc
                    docs, tf, denom = sdc
                dc = (docs, w * tf / denom)
                cache[key] = dc
            docs, contribs = dc
            lo = int(np.searchsorted(docs, starts[p], side="left"))
            hi = int(np.searchsorted(docs, ends[p], side="right"))
            if lo < hi:
                parts_d.append(docs[lo:hi])
                parts_c.append(contribs[lo:hi])
        if not parts_d:
            continue
        dd = np.concatenate(parts_d)
        cc = np.concatenate(parts_c)
        uniq, inv = np.unique(dd, return_inverse=True)
        sc = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(sc, inv, cc)  # per-doc accumulation in sorted-term order
        if len(heap) == k:
            mask = sc >= theta  # ties can still win on the ord tie-break
            uniq, sc = uniq[mask], sc[mask]
        for d, s in zip(uniq.tolist(), sc.tolist()):
            entry = (s, -d)
            if len(heap) < k:
                heapq.heappush(heap, entry)
                if len(heap) == k:
                    theta = heap[0][0]
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
                theta = heap[0][0]
    WAND_STATS["calls"] += 1
    WAND_STATS["intervals_total"] += m
    WAND_STATS["intervals_scored"] += n_scored
    WAND_STATS["blocks_decoded"] += n_decoded
    ranked = sorted(((s, -negord) for s, negord in heap), key=lambda t: (-t[0], t[1]))
    return (
        np.asarray([o for _, o in ranked], dtype=np.int64),
        np.asarray([s for s, _ in ranked], dtype=np.float64),
    )


#: Candidate postings per query plan below which the numpy-exhaustive
#: kernel scores it (decode cost beats pruning on short candidate sets);
#: at or above it the block-max kernel runs. Both are exact and
#: rank-identical. Plan builders read it on the driver and pass it to the
#: task closure, so a monkeypatched value reaches the Spark workers.
EXHAUSTIVE_MAX_POSTINGS = 65536


def _score_shard(
    pdf: pd.DataFrame,
    qplan: dict,
    k: int,
    exhaustive_max: int,
    k1: float,
    b: float,
    avgdl: float,
    bound_scale: float,
    n_docs: float | None = None,
) -> pd.DataFrame:
    """Run every query's scoring over one shard's posting rows.
    ``qplan``: {qid: [(term, weight)]} — shared by the driver-planned and
    the distributed (cogrouped) batch paths. With ``n_docs`` set, qplan
    carries RAW qw multiplicities and the idf factor is computed here from
    the per-row global ``df`` of one index — no df-lookup job ever ran.

    A plan with fewer than ``exhaustive_max`` candidate postings is scored
    by :func:`_exhaustive_arrays`, any other by :func:`_block_max_arrays`
    (``bound_scale`` carries the baked bounds over to the scoring
    statistics)."""
    pdf = pdf.sort_values("term")
    cols = [c for c in pdf.columns if c != "shard"]
    by_term: dict[str, list[dict]] = {}
    for rec in pdf[cols].to_dict("records"):  # one pass; no per-query iterrows
        by_term.setdefault(rec["term"], []).append(rec)
    # Two cross-query amortizations (guide §4.2 — do per-batch work once):
    # - queries with an IDENTICAL (term, qw) plan score once and share the
    #   result (real batches repeat queries; results only differ by qid);
    # - posting-row decodes and the weight-independent BM25 denominator are
    #   cached across ALL queries of the batch (see _decode_list) — a term's
    #   list was previously re-decoded by every query containing it.
    # Float op order is unchanged in both, so scores are bit-identical.
    decode_cache: dict = {}
    block_cache: dict = {}
    plan_results: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
    out_qids: list = []
    out_ords: list[np.ndarray] = []
    out_scores: list[np.ndarray] = []
    for qid, tws in qplan.items():
        plan_key = tuple(sorted(tws))
        res = plan_results.get(plan_key)
        if res is None:
            rows = []
            for term, w in plan_key:
                g = by_term.get(term)
                if g is None:
                    continue
                if n_docs is not None:
                    df = float(g[0]["df"])
                    w = w * math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                for row in g:
                    rows.append((row, w))
            if not rows:
                res = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
            elif sum(int(r["n"]) for r, _ in rows) < exhaustive_max:
                res = _exhaustive_arrays(rows, k, k1, b, avgdl, decode_cache)
            else:
                res = _block_max_arrays(rows, k, k1, b, avgdl, block_cache, bound_scale)
            plan_results[plan_key] = res
        ords, scores = res
        if ords.size:
            out_qids.extend([qid] * ords.size)
            out_ords.append(ords)
            out_scores.append(scores)
    if not out_ords:
        return pd.DataFrame({"qid": pd.Series(dtype="object"), "ord": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")})
    return pd.DataFrame(
        {"qid": out_qids, "ord": np.concatenate(out_ords), "score": np.concatenate(out_scores)}
    )


#: posting columns the scorers read (one index adds its per-row global df)
_SCORE_COLS = (
    "term", "shard", "n", "docs_blob", "tfs_blob", "dls_blob",
    "block_last", "block_max_tfn", "doc_offs", "tf_offs", "dl_offs",
)


def _plan_params(indexes: list[InvertedIndex]) -> tuple:
    """(k1, b, N, avgdl, per-segment bound scales) for scoring ``indexes``
    as one index: k1 and b are the ones the segments were built with, N and
    avgdl come from the segments' metadata — the statistics Lucene's
    IndexSearcher computes across segments. Segments that disagree on k1,
    b or the tokenizer mode have incomparable block bounds or terms:
    ``ValueError``."""
    metas = [ix.meta for ix in indexes]
    m0 = metas[0]
    for ix in indexes[1:]:
        got, want = (ix.meta.k1, ix.meta.b, ix.meta.tokenizer_mode), (m0.k1, m0.b, m0.tokenizer_mode)
        if got != want:
            raise ValueError(
                f"segment {ix.path} has (k1, b, tokenizer_mode) {got}, segment {indexes[0].path} has {want}: "
                "segments searched together must share them"
            )
    n = sum(m.n_docs for m in metas)
    avgdl = m0.avgdl if len(metas) == 1 else (sum(m.avgdl * m.n_docs for m in metas) / n if n else 0.0)
    return m0.k1, m0.b, float(n), avgdl, [_bound_scale(m, avgdl) for m in metas]


def _tagged_union(indexes: list[InvertedIndex], frame, cols) -> DataFrame:
    """``frame(index)`` of every index, projected to ``cols`` and tagged
    with the index's position as ``seg``."""
    out = None
    for i, ix in enumerate(indexes):
        part = frame(ix).select(F.lit(i).alias("seg"), *cols)
        out = part if out is None else out.unionByName(part)
    return out


def _docid_topk(indexes: list[InvertedIndex], partial: DataFrame, k: int, tag: str, small: bool) -> DataFrame:
    """Global top-k of per-(segment, shard) partials. Ordinals are unique
    only within a segment, so docids attach by (seg, ord) against the union
    of the doc maps, and the ranking is (score desc, docid asc) — within a
    segment ordinal order is docid order, so ties break as on one index."""
    doc_maps = _tagged_union(indexes, lambda ix: ix.doc_ords, ("ord", "docid"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        doc_maps.join(F.broadcast(partial) if small else partial, ["seg", "ord"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "rank", "score", F.lit(tag).alias("tag"))
    )


# above this many queries the driver-planned path's collect + per-task
# closure dict stop being "small data": the batch goes to the cogrouped
# distributed plan. Decided by a short-circuiting limit probe, never a count.
DRIVER_QUERY_PLAN_MAX = 1024

#: The distributed plan merges one index's per-shard top-k's in one ranking
#: window per qid up to this many shards; above it, it folds
#: ``TREE_MERGE_FANIN`` shard groups at a time (measured cutover,
#: BENCH/SCALE_PROOF_r05.md §3: at 64 shards × 4096 queries the fan-in-8
#: tree merged 1.64× faster than the single window, 186 s vs 304 s,
#: row-identical). Read on the driver when the plan is built.
TREE_MERGE_MIN_SHARDS = 32
TREE_MERGE_FANIN = 8


def search(
    index: InvertedIndex | list[InvertedIndex],
    queries: DataFrame,
    k: int = 10,
    tag: str = "llm_rankers_spark",
    shards: list[int] | None = None,
    plan: str = "auto",
    plan_out: dict | None = None,
) -> DataFrame:
    """BM25 top-k → TREC-shaped DataFrame (qid, docid, rank, score, tag) —
    the ONE search entry point, which picks the physical strategy.

    The reference exposes a single search command (``search.sh:4-9``,
    Pyserini ``LuceneSearcher.batch_search``); mirroring that, this
    dispatcher probes the query-batch size with ONE bounded
    ``limit(N+1).collect()`` (the ``_ordinals_auto`` pattern — never a full
    count) and routes:

    - ``≤ DRIVER_QUERY_PLAN_MAX`` queries → :func:`_search_driver_planned`
      (tokenize + weight on the driver, plan rides in the task closure —
      the reranking-batch shape, fewest jobs; the probe's rows are handed
      straight to it, so a small batch is not collected twice);
    - larger batches → :func:`_search_distributed` (the plan stays a
      DataFrame cogrouped with shard postings — no collect anywhere).

    The scoring kernel is picked per query plan from its candidate-posting
    count (``EXHAUSTIVE_MAX_POSTINGS``, see :func:`_score_shard`).

    ``index`` may also be a list of segment indexes (the live segments of
    :func:`...streaming.index_stream.search_segments`): they are searched
    as one index under global statistics, all segments in one pass; they
    must share k1, b and the tokenizer mode (``ValueError`` otherwise).

    ``plan`` overrides: ``'driver'`` / ``'distributed'`` force a path
    (``'auto'`` default). ``shards`` (serving a shard subset) implies the
    driver path — per-subset calls are the sharded-serving unit and are
    reranking-sized by construction. ``plan_out``, when a dict, receives
    ``{'plan': ..., 'probe_n': ...}`` so callers/tests can observe the
    dispatch without re-probing.
    """
    if plan not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown plan {plan!r}")
    indexes = index if isinstance(index, list) else [index]
    params = _plan_params(indexes)
    chosen, probe_n, qrows = plan, None, None
    if plan == "auto" and shards is not None:
        chosen = "driver"
    elif plan == "auto":
        qrows = queries.select("qid", "query").limit(DRIVER_QUERY_PLAN_MAX + 1).collect()
        probe_n = len(qrows)
        chosen = "driver" if probe_n <= DRIVER_QUERY_PLAN_MAX else "distributed"
    if plan_out is not None:
        plan_out.update(plan=chosen, probe_n=probe_n)
    if chosen == "distributed":
        if shards is not None:
            raise ValueError("shards= is a driver-planned serving knob; use plan='driver'")
        return _search_distributed(indexes, queries, k, tag, params)
    return _search_driver_planned(indexes, queries, k, tag, shards, qrows, params)


def _search_driver_planned(
    indexes: list[InvertedIndex],
    queries: DataFrame,
    k: int,
    tag: str,
    shards: list[int] | None,
    qrows: list | None,
    params: tuple,
) -> DataFrame:
    """The reranking-batch plan of :func:`search`: BM25 top-k over one
    index, or over several segments in one pass. ``qrows`` are the batch's
    already-collected (qid, query) rows, if the dispatcher probed them;
    ``params`` are :func:`_plan_params` of ``indexes``.

    ``shards`` restricts the traversal to a shard subset — the unit of
    shard-parallel serving across jobs/executors: shards hold disjoint doc
    ranges, so per-subset top-k results union+re-rank to the exact global
    top-k (the same merge this plan already does across its shard groups).

    Several ``indexes`` are scored under GLOBAL statistics (Lucene
    IndexSearcher semantics) while postings stay segment-local: N and
    avgdl from the segments' metadata, df = Σn per term over all segments'
    candidate rows in ONE collect. A single index keeps its in-row global
    df and runs no df job.

    Batch-query plan: each index opens only its batch's bucket directories
    (:meth:`InvertedIndex.postings_for`), filtered to the batch's *distinct*
    terms (each posting row is read once, never once per query — the naive
    postings⋈(qid,term) join replicates the index by the batch size). The
    segments' candidate rows, tagged with a segment id, go through ONE
    ``applyInPandas`` per (segment, shard) that runs every query's
    traversal. The per-query term weights are tiny and ride along in the
    closure.
    """
    k1, b, n_docs, avgdl, scales = params
    spark = queries.sparkSession
    if qrows is None:
        qrows = queries.select("qid", "query").collect()
    mode = indexes[0].meta.tokenizer_mode
    qcounts = {r["qid"]: Counter(tokenize(r["query"] or "", mode)) for r in qrows}
    terms = sorted({t for c in qcounts.values() for t in c})
    empty = spark.createDataFrame([], "qid string, docid string, rank int, score double, tag string")
    if not terms:
        return empty

    def open_terms(ix: InvertedIndex) -> DataFrame:
        p = ix.postings_for(terms)
        if len(terms) <= 512:
            # literal IN predicate: reaches the parquet scan as a
            # PushedFilter, so row groups whose term min/max excludes the
            # batch are skipped without decoding (the pack writes terms
            # SORTED within each bucket file, making the stats selective).
            # A broadcast semi-join cannot prune below the join operator.
            # Bounded to small batches — a huge IN list bloats the plan.
            return p.filter(F.col("term").isin(terms))
        return p.join(F.broadcast(spark.createDataFrame([(t,) for t in terms], "term string")), "term", "left_semi")

    df_in_rows = len(indexes) == 1
    cand = _tagged_union(indexes, open_terms, _SCORE_COLS + (("df",) if df_in_rows else ()))
    if df_in_rows:
        # one index: global df rides on every posting row, so the scorer
        # computes idf in-task. qplan carries the raw qw multiplicities;
        # absent terms simply match no rows.
        qplan = {qid: [(t, float(qw)) for t, qw in c.items()] for qid, c in qcounts.items()}
    else:
        # global df over ALL shards (before any shard-subset filter)
        df_map = {r["term"]: int(r["df"]) for r in cand.groupBy("term").agg(F.sum("n").alias("df")).collect()}
        qplan = {}
        for qid, counts in qcounts.items():
            tws = [
                (t, qw * math.log(1.0 + (n_docs - df_map[t] + 0.5) / (df_map[t] + 0.5)))
                for t, qw in counts.items()
                if t in df_map
            ]
            if tws:
                qplan[qid] = tws
        if not qplan:
            return empty
    if shards is not None:
        cand = cand.filter(F.col("shard").isin([int(s) for s in shards]))

    score_n_docs = n_docs if df_in_rows else None
    exhaustive_max = EXHAUSTIVE_MAX_POSTINGS
    partial = cand.groupBy("seg", "shard").applyInPandas(
        lambda key, pdf: _score_shard(
            pdf, qplan, k, exhaustive_max, k1, b, avgdl, scales[key[0]], n_docs=score_n_docs
        ).assign(seg=key[0]),
        schema=RESULT_SCHEMA + ", seg int",
    )
    # exact global top-k: shards (and segments) are disjoint doc sets, so the
    # union of per-group top-k contains the global top-k; the partials are
    # tiny (n_queries × groups × k), hence the broadcast
    return _docid_topk(indexes, partial, k, tag, small=True)


def _tree_topk(
    partial: DataFrame, k: int, shard_size: int, num_shards: int, fanin: int
) -> DataFrame:
    """Multi-level top-k merge of per-shard partials (round-3 verdict #8):
    fold ``fanin`` shard groups at a time, keeping k per (qid, group) at
    each level, until one group remains — then the final per-qid ranking
    window assigns ranks. Every level is one window shuffle whose per-task
    input is bounded by fanin×k rows per qid, independent of shard count;
    the single-window merge is the degenerate one-level case (``fanin`` ≥
    ``num_shards``). Exactness: shards are disjoint doc ranges, so the
    global top-k is contained in the union of per-group top-k's at every
    level."""
    # shard id is derivable from the ordinal — partials don't carry it
    cur = partial.withColumn("_g", (F.col("ord") / F.lit(shard_size)).cast("long"))
    width = num_shards
    while width > fanin:
        cur = cur.withColumn("_g", (F.col("_g") / F.lit(fanin)).cast("long"))
        w = Window.partitionBy("qid", "_g").orderBy(F.desc("score"), F.asc("ord"))
        cur = cur.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")
        width = -(-width // fanin)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("ord"))
    return (
        cur.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_g")
    )


def _search_distributed(
    indexes: list[InvertedIndex],
    queries: DataFrame,
    k: int,
    tag: str,
    params: tuple,
) -> DataFrame:
    """The large-batch plan of :func:`search`: BM25 top-k with the query
    plan kept distributed end to end — the 10^5–10^6-query batch path.

    :func:`_search_driver_planned` tokenizes + weights the batch driver-side
    and ships a dict in every task closure: right for reranking-sized
    batches, wrong at 100× (driver serialization + closure bloat — round-1
    verdict). Here the (qid, term, w=qw·idf) plan is a DataFrame: tokenized
    by the vectorized UDF, joined with the batch's df table, replicated once
    per shard (a join with the shard-id list, ≲ num_shards × Σ|q| rows — the
    same volume a broadcast would ship per executor), and cogrouped with the
    shard's posting rows. ``queries`` is never collected; chunk a
    10^6-query batch by qid range upstream if the replicated plan outgrows
    executor memory.

    A list of segment indexes is searched as one index under global
    statistics, as in :func:`_search_driver_planned`: df is an aggregate
    over the segments' candidate rows broadcast back by term — part of the
    plan, nothing persisted — and the merge ranks by docid.

    One index merges its per-shard partial top-k's by shard count: up to
    ``TREE_MERGE_MIN_SHARDS`` shards in one ranking window per qid, above
    it in a tree that folds ``TREE_MERGE_FANIN`` shard groups per level
    (:func:`_tree_topk`) — at 10^5 shards the single window funnels
    shards×k rows through ONE task per qid, while the tree bounds every
    task at fanin×k rows. Results are exactly equal (shards hold disjoint
    doc ranges, so the global top-k survives every per-group cut; tested).

    The postings open is the batch's term buckets semi-joined on its
    terms; a multi-bucket index first collects which buckets those are.
    """
    k1, b, n_docs, avgdl, scales = params
    spark = queries.sparkSession
    qt = query_terms(queries, indexes[0].meta.tokenizer_mode)  # (qid, term, qw) — UDF, no collect
    terms_df = qt.select("term").distinct()

    reps: dict[int, list] = {}

    def open_terms(ix: InvertedIndex) -> DataFrame:
        nb = ix.meta.num_buckets
        if nb == 1:  # nothing to prune, so no job
            return ix.postings.join(terms_df, "term", "left_semi")
        if nb not in reps:
            # one term per bucket the batch hits (a batch's query count says
            # nothing of its distinct terms): postings_for maps them back
            hit = terms_df.groupBy(F.pmod(F.xxhash64("term"), F.lit(nb))).agg(F.min("term"))
            reps[nb] = [r[1] for r in hit.collect()]
        return ix.postings_for(reps[nb]).join(terms_df, "term", "left_semi")

    df_in_rows = len(indexes) == 1
    cand = _tagged_union(indexes, open_terms, _SCORE_COLS + (("df",) if df_in_rows else ()))
    if df_in_rows:
        # one index: idf computed in-task from the per-row global df — the
        # query plan is just the raw (qid, term, qw) multiplicities
        qw = qt.select("qid", "term", F.col("qw").cast("double").alias("w"))
    else:
        # df from the candidate rows (Σn over a term's shards and segments =
        # its global df) — never a full postings scan
        ts = cand.groupBy("term").agg(F.sum("n").cast("double").alias("df"))
        idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        qw = qt.join(F.broadcast(ts), "term").select("qid", "term", (F.col("qw") * idf).alias("w"))

    # replicate the (small) per-query weights to every (segment, shard) and
    # cogroup: each task sees (shard's postings, full query plan) — no
    # closures. Shard counts are metadata, so the id list never touches data.
    groups = spark.createDataFrame(
        [(i, s) for i, ix in enumerate(indexes) for s in range(ix.meta.num_shards)], "seg int, shard int"
    )
    qw_rep = qw.crossJoin(F.broadcast(groups))
    score_n_docs = n_docs if df_in_rows else None
    exhaustive_max = EXHAUSTIVE_MAX_POSTINGS

    def scorer(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        qplan: dict[str, list[tuple[str, float]]] = {}
        for qid, term, w in zip(rpdf["qid"], rpdf["term"], rpdf["w"]):
            qplan.setdefault(qid, []).append((term, float(w)))
        return _score_shard(
            lpdf, qplan, k, exhaustive_max, k1, b, avgdl, scales[key[0]], n_docs=score_n_docs
        ).assign(seg=key[0])

    partial = (
        cand.groupBy("seg", "shard")
        .cogroup(qw_rep.groupBy("seg", "shard"))
        .applyInPandas(scorer, schema=RESULT_SCHEMA + ", seg int")
    )
    if len(indexes) > 1:
        return _docid_topk(indexes, partial, k, tag, small=False)

    meta = indexes[0].meta
    fanin = TREE_MERGE_FANIN if meta.num_shards > TREE_MERGE_MIN_SHARDS else meta.num_shards
    if fanin < 2 and meta.num_shards > 1:  # it would never shrink the tree
        raise ValueError(f"TREE_MERGE_FANIN must be at least 2, got {TREE_MERGE_FANIN}")
    topk = _tree_topk(partial, k, meta.shard_size, meta.num_shards, fanin)
    # docid attach WITHOUT a broadcast hint (round-2 ADVICE): this path is
    # built for 10^5–10^6-query batches, where topk is n_queries × k rows —
    # force-broadcasting that ships up to ~10^7 rows to every executor. AQE
    # picks broadcast at runtime when the actual size is small.
    return (
        indexes[0].doc_ords.join(topk, "ord", "inner")
        .select("qid", "docid", "rank", "score", F.lit(tag).alias("tag"))
    )


def _ranked_contribs(scored_rows: DataFrame, n_docs, avgdl, k1: float, b: float, key: str, k: int,
                     round_digits: int | None) -> DataFrame:
    """The declarative plans' shared tail: sum each (qid, ``key``) row's
    BM25 contributions ``qw · idf · tf / (tf + k1·(1 - b + b·dl/avgdl))``
    (``n_docs``/``avgdl`` are literal or per-row columns), then keep the
    top-k per qid by (score desc, ``key`` asc). With ``round_digits`` the
    window orders by the rounded score and the score is returned rounded,
    so an ANSI-SQL oracle computing the same rounding is order-identical
    despite float summation differences."""
    df = F.col("df")
    contrib = (
        F.col("qw")
        * F.log(F.lit(1.0) + (n_docs - df + 0.5) / (df + 0.5))
        * F.col("tf")
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    scored = scored_rows.withColumn("contrib", contrib).groupBy("qid", key).agg(F.sum("contrib").alias("score"))
    score_key = F.round(F.col("score"), round_digits) if round_digits is not None else F.col("score")
    w = Window.partitionBy("qid").orderBy(score_key.desc(), F.asc(key))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if round_digits is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_digits))
    return out


def bm25_dataframe_from_index(index: InvertedIndex, queries: DataFrame, k: int = 10, round_digits: int | None = None) -> DataFrame:
    """Declarative BM25 over an index's retained forward table
    (build_index(keep_forward=True)) — skips the corpus re-tokenization
    that dominated the plain :func:`bm25_dataframe` at bench scale
    (round-2 verdict #5). Statistics come from the index meta (identical
    doubles to the from-corpus computation: dl sums are exact integers).

    Scores on doc ORDINALS and attaches docids only to the final top-k
    rows (ordinals are docid-ordered, so the (score desc, ord asc)
    tie-break equals the docid tie-break) — the corpus-wide ord→docid join
    never runs.

    Query-side plan (round-6): a reranking-sized batch (bounded
    ``limit(N+1).collect()`` probe, the same small-side cutoff as
    :func:`search`) is tokenized DRIVER-side with the shared tokenizer into
    a (qid, term, qw) local relation, tokenized once for the whole plan.
    The batch's term list then reaches the forward-table scan as an IN
    PushedFilter instead of a broadcast semi-join. qw values and every
    scoring expression are unchanged, so scores are identical. Larger
    batches keep the fully-declarative subtree."""
    m = index.meta
    k1, b, n_docs, avgdl = m.k1, m.b, float(m.n_docs), float(m.avgdl)
    qrows = queries.select("qid", "query").limit(DRIVER_QUERY_PLAN_MAX + 1).collect()
    if len(qrows) <= DRIVER_QUERY_PLAN_MAX:
        data = [
            (r["qid"], t, int(c))
            for r in qrows
            for t, c in sorted(Counter(tokenize(r["query"] or "", m.tokenizer_mode)).items())
        ]
        if not data:
            return queries.sparkSession.createDataFrame([], "qid string, docid string, rank int, score double")
        qt = F.broadcast(queries.sparkSession.createDataFrame(data, "qid string, term string, qw long"))
        terms = sorted({t for _, t, _ in data})
        if len(terms) <= 512:
            td_f = index.forward_ords.filter(F.col("term").isin(terms))
        else:
            td_f = index.forward_ords.join(F.broadcast(qt.select("term").distinct()), "term", "left_semi")
    else:
        qt = query_terms(queries, m.tokenizer_mode)
        td_f = index.forward_ords.join(F.broadcast(qt.select("term").distinct()), "term", "left_semi")
    # per-term df via a SLIM second scan (term column only, map-side
    # combined to <= batch-terms rows) broadcast back onto the scoring rows;
    # a count() OVER (PARTITION BY term) window would shuffle every matched
    # forward row just to learn df (A/B: BENCH/BM25_SQL_ATTRIBUTION_r05.md).
    df_tbl = td_f.groupBy("term").agg(F.count("*").alias("df"))
    td_fd = td_f.join(F.broadcast(df_tbl), "term")
    out = _ranked_contribs(qt.join(td_fd, "term"), F.lit(n_docs), F.lit(avgdl), k1, b, "ord", k, round_digits)
    return (
        index.doc_map.select("ord", "docid")
        .join(F.broadcast(out), "ord")
        .select("qid", "docid", "rank", "score")
    )


def bm25_dataframe(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = codec.DEFAULT_K1,
    b: float = codec.DEFAULT_B,
    mode: str = "simple",
    round_digits: int | None = None,
) -> DataFrame:
    """BM25 straight from the corpus with built-in DataFrame ops only
    (tokenizer UDF aside) — the Catalyst-native plan used for oracle parity.

    Returns (qid, docid, rank, score), ranked as in
    :func:`_ranked_contribs`."""
    qt = query_terms(queries, mode)
    toks = docs.select("docid", F.explode(tokens_col("content", mode=mode)).alias("term"))
    td = toks.groupBy("docid", "term").agg(F.count("*").alias("tf"))
    dl = td.groupBy("docid").agg(F.sum("tf").alias("dl"))
    # N and avgdl over ALL docs (token-less docs count with dl=0) so this
    # path agrees with build_index's packed statistics and the DuckDB oracle
    # on corpora containing empty documents.
    stats = (
        docs.agg(F.count("*").alias("n"))
        .crossJoin(dl.agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl")))
        .select("n", (F.col("sum_dl") / F.col("n")).alias("avgdl"))
    )
    # df only for the batch's terms (semi-join before the aggregate — the
    # full-vocabulary df shuffle never runs; values are identical)
    dft = (
        td.join(F.broadcast(qt.select("term").distinct()), "term", "left_semi")
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    rows = qt.join(td, "term").join(F.broadcast(dft), "term").join(dl, "docid").crossJoin(F.broadcast(stats))
    out = _ranked_contribs(rows, F.col("n"), F.col("avgdl"), k1, b, "docid", k, round_digits)
    return out.select("qid", "docid", "rank", "score")

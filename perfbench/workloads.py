"""The two benchmark workloads, driven against the package's public API.

Each workload is one closed-loop client: the next operation starts when the
previous one returns, and every operation consumes its result the way a
caller would (search batches are collected, TREC runs are written to disk).
Only calls into the package are timed; moving a slice file into the
stream's input directory, picking queries and checking results happen
outside the timed operations.

Correctness gates run after the timed loop. A failed gate counts as a
failed operation.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import os
import random
import sys
import time
from contextlib import contextmanager
from functools import partial

import harness

# sizes, chosen so that one run (session start, set-up, the timed loop and
# the gates) fits the benchmark's time budget on a 4-core box
INGEST_SLICE_DOCS = 300
INGEST_SLICES = 4
SERVE_DOCS = 600
SMALL_BATCH = 16
SMALL_K = 100
RERANK_QUERIES = 48
RERANK_BATCH = 16
RERANK_K = 10
RERANK_NUM_CHILD = 3
SEGMENT_K = 10
# simulated model: one call costs a fixed latency plus a per-pair cost,
# like one batched forward pass, sized so that the model is busy for about
# half of a rerank_batched call's wall time (README.md)
MODEL_CALL_S = 0.011
MODEL_PAIR_S = 0.00026

# the role each operation kind plays in the end-to-end metrics (README.md)
ROLES = {
    "ingest": {"a": "segment_search", "b": "append", "c": "compact"},
    "serve": {"a": "search_small", "b": "rerank_model", "c": "rerank_mock"},
}
SERVE_CYCLE = ["search_small", "rerank_mock", "rerank_model", "search_small", "rerank_mock"]


class GateError(Exception):
    """A correctness gate failed."""


# ---------------------------------------------------------------------------
# simulated model (pickled by value into the Python workers)
# ---------------------------------------------------------------------------


class SimModel:
    """Deterministic md5 relevance, as ``FakeRelevanceModel`` scores it.
    A call keeps its worker busy for ``call_s + pair_s * len(pairs)``
    seconds, spinning rather than sleeping, so the model's cost counts in
    the CPU seconds the metrics read. With accumulators it counts calls,
    pairs and busy seconds where it runs."""

    def __init__(self, call_s: float, pair_s: float, accs=None):
        self.call_s, self.pair_s, self.accs = call_s, pair_s, accs

    def score_batch(self, pairs):
        t0 = time.perf_counter()
        scores = [
            int(hashlib.md5(f"{q}\x1f{t}".encode()).hexdigest()[:7], 16) / float(1 << 28)
            for q, t in pairs
        ]
        end = t0 + self.call_s + self.pair_s * len(pairs)
        while time.perf_counter() < end:
            pass
        if self.accs is not None:
            calls, npairs, busy = self.accs
            calls.add(1)
            npairs.add(len(pairs))
            busy.add(time.perf_counter() - t0)
        return scores


# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def index_bytes(path: str) -> int:
    """Bytes a search reads: postings and doc map (not manifests)."""
    return dir_bytes(os.path.join(path, "postings"), os.path.join(path, "doc_map"))


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "_manifest.json")) as f:
        return json.load(f)


def read_text_run(path: str) -> list[tuple[str, str, int, float]]:
    """(qid, docid, rank, score) lines of a written TREC run directory."""
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            for line in f:
                qid, _q0, docid, rank, score, _tag = line.split()
                rows.append((qid, docid, int(rank), float(score)))
    return rows


def check_ranked(rows, n_queries: int, k: int, what: str) -> None:
    """Gate: ``n_queries`` × ``k`` rows with ranks 1..k per query."""
    if len(rows) != n_queries * k:
        raise GateError(f"{what}: {len(rows)} rows, expected {n_queries} x {k}")
    by_q: dict[str, list[int]] = {}
    for qid, _docid, rank, _score in rows:
        by_q.setdefault(qid, []).append(rank)
    if len(by_q) != n_queries or any(sorted(r) != list(range(1, k + 1)) for r in by_q.values()):
        raise GateError(f"{what}: ranks are not dense 1..{k} per query")


def as_rows(spark_rows) -> list[tuple[str, str, int, float]]:
    return [(r["qid"], r["docid"], int(r["rank"]), float(r["score"])) for r in spark_rows]


def query_pool(spark, n: int, seed: int, prefix: str) -> list[tuple[str, str]]:
    """``n`` seeded queries from ``generate_queries``, qids made unique per
    pool."""
    from llm_rankers_spark.corpus import VOCAB, generate_queries

    rows = generate_queries(spark, VOCAB, n_queries=n, seed=seed).collect()
    return [(f"{prefix}{r['qid']}", r["query"]) for r in rows]


def batches(rows: list, size: int, rng: random.Random):
    """Endless seeded batches: reshuffle the pool each pass."""
    rows = list(rows)
    while True:
        rng.shuffle(rows)
        for i in range(0, len(rows) - size + 1, size):
            yield rows[i : i + size]


def job_stats_hook(sc):
    """Counts the Spark jobs, stages and tasks a call ran, under a job
    group set around it."""
    ids = itertools.count()

    @contextmanager
    def stats():
        gid = f"perfbench-{next(ids)}"
        sc.setJobGroup(gid, gid)
        out: dict = {}
        try:
            yield out
        finally:
            sc._jsc.clearJobGroup()
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
            out["jobs"] = len(jobs)
            out["stages"] = len(stages)
            out["tasks"] = sum(si.numTasks for s in stages if (si := st.getStageInfo(s)))

    return stats


class Loop:
    """The closed loop. It runs whole cycles of operations until the
    deadline has passed and logs each operation's wall and CPU time. A
    traced run runs an even number of cycles and traces every other
    operation, shifted by one each cycle, so each operation of a cycle has
    an untraced and a traced twin, and warm-up effects fall on both sides."""

    def __init__(self, spark, tracer: harness.Tracer, log: harness.OpLog, seconds: float, trace: bool):
        self.spark, self.tracer, self.log, self.trace = spark, tracer, log, trace
        self.deadline = time.perf_counter() + seconds
        self.cycles = 0
        self.position = 0
        self.persisted_max = 0
        self._ids = itertools.count()

    def next_cycle(self) -> bool:
        """Whether to start another cycle."""
        if self.cycles and time.perf_counter() >= self.deadline and not (self.trace and self.cycles % 2):
            return False
        self.cycles += 1
        self.position = 0
        return True

    def run(self, kind: str, items: int, fn):
        traced = self.trace and (self.cycles + self.position) % 2 == 0
        self.position += 1
        self.tracer.enabled = traced
        self.log.attempted += 1
        try:
            _, c0 = harness.tree_usage(os.getpid())
            h0 = harness.cpu_times()
            t0 = time.perf_counter()
            with self.tracer.op(kind, next(self._ids)):
                out = fn()
            dt = time.perf_counter() - t0
            h = harness.host_delta(h0, harness.cpu_times())
            cpu = harness.tree_usage(os.getpid())[1] - c0
            self.log.add(kind, dt, cpu, items, traced, h["steal_pct"])
            print(f"[perfbench] {kind} wall {dt:.3f}s cpu {cpu:.2f}s items={items} traced={int(traced)}",
                  file=sys.stderr, flush=True)
            if traced:
                persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
                self.persisted_max = max(self.persisted_max, persisted)
            return out
        finally:
            self.tracer.enabled = False


def gate(log: harness.OpLog, name: str, fn) -> None:
    """Run one correctness gate outside the timed loop; a failure is a
    failed operation."""
    log.attempted += 1
    t0 = time.perf_counter()
    try:
        fn()
        print(f"[perfbench] gate {name} ok {time.perf_counter() - t0:.2f}s", file=sys.stderr, flush=True)
    except Exception as e:  # noqa: BLE001 - every failure is reported and counted
        log.failed += 1
        print(f"[perfbench] gate {name} FAILED: {type(e).__name__}: {e}", file=sys.stderr, flush=True)


def build_phases(manifests: list[dict]) -> dict:
    """Median build phase seconds over the given ``build_index`` manifests."""
    import statistics

    phases = [m["build_metrics"]["phase_seconds"] for m in manifests if "build_metrics" in m]
    walls = [m["build_metrics"]["wall_seconds"] for m in manifests if "build_metrics" in m]
    if not phases:
        return {}
    return {
        "index_build.build_s": statistics.median(walls),
        "index_build.slim_ordinals_s": statistics.median(p["slim_ordinals"] for p in phases),
        "index_build.doc_map_write_stats_s": statistics.median(p["doc_map_write_stats"] for p in phases),
        "index_build.pack_write_s": statistics.median(p["pack_write"] for p in phases),
    }


def index_layer(path: str) -> dict:
    postings = sum(s["postings"] for s in read_manifest(path)["shards"])
    nbytes = index_bytes(path)
    return {
        "index_build.postings": postings,
        "index_build.index_bytes": nbytes,
        "codec.bytes_per_posting": dir_bytes(os.path.join(path, "postings")) / postings,
    }


# ---------------------------------------------------------------------------
# ingest: the write path, with reads beside the writes
# ---------------------------------------------------------------------------


def run_ingest(spark, seed: int, seconds: float, trace: bool, work: str, tracer, log, fixed) -> dict:
    from llm_rankers_spark.corpus import generate_corpus, with_docid
    from llm_rankers_spark.operators.index_build import load_index, verify_index
    from llm_rankers_spark.streaming.index_stream import (
        compact_segments,
        list_segments,
        search_segments,
        start_index_stream,
    )

    t0 = time.perf_counter()
    n_docs = INGEST_SLICE_DOCS * INGEST_SLICES
    corpus = (
        with_docid(generate_corpus(spark, n_docs, seed=seed))
        .select("docid", "content")
        .toPandas()
        .sample(frac=1.0, random_state=seed)  # arrival order is not docid order
    )
    staging, inbox, root = (os.path.join(work, d) for d in ("staging", "inbox", "segments"))
    os.makedirs(staging)
    os.makedirs(inbox)
    slices = []
    for i in range(INGEST_SLICES):
        part = corpus.iloc[i * INGEST_SLICE_DOCS : (i + 1) * INGEST_SLICE_DOCS]
        name = f"slice_{i:04d}.parquet"
        part.to_parquet(os.path.join(staging, name), index=False)
        slices.append((name, len(part), int(part["content"].str.encode("utf-8").str.len().sum())))
    fixed["corpus.generate_s"] = time.perf_counter() - t0

    qrng = random.Random(seed)
    qbatches = batches(query_pool(spark, 8 * SMALL_BATCH, seed, "s"), SMALL_BATCH, qrng)
    manifests = []
    ingested = {"docs": 0, "bytes": 0}
    segments_live = 0

    def append(i):
        name, docs, nbytes = slices[i]
        os.replace(os.path.join(staging, name), os.path.join(inbox, name))

        def stream():
            q = start_index_stream(spark, inbox, root, tokenizer_mode="simple")
            q.awaitTermination()
            return q

        q = tracer.call("index_stream.append_s", stream)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        ingested["docs"] += docs
        ingested["bytes"] += nbytes
        return list_segments(root)[-1]

    def segment_search(batch):
        qdf = spark.createDataFrame(batch, "qid string, query string")
        rows = as_rows(tracer.call(
            "index_stream.search_segments_s", lambda: search_segments(spark, root, qdf, k=SEGMENT_K).collect()
        ))
        check_ranked(rows, len(batch), SEGMENT_K, "search_segments batch")
        return rows

    # set-up ends with one append: the first stream start pays one-time
    # class loading that no later append pays
    seg = append(0)
    manifests.append(read_manifest(os.path.join(root, seg)))
    setup_s = harness.tree_usage(os.getpid())[1]
    fixed["setup_wall_s"] = harness.process_age_s()

    # one cycle: append a slice as a second segment, search both live
    # segments, fold them into one; the loop runs whole cycles until the
    # deadline
    loop = Loop(spark, tracer, log, seconds, trace)
    searched = []
    i = 1
    while i < INGEST_SLICES and loop.next_cycle():
        seg = loop.run("append", slices[i][1], lambda: append(i))
        manifests.append(read_manifest(os.path.join(root, seg)))
        segments_live = max(segments_live, len(list_segments(root)))
        postings = sum(
            sum(sh["postings"] for sh in read_manifest(os.path.join(root, s))["shards"]) for s in list_segments(root)
        )
        batch = next(qbatches)
        rows = loop.run("segment_search", len(batch), lambda: segment_search(batch))
        searched.append((batch, rows, ingested["docs"], postings))
        loop.run("compact", ingested["docs"], lambda: tracer.call(
            "index_stream.compact_s", compact_segments, spark, root
        ))
        i += 1
    (final,) = list_segments(root)
    final_path = os.path.join(root, final)

    def oracle_rank_identical():
        from tests.oracle_bm25 import bm25_oracle

        for batch, rows, n_docs, _postings in searched:
            docs = [tuple(r) for r in corpus[["docid", "content"]].head(n_docs).itertuples(index=False)]
            want = bm25_oracle(docs, batch, k=SEGMENT_K, mode="simple")
            for qid, _ in batch:
                got = [d for _, d in sorted((r, d) for q, d, r, _ in rows if q == qid)]
                if got != [d for d, _ in want[qid]]:
                    raise GateError(f"query {qid}: search_segments over live segments differs from the BM25 oracle")

    def identical_after_compaction():
        batch, rows, _n_docs, _postings = searched[-1]
        after = segment_search(batch)
        scores = {(q, d): score for q, d, _, score in rows}
        if sorted(r[:3] for r in after) != sorted(r[:3] for r in rows) or any(
            abs(score - scores[q, d]) > 1e-6 for q, d, _, score in after
        ):
            raise GateError("search_segments results differ before and after compact_segments")

    def verified():
        idx = load_index(spark, final_path)
        report = verify_index(idx)
        if not report["ok"]:
            raise GateError(f"verify_index: {report['mismatches'][:3]}")
        if idx.meta.n_docs != ingested["docs"]:
            raise GateError(f"compacted index holds {idx.meta.n_docs} docs, {ingested['docs']} ingested")
        kept = sum(sh["postings"] for sh in read_manifest(final_path)["shards"])
        if kept != searched[-1][3]:
            raise GateError(f"compaction kept {kept} postings of {searched[-1][3]}")

    gate(log, "search_segments over live segments ranks identical to the BM25 oracle", oracle_rank_identical)
    gate(log, "search_segments identical before and after compaction", identical_after_compaction)
    gate(log, "verify_index, doc and posting counts of the compacted index", verified)

    fixed.update(build_phases(manifests))
    fixed.update(index_layer(final_path))
    fixed["index_stream.segments_live"] = segments_live
    fixed["spark.persisted_after_op"] = loop.persisted_max
    return {
        "setup_s": setup_s,
        "index_bytes_per_input_byte": index_bytes(final_path) / ingested["bytes"],
    }


# ---------------------------------------------------------------------------
# serve: first-stage search and second-stage rerank over a pre-built index
# ---------------------------------------------------------------------------


def run_serve(spark, seed: int, seconds: float, trace: bool, work: str, tracer, log, fixed) -> dict:
    import pyarrow.parquet as pq
    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    from llm_rankers_spark.corpus import generate_corpus, with_docid
    from llm_rankers_spark.operators.bm25 import search
    from llm_rankers_spark.operators.index_build import build_index, verify_index
    from llm_rankers_spark.operators.model_comparator import ModelComparator, rerank_batched
    from llm_rankers_spark.operators.rerank import MockComparator, rerank, rerank_local
    from llm_rankers_spark.operators.runs import attach_text, read_trec_run, write_trec_run

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    sc = spark.sparkContext

    t0 = time.perf_counter()
    docs_path = os.path.join(work, "documents")
    with_docid(generate_corpus(spark, SERVE_DOCS, seed=seed)).select("docid", "content").write.parquet(docs_path)
    fixed["corpus.generate_s"] = time.perf_counter() - t0
    docs = spark.read.parquet(docs_path)
    index_path = os.path.join(work, "index")
    index = build_index(docs, index_path, tokenizer_mode="code")

    rng = random.Random(seed)
    small_batches = batches(query_pool(spark, 6 * SMALL_BATCH, seed + 1, "s"), SMALL_BATCH, rng)
    rerank_pool = query_pool(spark, RERANK_QUERIES, seed + 2, "r")
    rerank_batches = batches(rerank_pool, RERANK_BATCH, rng)

    first_stage = os.path.join(work, "first_stage")
    rerank_qdf = spark.createDataFrame(rerank_pool, "qid string, query string")
    write_trec_run(search(index, rerank_qdf, k=SMALL_K), first_stage)

    outputs = {"small": [], "rerank": []}
    op_ids = itertools.count()

    def search_small(batch):
        qdf = spark.createDataFrame(batch, "qid string, query string")
        plan = {}
        rows = as_rows(tracer.call(
            "bm25.search_small_s", lambda: search(index, qdf, k=SMALL_K, plan_out=plan).collect(), _jobs="bm25.small_"
        ))
        tracer.count(f"bm25.plan_{plan['plan']}_calls")
        tracer.count("bm25.result_rows", len(rows))
        check_ranked(rows, len(batch), SMALL_K, "small search batch")
        outputs["small"].append((batch, rows))

    def rerank_op(batch, executor):
        qids = [q for q, _ in batch]
        qdf = spark.createDataFrame(batch, "qid string, query string")
        out = os.path.join(work, f"rerank_{next(op_ids)}")
        run = tracer.call("runs.read_trec_run_s", read_trec_run, spark, first_stage)
        run = run.filter(F.col("qid").isin(qids)).join(qdf, "qid")
        cands = tracer.call("runs.attach_text_s", attach_text, run, docs)
        # the reranked frame is lazy: its work runs when the run is
        # written, so a rerank's span holds the call and that write
        accs = None
        if executor == "model":
            name = "perfbench-sim"
            if tracer.enabled:
                accs = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))
                name = f"perfbench-sim-{next(op_ids)}"  # a fresh model per op, so counts reach this op
            factory = partial(SimModel, MODEL_CALL_S, MODEL_PAIR_S, accs)
            ranked = partial(
                rerank_batched, cands, method="setwise.heapsort", model_name=name, model_factory=factory,
                k=RERANK_K, num_child=RERANK_NUM_CHILD,
            )
            span, jobs = "model_comparator.rerank_batched_s", None
        else:
            ranked = partial(
                rerank, cands, method="setwise.heapsort", comparator=MockComparator(),
                k=RERANK_K, num_child=RERANK_NUM_CHILD,
            )
            span, jobs = "rerank.rerank_s", "rerank."
        tracer.call(span, lambda: tracer.call("runs.write_trec_run_s", write_trec_run, ranked(), out), _jobs=jobs)
        if accs is not None:
            calls, pairs, busy = (a.value for a in accs)
            tracer.sample("model_comparator.model_calls", calls)
            tracer.sample("model_comparator.pairs_scored", pairs)
            tracer.sample("model_comparator.pairs_per_call", pairs / max(calls, 1))
            tracer.sample("model_comparator.model_busy_s", busy)
            tracer.sample("model_comparator.model_busy_frac", busy / tracer.samples[span][-1])
        outputs["rerank"].append((batch, executor, out))

    setup_s = harness.tree_usage(os.getpid())[1]
    fixed["setup_wall_s"] = harness.process_age_s()

    loop = Loop(spark, tracer, log, seconds, trace)
    while loop.next_cycle():
        for kind in SERVE_CYCLE:
            if kind == "search_small":
                b = next(small_batches)
                loop.run(kind, len(b), lambda: search_small(b))
            else:
                b = next(rerank_batches)
                loop.run(kind, len(b), lambda: rerank_op(b, kind.split("_")[1]))

    # gates
    table = pq.read_table(docs_path, columns=["docid", "content"]).to_pydict()
    text = dict(zip(table["docid"], table["content"]))
    first_rows = read_text_run(first_stage)

    def oracle_rank_identical():
        from tests.oracle_bm25 import bm25_oracle

        for batch, rows in outputs["small"][:2]:
            want = bm25_oracle(list(text.items()), batch, k=SMALL_K, mode="code")
            for qid, _ in batch:
                got = [d for _, d in sorted((r, d) for q, d, r, _ in rows if q == qid)]
                if got != [d for d, _ in want[qid]]:
                    raise GateError(f"query {qid}: search differs from the BM25 oracle")

    def trec_runs_dense():
        check_ranked(first_rows, RERANK_QUERIES, SMALL_K, "first-stage run")
        for batch, _executor, out in outputs["rerank"]:
            check_ranked(read_text_run(out), len(batch), SMALL_K, "reranked run")

    def batched_equals_sequential():
        batch, _executor, out = next(o for o in outputs["rerank"] if o[1] == "model")
        qid, query = rng.choice(batch)
        cands = sorted((rank, docid) for q, docid, rank, _ in first_rows if q == qid)
        items = [(docid, text[docid]) for _, docid in cands]
        cmp = ModelComparator("perfbench-gate", partial(SimModel, 0.0, 0.0))
        want = [d for d, _ in rerank_local("setwise.heapsort", items, query, cmp, k=RERANK_K, num_child=RERANK_NUM_CHILD)]
        got = [d for _, d in sorted((r, d) for q, d, r, _ in read_text_run(out) if q == qid)]
        if got != want:
            raise GateError(f"rerank_batched differs from sequential rerank_local on {qid}")

    def verified():
        report = verify_index(index)
        if not report["ok"]:
            raise GateError(f"verify_index: {report['mismatches'][:3]}")
        if index.meta.n_docs != SERVE_DOCS:
            raise GateError(f"index holds {index.meta.n_docs} docs, expected {SERVE_DOCS}")

    gate(log, "search ranks identical to the BM25 oracle", oracle_rank_identical)
    gate(log, "TREC runs hold queries x hits lines with dense ranks", trec_runs_dense)
    gate(log, "rerank_batched equals sequential rerank_local", batched_equals_sequential)
    gate(log, "verify_index on the served index", verified)

    fixed.update(build_phases([read_manifest(index_path)]))
    fixed.update(index_layer(index_path))
    fixed["spark.persisted_after_op"] = loop.persisted_max
    input_bytes = sum(len(c.encode("utf-8")) for c in text.values())
    return {
        "setup_s": setup_s,
        "index_bytes_per_input_byte": index_bytes(index_path) / input_bytes,
    }


WORKLOADS = {"ingest": run_ingest, "serve": run_serve}

"""Query-shaped engine-free scaling control (round-5 verdict #1).

Round 5 attributed BUILD scaling to the host via a same-protocol engine-free
control; query scaling had no matched control. This closes that gap at the
bus-unsaturated protocol (1 vs 4 barrier-started JVMs, each CPU-pinned to
its own disjoint LLMRS_EMU_CORES_UNSAT-wide core set, page-cache-primed
prebuilt index, warm scoring path before the barrier, median-of-N pairs,
per-point steal):

- **engine** workers run the real cogrouped distributed BM25 plan
  (`search(..., plan='distributed')`, plan-pinned at both points so the
  1-JVM point cannot take a different physical strategy than the 4-JVM
  slices).
- **control** workers run the IDENTICAL plan shape — same postings scan +
  semi-join, same query-plan replication + cogroup, same ranking window,
  same doc_map join — with the scoring kernel replaced by a no-op that
  emits k constant-score rows per query. Whatever efficiency this reaches
  is the ceiling the protocol + Spark machinery permit on this box; the
  engine's ratio is read against it, not against 1.0.

The query batch is 4096 DISTINCT term-set queries (three-term combinations
of the 30-word bench vocabulary). The frozen bench batch repeats one of 20
term-sets, which the round-6 scorer legitimately deduplicates — a scaling
probe over it would measure fixed costs, not scoring throughput.

Usage: python BENCH/query_control_r06.py [passes]   → prints JSON lines and
writes BENCH/QUERY_CONTROL_r06.md.
Worker mode (internal): --worker role:i:n:input:sync
"""

import itertools
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("SPARK_GRAFT_EMU_DOCS_UNSAT", "100000"))
INPUT = os.path.join(tempfile.gettempdir(), f"llmrs_emu_input_{N_DOCS}")
# sized so per-JVM scoring dominates the ~2-3 s per-batch fixed cost at
# the 4-JVM point (<10% of its wall — the round-5 verdict's bar): the
# 1-pass smoke at 4096 queries measured a 9.3 s upper wall, still ~25%
# fixed; 16384 puts the upper wall near 20 s of mostly scoring
N_QUERIES = 16384

VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small", "merge",
    "slow", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "spark", "group", "part", "big", "sort", "query", "fast", "the", "dup",
]


def distinct_queries(spark):
    """N_QUERIES distinct term-set queries: every 3-combination of the
    30-word vocabulary (C(30,3)=4060) plus four-term sets (C(30,4)=27405)
    up to the target."""
    rows = []
    for i, combo in enumerate(itertools.combinations(VOCAB, 3)):
        rows.append((f"c{i}", " ".join(combo)))
    for i, combo in enumerate(itertools.islice(itertools.combinations(VOCAB, 4), N_QUERIES - len(rows))):
        rows.append((f"d{i}", " ".join(combo)))
    assert len(rows) == N_QUERIES, len(rows)
    return spark.createDataFrame(rows, "qid string, query string")


def _noop_scored_plan(idx, qs, k):
    """The distributed search plan with the scoring kernel swapped for a
    no-op: identical scan/semi-join/replicate/cogroup/window/doc_map-join
    shape, zero posting decode or BM25 arithmetic."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from llm_rankers_spark.operators.bm25 import RESULT_SCHEMA, query_terms

    meta = idx.meta
    qt = query_terms(qs, meta.tokenizer_mode)
    terms_df = qt.select("term").distinct()
    postings = idx.postings.join(terms_df, "term", "left_semi")
    qw = qt.select("qid", "term", F.col("qw").cast("double").alias("w"))
    shard_ids = qs.sparkSession.createDataFrame(
        [(s,) for s in range(meta.num_shards)], "shard int"
    )
    qw_rep = qw.crossJoin(F.broadcast(shard_ids))

    def scorer(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        qids = rpdf["qid"].unique()
        return pd.DataFrame(
            {"qid": [q for q in qids for _ in range(k)],
             "ord": list(range(k)) * len(qids),
             "score": [0.0] * (k * len(qids))}
        )

    partial = (
        postings.groupBy("shard")
        .cogroup(qw_rep.groupBy("shard"))
        .applyInPandas(lambda key, lp, rp: scorer(lp, rp), schema=RESULT_SCHEMA)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("ord"))
    topk = partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return (
        idx.doc_map.select("ord", "docid")
        .join(topk, "ord", "inner")
        .select("qid", "docid", "rank", "score", F.lit("control").alias("tag"))
    )


def worker(role: str, i: int, n: int, input_path: str, sync_dir: str) -> None:
    from pyspark.sql import functions as F

    from llm_rankers_spark.operators.bm25 import search
    from llm_rankers_spark.operators.index_build import load_index
    from llm_rankers_spark.session import get_spark

    cores = os.environ.get("LLMRS_EMU_CORES_UNSAT", "2")
    spark = get_spark(app_name=f"qc_{role}_{i}", master=f"local[{cores}]")
    idx = load_index(spark, input_path + "_index")
    idx.postings.select(F.sum(F.length("docs_blob"))).collect()  # page the blobs in
    qs_all = distinct_queries(spark)
    qs = qs_all.filter(F.pmod(F.xxhash64("qid"), F.lit(n)) == i) if n > 1 else qs_all
    qs = qs.persist()
    n_rows = qs.count()

    def run():
        if role == "engine":
            search(idx, qs, k=10, plan="distributed").count()
        else:
            _noop_scored_plan(idx, qs, k=10).count()

    # warm the full path (session machinery, cogroup plan, python workers)
    # on a 16-query slice — a long-lived serving executor is past its first
    # batch (same argument as bench.emu_worker)
    if role == "engine":
        search(idx, qs_all.limit(16), k=10, plan="distributed").count()
    else:
        _noop_scored_plan(idx, qs_all.limit(16), k=10).count()

    open(os.path.join(sync_dir, f"ready_{i}"), "w").close()
    while not os.path.exists(os.path.join(sync_dir, "go")):
        time.sleep(0.05)
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    json.dump({"rows": n_rows, "wall": wall}, open(os.path.join(sync_dir, f"out_{i}.json"), "w"))
    spark.stop()


def run_point(role: str, n: int, input_path: str) -> tuple[float, float, float]:
    import bench

    bench.prime_page_cache(input_path + "_index")
    sync_dir = tempfile.mkdtemp(prefix="qc_sync_")
    procs = []
    try:
        for i in range(n):
            procs.append(subprocess.Popen(
                bench._emu_pin_prefix(i)
                + [sys.executable, os.path.abspath(__file__), "--worker",
                   f"{role}:{i}:{n}:{input_path}:{sync_dir}"],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            ))
        while sum(os.path.exists(os.path.join(sync_dir, f"ready_{i}")) for i in range(n)) < n:
            time.sleep(0.2)
            if any(p.poll() not in (None, 0) for p in procs):
                raise RuntimeError("query-control worker died before barrier")
        c0 = bench._cpu_ticks()  # steal window = the timed wall only
        open(os.path.join(sync_dir, "go"), "w").close()
        for p in procs:
            p.wait()
        d = [b - a for a, b in zip(c0, bench._cpu_ticks())]
        dead = [i for i, p in enumerate(procs) if p.returncode != 0]
        if dead:
            raise RuntimeError(f"query-control worker(s) {dead} exited non-zero")
        outs = [json.load(open(os.path.join(sync_dir, f"out_{i}.json"))) for i in range(n)]
        rows = sum(o["rows"] for o in outs)
        wall = max(o["wall"] for o in outs)
        return rows, wall, round(100.0 * d[7] / max(sum(d), 1), 1)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()


def prep() -> None:
    from llm_rankers_spark.corpus import generate_corpus, with_docid
    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.session import get_spark

    spark = get_spark(app_name="qc_prep", master="local[32]")
    if not os.path.exists(os.path.join(INPUT, "_SUCCESS")):
        with_docid(generate_corpus(spark, N_DOCS, seed=42, partitions=32)).select(
            "docid", "content", "content_sha256"
        ).write.mode("overwrite").parquet(INPUT)
    if not os.path.exists(os.path.join(INPUT + "_index", "_index_meta.json")):
        build_index(spark.read.parquet(INPUT), INPUT + "_index", tokenizer_mode="code", num_shards=32)
    spark.stop()


def median_pair(pairs):
    ranked = sorted(pairs, key=lambda p: p["eff"])
    return ranked[(len(ranked) - 1) // 2]


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        role, i, n, input_path, sync_dir = sys.argv[2].split(":", 4)
        worker(role, int(i), int(n), input_path, sync_dir)
        return
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    prep()
    results = {}
    for role in ("engine", "control"):
        pairs = []
        for p in range(passes):
            r1, w1, s1 = run_point(role, 1, INPUT)
            r4, w4, s4 = run_point(role, 4, INPUT)
            pair = {
                "pass": p + 1,
                "thr1": round(r1 / w1, 1), "wall1": round(w1, 2), "steal1": s1,
                "thr4": round(r4 / w4, 1), "wall4": round(w4, 2), "steal4": s4,
                "eff": round((r4 / w4) / (4.0 * r1 / w1), 3),
            }
            pairs.append(pair)
            print(json.dumps({"role": role, **pair}), flush=True)
        results[role] = pairs

    med_e = median_pair(results["engine"])
    med_c = median_pair(results["control"])
    ratio = med_e["eff"] / med_c["eff"] if med_c["eff"] else float("nan")
    cores = os.environ.get("LLMRS_EMU_CORES_UNSAT", "2")
    md = os.path.join(REPO, "BENCH", "QUERY_CONTROL_r06.md")
    with open(md, "w") as f:
        f.write("# Query-scaling engine/control attribution (round 6)\n\n")
        f.write(
            f"Protocol: 1 vs 4 barrier-started JVMs, each pinned to its own "
            f"disjoint {cores}-core set; prebuilt {N_DOCS}-doc code index, "
            f"page-cache primed per point; {N_QUERIES} DISTINCT term-set "
            "queries (the frozen bench batch repeats one of 20 term-sets, "
            "which the round-6 scorer deduplicates — a scaling probe over it "
            "would measure fixed cost, not scoring); plan pinned to the "
            "cogrouped distributed strategy at BOTH points; warm scoring "
            "path before the barrier; steal sampled over the timed wall "
            "only. The CONTROL runs the identical physical plan with the "
            "scoring kernel replaced by a no-op (zero decode, zero BM25 "
            "arithmetic) — the ceiling this protocol + Spark machinery "
            "permit on this box.\n\n"
        )
        for role in ("engine", "control"):
            f.write(f"## {role} pairs\n\n")
            for p in results[role]:
                f.write(
                    f"- pass {p['pass']}: 1 JVM {p['thr1']}/s (wall {p['wall1']}s), "
                    f"4 JVMs {p['thr4']}/s (wall {p['wall4']}s), eff {p['eff']:.3f} "
                    f"[steal {p['steal1']}% / {p['steal4']}%]\n"
                )
            f.write("\n")
        f.write(
            f"## Verdict\n\nMedian engine efficiency **{med_e['eff']:.3f}** vs median "
            f"control efficiency **{med_c['eff']:.3f}** → engine/control ratio "
            f"**{ratio:.2f}**. A ratio ≈ 1 attributes the sub-linear query scaling "
            "to the host/protocol ceiling (as round 5 established for build); a "
            "ratio ≪ 1 names an engine residual.\n"
        )
    print(json.dumps({
        "engine_median_eff": med_e["eff"], "control_median_eff": med_c["eff"],
        "engine_over_control": round(ratio, 3), "md": md,
    }))


if __name__ == "__main__":
    main()

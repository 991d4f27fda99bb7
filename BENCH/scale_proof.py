"""Scale proof: exercise the engine at 10-200x the bench scale, where
hot-term skew, the pack-mode cutover, the tree merge and segment
compaction actually bind.

Four measurements, one command (`python BENCH/scale_proof.py`), results
to BENCH/SCALE_PROOF.{json,md} (earlier runs: SCALE_PROOF_r05.*,
SCALE_PROOF_r06.*):

1. **sf1 headline** — the full bench.py headline protocol on the sf1
   tables from BENCH/gen_sf1.py (50k docs / 20k embeddings, 10x sf0.1).
2. **sf1 oracle spot-check** — the s5_s6_bm25_wand_topk driver entry runs
   against the sf1 documents table and must be value-identical to its
   DuckDB oracle on the same parquet.
3. **10^6-doc build + search** — synthetic code corpus (seed 42): build
   at 64 shards in BOTH pack modes (rank-identity spot-checked between
   them), then 5-query WAND and a 4096-query distributed batch with
   window vs tree merge (row-identical, both timed).
4. **10^6-doc segments + compaction** — the same corpus as four
   docid-hash segments (8 shards each), a 64-query batch over them with
   global statistics (`search_segments`), `compact_segments` into one
   32-shard segment, and the same batch again: the two results must be
   row-identical.

Measurements 2-4 share one session and the corpus directory
(`bench_extra.code_corpus`, which `bench_extra.py wand-skip-big` reads too);
LLMRS_SCALE_DOCS resizes the corpus. Run serialized — never concurrently
with other Spark jobs on this box.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.environ.get("LLMRS_SF1_DIR", "/tmp/llmrs_sf1")
N_BIG = int(os.environ.get("LLMRS_SCALE_DOCS", "1000000"))
N_SEGMENTS = 4


def sf1_headline() -> dict:
    if not os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        subprocess.run([sys.executable, os.path.join(REPO, "BENCH", "gen_sf1.py"), SF1_DIR], check=True)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF1_DIR, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def sf1_oracle_spot_check(spark) -> dict:
    import duckdb

    import __spark_entry__ as entry

    qs, osql = entry.queries(), entry.oracle_sql()
    sdf = qs["s5_s6_bm25_wand_topk"](spark, SF1_DIR).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF1_DIR}/documents.parquet')"
    )
    sql = osql["s5_s6_bm25_wand_topk"]
    odf = con.sql(sql() if callable(sql) else sql).df()
    cols = sorted(sdf.columns)
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    o = odf[cols].sort_values(cols).reset_index(drop=True).astype(s.dtypes.to_dict())
    return {
        "rows_spark": len(s), "rows_oracle": len(o),
        "rows_match": len(s) == len(o),
        "values_match": bool(s.equals(o)),
    }


def big_build_and_search(spark) -> dict:
    from bench_extra import code_corpus
    from llm_rankers_spark.operators import bm25
    from llm_rankers_spark.operators.bm25 import search
    from llm_rankers_spark.operators.index_build import build_index

    res: dict = {"n_docs": N_BIG}
    idx_dirs = {}
    try:
        docs = code_corpus(spark, N_BIG)
        for mode in ("bucket", "shard_bucket"):
            idx_dirs[mode] = tempfile.mkdtemp(prefix=f"llmrs_scale_idx_{mode}_")
            t0 = time.perf_counter()
            idx = build_index(
                docs, idx_dirs[mode], tokenizer_mode="code", num_shards=64, pack_group=mode
            )
            res[f"build_{mode}_sec"] = round(time.perf_counter() - t0, 2)
            res[f"build_{mode}_docs_per_sec"] = round(N_BIG / res[f"build_{mode}_sec"], 1)
            if mode == "bucket":
                idx_a = idx
            else:
                idx_b = idx

        # pack modes must be rank-identical at this scale too (spot check
        # with a query mix that includes the corpus's hottest terms)
        qrows = [("h1", "import def return"), ("h2", "self import"), ("h3", "parse query handler"),
                 ("h4", "def"), ("h5", "request helper fn import")]
        qs = spark.createDataFrame(qrows, "qid string, query string")
        a = sorted((r.qid, r.docid, r.rank) for r in search(idx_a, qs, k=20, plan="driver").collect())
        b = sorted((r.qid, r.docid, r.rank) for r in search(idx_b, qs, k=20, plan="driver").collect())
        res["pack_modes_rank_identical"] = a == b and len(a) > 0

        t0 = time.perf_counter()
        n = search(idx_a, qs, k=10, plan="driver").count()
        res["wand5_sec"] = round(time.perf_counter() - t0, 2)
        res["wand5_rows"] = n

        big_qs = spark.createDataFrame(
            [(f"b{i}", qrows[i % len(qrows)][1]) for i in range(4096)], "qid string, query string"
        )
        # the merge is picked from the shard count: raise the cutover above
        # 64 shards for the single window, then restore the defaults (the
        # fan-in-8 tree at 64 shards)
        saved = bm25.TREE_MERGE_MIN_SHARDS, bm25.TREE_MERGE_FANIN
        bm25.TREE_MERGE_MIN_SHARDS = 1 << 30
        t0 = time.perf_counter()
        w_rows = search(idx_a, big_qs, k=10, plan="distributed").count()
        res["dist4096_window_sec"] = round(time.perf_counter() - t0, 2)
        bm25.TREE_MERGE_MIN_SHARDS, bm25.TREE_MERGE_FANIN = saved
        t0 = time.perf_counter()
        t_rows = search(idx_a, big_qs, k=10, plan="distributed").count()
        res["dist4096_tree_sec"] = round(time.perf_counter() - t0, 2)
        res["dist4096_rows_equal"] = w_rows == t_rows
        res["dist4096_queries_per_sec_tree"] = round(4096 / res["dist4096_tree_sec"], 1)
        return res
    finally:
        for d in idx_dirs.values():
            shutil.rmtree(d, ignore_errors=True)


def segments_and_compaction(spark) -> dict:
    from bench_extra import code_corpus
    from pyspark.sql import functions as F

    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.streaming import index_stream as stream_ops

    pool = ["parse", "query", "import", "def", "return", "self", "request", "handler",
            "stream", "batch", "merge", "index", "block", "shard", "posting", "helper"]
    qs = spark.createDataFrame(
        [(f"s{i}", " ".join(pool[(i * 5 + j) % len(pool)] for j in range(1 + i % 4))) for i in range(64)],
        "qid string, query string",
    )

    def timed_search(root: str) -> tuple[list, float]:
        t0 = time.perf_counter()
        rows = sorted(
            (r["qid"], r["docid"], r["rank"], round(r["score"], 9))
            for r in stream_ops.search_segments(spark, root, qs, k=10).collect()
        )
        return rows, round(time.perf_counter() - t0, 1)

    docs = code_corpus(spark, N_BIG)
    root = tempfile.mkdtemp(prefix="llmrs_scale_segs_")
    try:
        seg_walls = []
        for part in range(N_SEGMENTS):
            t0 = time.perf_counter()
            build_index(
                docs.filter(F.pmod(F.xxhash64("docid"), F.lit(N_SEGMENTS)) == part),
                os.path.join(root, f"segment_{part:05d}"), tokenizer_mode="code", num_shards=8,
            )
            seg_walls.append(round(time.perf_counter() - t0, 1))
            stream_ops._register_segment(root, f"segment_{part:05d}", part)
        seg_res, seg_search_wall = timed_search(root)
        t0 = time.perf_counter()
        stream_ops.compact_segments(spark, root, num_shards=32)
        compact_wall = round(time.perf_counter() - t0, 1)
        cmp_res, cmp_search_wall = timed_search(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return {
        "n_docs": N_BIG,
        "n_segments": N_SEGMENTS,
        "segment_build_walls_sec": seg_walls,
        "segment_search_wall_sec": seg_search_wall,
        "compaction_wall_sec": compact_wall,
        "compacted_search_wall_sec": cmp_search_wall,
        "rows": len(seg_res),
        "merge_equals_compacted": seg_res == cmp_res and len(seg_res) > 0,
        "seg_hash": hashlib.md5(repr(seg_res).encode()).hexdigest(),
        "cmp_hash": hashlib.md5(repr(cmp_res).encode()).hexdigest(),
    }


def main() -> None:
    from llm_rankers_spark.session import get_spark

    out: dict = {"sf1_headline": sf1_headline()}
    spark = get_spark(app_name="scale_proof")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out["sf1_oracle_spot_check"] = sf1_oracle_spot_check(spark)
        out["big"] = big_build_and_search(spark)
        out["segments"] = segments_and_compaction(spark)
    finally:
        spark.stop()

    with open(os.path.join(REPO, "BENCH", "SCALE_PROOF.json"), "w") as f:
        json.dump(out, f, indent=1)

    h, big, spot, seg = out["sf1_headline"], out["big"], out["sf1_oracle_spot_check"], out["segments"]
    md = f"""# SCALE PROOF (generated by `python BENCH/scale_proof.py`)

## 1. sf1 headline (50k docs / 20k embeddings — 10x sf0.1, tables from BENCH/gen_sf1.py)

e2e {h['value']} s; stages: {json.dumps(h['queries'])}
build {h['docs_per_sec_build']} docs/s, wand {h['queries_per_sec_bm25']} q/s,
dist4096 {h.get('queries_per_sec_dist4096', 'n/a')} q/s.

## 2. sf1 oracle spot-check (s5_s6_bm25_wand_topk vs DuckDB on the same parquet)

rows {spot['rows_spark']}/{spot['rows_oracle']}, values_match={spot['values_match']}

## 3. {N_BIG}-doc build + search (synthetic code corpus, 64 shards)

| measurement | value |
|---|---|
| build pack_group=bucket | {big['build_bucket_sec']} s ({big['build_bucket_docs_per_sec']} docs/s) |
| build pack_group=shard_bucket | {big['build_shard_bucket_sec']} s ({big['build_shard_bucket_docs_per_sec']} docs/s) |
| pack modes rank-identical | {big['pack_modes_rank_identical']} |
| 5-query WAND (hot terms) | {big['wand5_sec']} s |
| 4096-query distributed, window merge | {big['dist4096_window_sec']} s |
| 4096-query distributed, tree merge (fanin 8) | {big['dist4096_tree_sec']} s ({big['dist4096_queries_per_sec_tree']} q/s) |
| window == tree row counts | {big['dist4096_rows_equal']} |

## 4. {N_BIG}-doc segments + compaction ({N_SEGMENTS} docid-hash segments, 8 shards each; compacted at 32)

- per-segment build walls: {seg['segment_build_walls_sec']} s
- 64-query batch over {N_SEGMENTS} segments with global stats: {seg['segment_search_wall_sec']} s
- compaction (postings decoded, not re-tokenized): {seg['compaction_wall_sec']} s
- same batch over the compacted segment: {seg['compacted_search_wall_sec']} s
- segment-merge search ≡ compacted search: **{seg['merge_equals_compacted']}** ({seg['rows']} rows)
"""
    with open(os.path.join(REPO, "BENCH", "SCALE_PROOF.md"), "w") as f:
        f.write(md)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

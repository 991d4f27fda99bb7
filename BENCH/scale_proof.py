"""Round-5 scale proof (round-4 verdict #1): exercise the engine at 10-200x
the bench scale, where hot-term skew, the pack-mode cutover, and the tree
merge actually bind.

Three measurements, one command (`python BENCH/scale_proof.py`), results
to BENCH/SCALE_PROOF_r05.{json,md}:

1. **sf1 headline** — the full bench.py headline protocol on the sf1
   tables from BENCH/gen_sf1.py (50k docs / 20k embeddings, 10x sf0.1).
2. **sf1 oracle spot-check** — the s5_s6_bm25_wand_topk driver entry runs
   against the sf1 documents table and must be value-identical to its
   DuckDB oracle on the same parquet.
3. **10^6-doc build + search** — synthetic code corpus (same generator as
   the scaling harness, seed 42): build at 64 shards in BOTH pack modes
   (rank-identity spot-checked between them), then 64-query WAND and a
   4096-query distributed batch with window vs tree merge (row-identical,
   both timed).

Run serialized — never concurrently with other Spark jobs on this box.
"""
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


def sf1_headline() -> dict:
    if not os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        subprocess.run([sys.executable, os.path.join(REPO, "BENCH", "gen_sf1.py"), SF1_DIR], check=True)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF1_DIR, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def sf1_oracle_spot_check() -> dict:
    import duckdb

    import __spark_entry__ as entry
    from llm_rankers_spark.session import get_spark

    spark = get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
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
    finally:
        spark.stop()


def big_build_and_search() -> dict:
    from pyspark.sql import functions as F

    from llm_rankers_spark.corpus import generate_corpus, with_docid
    from llm_rankers_spark.operators import bm25
    from llm_rankers_spark.operators.bm25 import search
    from llm_rankers_spark.operators.index_build import build_index
    from llm_rankers_spark.session import get_spark

    spark = get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"n_docs": N_BIG}
    corpus_dir = os.path.join(tempfile.gettempdir(), f"llmrs_scale_corpus_{N_BIG}")
    idx_dirs = {}
    try:
        if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
            docs = with_docid(generate_corpus(spark, N_BIG, seed=42, partitions=128)).select(
                "docid", "content", "content_sha256"
            )
            docs.write.mode("overwrite").parquet(corpus_dir)
        docs = spark.read.parquet(corpus_dir)

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
        spark.stop()


def main() -> None:
    out: dict = {}
    out["sf1_headline"] = sf1_headline()
    out["sf1_oracle_spot_check"] = sf1_oracle_spot_check()
    out["big"] = big_build_and_search()

    jpath = os.path.join(REPO, "BENCH", "SCALE_PROOF_r05.json")
    json.dump(out, open(jpath, "w"), indent=1)

    h, big, spot = out["sf1_headline"], out["big"], out["sf1_oracle_spot_check"]
    md = f"""# SCALE PROOF — round 5 (generated by `python BENCH/scale_proof.py`)

## 1. sf1 headline (50k docs / 20k embeddings — 10x sf0.1, tables from BENCH/gen_sf1.py)

e2e {h['value']} s; stages: {json.dumps(h['queries'])}
build {h['docs_per_sec_build']} docs/s, wand {h['queries_per_sec_bm25']} q/s,
dist4096 {h.get('queries_per_sec_dist4096', 'n/a')} q/s.

## 2. sf1 oracle spot-check (s5_s6_bm25_wand_topk vs DuckDB on the same parquet)

rows {spot['rows_spark']}/{spot['rows_oracle']}, values_match={spot['values_match']}

## 3. 10^6-doc build + search (synthetic code corpus, 64 shards)

| measurement | value |
|---|---|
| build pack_group=bucket | {big['build_bucket_sec']} s ({big['build_bucket_docs_per_sec']} docs/s) |
| build pack_group=shard_bucket | {big['build_shard_bucket_sec']} s ({big['build_shard_bucket_docs_per_sec']} docs/s) |
| pack modes rank-identical | {big['pack_modes_rank_identical']} |
| 5-query WAND (hot terms) | {big['wand5_sec']} s |
| 4096-query distributed, window merge | {big['dist4096_window_sec']} s |
| 4096-query distributed, tree merge (fanin 8) | {big['dist4096_tree_sec']} s ({big['dist4096_queries_per_sec_tree']} q/s) |
| window == tree row counts | {big['dist4096_rows_equal']} |
"""
    open(os.path.join(REPO, "BENCH", "SCALE_PROOF_r05.md"), "w").write(md)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

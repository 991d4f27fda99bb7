"""Connected-components clustering over duplicate pairs."""

from pyspark.sql import functions as F

from llm_rankers_spark.operators.dedup import connected_components


def test_cc_chain_and_star(spark):
    # chain a-b-c-d (diameter 3) + star e-{f,g,h} + isolated pair (i,j)
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("e", "g"), ("e", "h"), ("i", "j")],
        "id_a string, id_b string",
    )
    got = {(r["id"], r["root"]) for r in connected_components(pairs).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("e", "e"), ("f", "e"), ("g", "e"), ("h", "e"),
        ("i", "i"), ("j", "i"),
    }


def test_cc_long_path_converges(spark):
    # worst-case diameter for its size: a pure path of 12 nodes
    n = 12
    ids = [f"n{i:02d}" for i in range(n)]
    pairs = spark.createDataFrame(
        list(zip(ids[:-1], ids[1:])), "id_a string, id_b string"
    )
    out = connected_components(pairs, max_iter=n)
    roots = {r["root"] for r in out.collect()}
    assert roots == {"n00"} and out.count() == n


def test_contamination_overlap_flags_planted_eval_text(spark):
    from llm_rankers_spark.operators.dedup import contamination_overlap

    docs = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("d2", "totally unrelated words about spark shuffles and joins here"),
            ("d3", "prefix words then alpha beta gamma delta epsilon zeta suffix"),
        ],
        "docid string, content string",
    )
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon zeta")],
        "bench_id string, text string",
    )
    out = contamination_overlap(docs, bench, shingle_k=3, threshold=0.5)
    rows = {(r["bench_id"], r["docid"]): r for r in out.collect()}
    # b1 has 4 3-gram shingles; d1 and d3 contain all 4, d2 none
    assert set(rows) == {("b1", "d1"), ("b1", "d3")}
    for r in rows.values():
        assert r["bench_shingles"] == 4
        assert r["matched"] == 4
        assert r["overlap"] == 1.0
    # threshold gates partial overlaps
    partial = contamination_overlap(
        docs.filter("docid = 'd2'"), bench, shingle_k=3, threshold=0.01
    )
    assert partial.count() == 0
    # the benchmark side broadcasts: no corpus-side Exchange before the
    # matched aggregate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _docs(spark):
    rows = [(f"d{i:02d}", f"shared words about spark shuffles number {i % 7} and joins") for i in range(40)]
    return spark.createDataFrame(rows, "docid string, content string")


def test_minhash_plan_construction_runs_no_job(spark):
    # the tokenize repartition is decided from the plan: an input with an
    # exchange must not have AQE run its shuffle just to report a
    # partition count
    from llm_rankers_spark.operators.dedup import minhash_signatures

    sc = spark.sparkContext
    shuffled = _docs(spark).groupBy("docid").agg(F.first("content").alias("content"))
    sc.setJobGroup("minhash_plan_construction", "construction only")
    try:
        sigs = minhash_signatures(shuffled, num_hashes=8, shingle_k=3)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("minhash_plan_construction")) == []
    assert sigs.count() == 40


def test_single_split_scan_tokenizes_on_parallelism_tasks(spark, tmp_path):
    # one parquet file = one input split; the tokenizer must still run on
    # defaultParallelism tasks
    from llm_rankers_spark.operators.dedup import minhash_signatures

    path = str(tmp_path / "docs")
    _docs(spark).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    plan = minhash_signatures(scan, num_hashes=8, shingle_k=3)._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})" in plan, plan


def test_lsh_plan_computes_signatures_once(spark):
    # the static plan holds the tokenizer and the signature aggregate three
    # times (star branch plus both self-join sides); the executed adaptive
    # plan must run them once and reuse the exchanges for the other two
    from llm_rankers_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures

    pairs = minhash_lsh_candidates(minhash_signatures(_docs(spark), num_hashes=32, shingle_k=3), num_hashes=32, bands=16)
    assert len(pairs.collect()) > 0
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert "ReusedExchange" in final, final

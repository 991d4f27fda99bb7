"""End-to-end index build + BM25 correctness vs the pure-Python oracle.

North-rule checks (BASELINE.md): rank-identical top-k docids, scores within
1e-6 (in practice exact), WAND ≡ exhaustive, sha256 invariant, known-item
smoke, resume idempotence.
"""

import os

import pytest
from pyspark.sql import functions as F

from llm_rankers_spark.corpus import generate_corpus, generate_queries, with_docid
from llm_rankers_spark.operators import bm25
from llm_rankers_spark.operators.bm25 import bm25_dataframe, search
from llm_rankers_spark.operators.index_build import build_index, load_index, verify_index

from .oracle_bm25 import bm25_oracle, fresh_shard_manifest

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    return with_docid(generate_corpus(spark, N_DOCS, seed=42)).persist()


@pytest.fixture(scope="module")
def queries(spark):
    vocab = ["parse", "query", "import", "def", "return", "self", "helper", "fn", "request", "handler"]
    return generate_queries(spark, vocab, n_queries=24, seed=42)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx"))
    return build_index(corpus.select("docid", "content", "content_sha256"), path, num_shards=4)


@pytest.fixture(scope="module")
def oracle(corpus, queries):
    docs = [(r["docid"], r["content"]) for r in corpus.select("docid", "content").collect()]
    qs = [(r["qid"], r["query"]) for r in queries.collect()]
    return bm25_oracle(docs, qs, k=10)


def _collect_runs(df):
    out = {}
    for r in df.orderBy("qid", "rank").collect():
        out.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    return out


#: bm25.EXHAUSTIVE_MAX_POSTINGS per scoring kernel: 'exhaustive' sends every
#: query plan to the numpy-exhaustive kernel, 'wand' every one to block-max,
#: 'auto' keeps the default cutover.
KERNEL_CUTOVER = {"exhaustive": 1 << 62, "wand": 0}


def _use_kernel(monkeypatch, kernel: str) -> None:
    if kernel != "auto":
        monkeypatch.setattr(bm25, "EXHAUSTIVE_MAX_POSTINGS", KERNEL_CUTOVER[kernel])


@pytest.mark.parametrize("kernel", ["exhaustive", "wand", "auto"])
def test_rank_identical_to_oracle(index, queries, oracle, kernel, monkeypatch):
    _use_kernel(monkeypatch, kernel)
    got = _collect_runs(search(index, queries, k=10))
    qids_with_hits = {q for q, hits in oracle.items() if hits}
    assert set(got.keys()) == qids_with_hits
    for qid in qids_with_hits:
        g, w = got[qid], oracle[qid]
        assert [d for d, _ in g] == [d for d, _ in w], f"docid mismatch for {qid}"
        for (_, gs), (_, ws) in zip(g, w):
            assert gs == pytest.approx(ws, abs=1e-6)


@pytest.mark.parametrize("kernel", ["exhaustive", "wand"])
def test_search_distributed_equals_driver_planned(index, queries, oracle, kernel, monkeypatch):
    # the fully-distributed batch path (no queries.collect, cogrouped query
    # plan) must be result-identical to the driver-planned path and the oracle
    _use_kernel(monkeypatch, kernel)
    got = _collect_runs(search(index, queries, k=10, plan="distributed"))
    qids_with_hits = {q for q, hits in oracle.items() if hits}
    assert set(got.keys()) == qids_with_hits
    for qid in qids_with_hits:
        g, w = got[qid], oracle[qid]
        assert [d for d, _ in g] == [d for d, _ in w], f"docid mismatch for {qid}"
        for (_, gs), (_, ws) in zip(g, w):
            assert gs == pytest.approx(ws, abs=1e-6)


def test_shard_subset_union_equals_full_search(spark, index, queries):
    # shard-parallel serving: per-subset top-k's union + re-rank == global
    # top-k (disjoint doc ranges per shard)
    from pyspark.sql import Window

    full = _collect_runs(search(index, queries, k=10))
    parts = [search(index, queries, k=10, shards=[0, 2]),
             search(index, queries, k=10, shards=[1, 3])]
    u = parts[0].unionByName(parts[1])
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    merged = (
        u.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    )
    got = _collect_runs(merged)
    assert got == full


def test_auto_dispatch_small_batch_takes_driver_plan(index, queries):
    # one entry point (round-4 verdict #3): a reranking-sized batch routes to
    # the driver-planned path and all three plan values are rank-identical
    out = {}
    a = _collect_runs(search(index, queries, k=10, plan="auto", plan_out=out))
    assert out["plan"] == "driver" and out["probe_n"] == 24
    b = _collect_runs(search(index, queries, k=10, plan="driver"))
    c = _collect_runs(search(index, queries, k=10, plan="distributed"))
    assert a == b == c


def test_auto_dispatch_large_batch_takes_distributed_plan(spark, index):
    from llm_rankers_spark.operators.bm25 import DRIVER_QUERY_PLAN_MAX

    # 10^4-query batch built distributedly — never collected by the
    # dispatcher: the probe is limit(N+1).count(), so probe_n is capped at
    # N+1 regardless of the true batch size (no full count, no collect)
    big = spark.range(10_000).select(
        F.concat(F.lit("q"), F.col("id").cast("string")).alias("qid"),
        F.lit("parse query").alias("query"),
    )
    out = {}
    df = search(index, big, k=10, plan="auto", plan_out=out)
    assert out["plan"] == "distributed"
    assert out["probe_n"] == DRIVER_QUERY_PLAN_MAX + 1  # bounded probe, short-circuited
    # the distributed plan contains the cogroup (FlatMapCoGroupsInPandas),
    # which the driver-planned path never produces
    assert "FlatMapCoGroupsInPandas" in df._jdf.queryExecution().optimizedPlan().toString()

    # just above the cutoff: execute end-to-end through the same entry point
    # and check it equals the forced driver plan
    mid = spark.range(DRIVER_QUERY_PLAN_MAX + 8).select(
        F.concat(F.lit("q"), F.col("id").cast("string")).alias("qid"),
        F.lit("parse query").alias("query"),
    )
    out2 = {}
    got = _collect_runs(search(index, mid, k=5, plan="auto", plan_out=out2))
    assert out2["plan"] == "distributed"
    want = _collect_runs(search(index, mid, k=5, plan="driver"))
    assert got == want


def test_auto_dispatch_shards_imply_driver_plan(index, queries):
    out = {}
    search(index, queries, k=10, shards=[0, 1], plan="auto", plan_out=out)
    assert out["plan"] == "driver" and out["probe_n"] is None
    with pytest.raises(ValueError, match="shards"):
        search(index, queries, k=10, shards=[0], plan="distributed")


def test_driver_ordinals_equal_distributed(spark, corpus, queries, index, tmp_path_factory, monkeypatch):
    # the adaptive driver-side ordinal path (small corpora) must produce a
    # rank-identical index to the distributed range-sort path
    from llm_rankers_spark.operators import index_build as ib

    monkeypatch.setattr(ib, "DRIVER_ORDINALS_MAX", 0)  # force the slim path
    path = str(tmp_path_factory.mktemp("idx_slimpath"))
    idx_slim = build_index(corpus.select("docid", "content", "content_sha256"), path, num_shards=4)
    a = _collect_runs(search(index, queries, k=10))  # driver path (fixture)
    b = _collect_runs(search(idx_slim, queries, k=10))
    assert a == b


def test_ordinals_auto_duplicate_docids_fall_back(spark):
    from llm_rankers_spark.operators.index_build import _ordinals_auto

    df = spark.createDataFrame([("d1",), ("d2",), ("d1",)], "docid string")
    ords, n, slim = _ordinals_auto(df)
    assert n == 3 and slim is not None  # distributed path (handle returned)
    got = sorted((r["docid"], r["ord"]) for r in ords.collect())
    assert [o for _, o in got] == [0, 1, 2]  # every row still gets a unique ordinal
    slim.unpersist()


def test_pack_group_modes_rank_identical(spark, corpus, queries, index, tmp_path_factory):
    # pack_group='shard_bucket' bounds pack-task memory under hot-term skew
    # (a task never holds a whole hot posting list); results must equal the
    # default bucket-grouped build exactly
    path = str(tmp_path_factory.mktemp("idx_sb"))
    idx_sb = build_index(
        corpus.select("docid", "content", "content_sha256"), path,
        num_shards=4, pack_group="shard_bucket",
    )
    assert idx_sb.meta.layout_version == 3  # df baked via slim agg + broadcast
    a = _collect_runs(search(index, queries, k=10))
    b = _collect_runs(search(idx_sb, queries, k=10))
    assert a == b
    with pytest.raises(ValueError):
        build_index(
            corpus.select("docid", "content", "content_sha256"),
            str(tmp_path_factory.mktemp("idx_bad")), num_shards=4, pack_group="nope",
        )


def test_pack_group_auto_resolves_by_scale(spark, corpus, queries, tmp_path_factory, monkeypatch):
    # 'auto' picks the pack grouping from the rows-per-bucket estimate
    # (n_docs x avgdl / num_buckets vs the measured cutover): the 300-doc
    # fixture stays in bucket mode; shrinking the budget to zero must flip
    # the same build to shard_bucket — and both remain rank-identical
    from llm_rankers_spark.operators import index_build as ib

    eo_small, eo_big = {}, {}
    p1 = str(tmp_path_factory.mktemp("idx_auto_small"))
    idx_small = build_index(
        corpus.select("docid", "content", "content_sha256"), p1, num_shards=4,
        pack_group="auto", explain_out=eo_small,
    )
    # bucket mode: df counted in-group, so the pack plan has no broadcast
    # df join
    assert "BroadcastHashJoin" not in eo_small["pack_plan"]

    monkeypatch.setattr(ib, "PACK_BUCKET_MAX_GROUP_ROWS", 0)
    p2 = str(tmp_path_factory.mktemp("idx_auto_big"))
    idx_big = build_index(
        corpus.select("docid", "content", "content_sha256"), p2, num_shards=4,
        pack_group="auto", explain_out=eo_big,
    )
    # shard_bucket mode: the slim df count arrives via the broadcast join
    assert "BroadcastHashJoin" in eo_big["pack_plan"]
    a = _collect_runs(search(idx_small, queries, k=10))
    b = _collect_runs(search(idx_big, queries, k=10))
    assert a == b and len(a) > 0


def test_pack_auto_uses_exact_postings_rows(spark, corpus, tmp_path_factory, monkeypatch):
    # round-5 verdict #5: the 'auto' cutover input is the EXACT postings-row
    # count observed on the checkpoint write (not the n_docs x avgdl
    # estimate, which overshoots by the corpus tf ratio) — assert the value
    # handed to _pack_and_write equals the rows actually packed
    from pyspark.sql import functions as F

    from llm_rankers_spark.operators import index_build as ib

    seen = {}
    orig = ib._pack_and_write

    def spy(*args, **kw):
        seen["postings_rows"] = kw.get("postings_rows")
        return orig(*args, **kw)

    monkeypatch.setattr(ib, "_pack_and_write", spy)
    p = str(tmp_path_factory.mktemp("idx_exactrows"))
    idx = build_index(corpus.select("docid", "content", "content_sha256"), p, num_shards=4)
    actual = idx.postings.agg(F.sum("n")).collect()[0][0]
    assert seen["postings_rows"] == actual and actual > 0


def _n_windows(df):
    return df._jdf.queryExecution().optimizedPlan().toString().count("Window [row_number()")


def test_merge_auto_resolves_by_shard_count(spark, corpus, queries, index, tmp_path_factory, monkeypatch):
    # the distributed merge follows the shard count: up to
    # TREE_MERGE_MIN_SHARDS (32) one window; above it a fanin-8 tree (an
    # extra fold level, visible as a second Window), results identical to
    # the single window either way
    small = search(index, queries, k=5, plan="distributed")  # 4 shards
    assert _n_windows(small) == 1

    path = str(tmp_path_factory.mktemp("idx64"))
    idx64 = build_index(corpus.select("docid", "content", "content_sha256"), path, num_shards=64)
    big = search(idx64, queries, k=5, plan="distributed")
    assert _n_windows(big) == 2  # 64 shards -> one fanin-8 fold + final rank
    a = sorted(map(tuple, big.collect()))
    monkeypatch.setattr(bm25, "TREE_MERGE_MIN_SHARDS", 64)
    window = search(idx64, queries, k=5, plan="distributed")
    assert _n_windows(window) == 1
    assert sorted(map(tuple, window.collect())) == a and len(a) > 0


def test_tree_merge_equals_single_window(spark, corpus, queries, tmp_path_factory, monkeypatch):
    # round-3 verdict #8: the fanin-ary tree merge (the 10^5-shard serving
    # path) must be result-identical to the one-window merge. 16 shards
    # with fanin=4 exercises a real 2-level fold (16 -> 4 -> final).
    path = str(tmp_path_factory.mktemp("idx_tree"))
    idx16 = build_index(corpus.select("docid", "content", "content_sha256"), path, num_shards=16)
    a = _collect_runs(search(idx16, queries, k=10, plan="distributed"))
    monkeypatch.setattr(bm25, "TREE_MERGE_MIN_SHARDS", 0)
    monkeypatch.setattr(bm25, "TREE_MERGE_FANIN", 4)
    tree = search(idx16, queries, k=10, plan="distributed")
    assert _n_windows(tree) == 2
    assert _collect_runs(tree) == a
    # degenerate case: fanin >= num_shards is exactly the single window
    monkeypatch.setattr(bm25, "TREE_MERGE_FANIN", 64)
    one = search(idx16, queries, k=10, plan="distributed")
    assert _n_windows(one) == 1
    assert _collect_runs(one) == a
    # a fan-in below 2 never shrinks the tree: refused when the plan is built
    monkeypatch.setattr(bm25, "TREE_MERGE_FANIN", 1)
    with pytest.raises(ValueError, match="TREE_MERGE_FANIN"):
        search(idx16, queries, k=10, plan="distributed")


def test_wand_equals_exhaustive_large_k(index, queries, monkeypatch):
    _use_kernel(monkeypatch, "exhaustive")
    a = _collect_runs(search(index, queries, k=50))
    _use_kernel(monkeypatch, "wand")
    b = _collect_runs(search(index, queries, k=50))
    assert a == b


def test_known_item_smoke(spark, index):
    # FIXTURES.md §7 / reference README.md:42-53: query "passage_34" → that
    # doc at rank 1 (every doc embeds a unique marker).
    q = spark.createDataFrame([("known", "passage_34")], "qid string, query string")
    top = search(index, q, k=5).orderBy("rank").collect()
    assert top, "no hits for known-item query"
    assert "passage" in top[0]["docid"] or top[0]["rank"] == 1
    # the marker doc is the only one containing token passage_34 → rank 1
    doc_row = top[0]
    assert doc_row["rank"] == 1


def test_sha256_invariant(corpus, index):
    # content sha256 carried through the build must equal a fresh computation
    dm = index.doc_map.select("docid", "content_sha256")
    fresh = corpus.select("docid", F.sha2("content", 256).alias("expected"))
    diff = dm.join(fresh, "docid").filter(F.col("content_sha256") != F.col("expected")).count()
    assert diff == 0
    assert dm.count() == N_DOCS


def test_ordinals_are_docid_ordered(index):
    rows = index.doc_map.select("ord", "docid").orderBy("ord").collect()
    docids = [r["docid"] for r in rows]
    assert docids == sorted(docids)
    assert [r["ord"] for r in rows] == list(range(len(rows)))


def test_resume_skips_rebuild(spark, corpus, index):
    manifest = os.path.join(index.path, "_manifest.json")
    mtime = os.path.getmtime(manifest)
    idx2 = build_index(
        corpus.select("docid", "content", "content_sha256"), index.path, num_shards=4, resume=True
    )
    assert os.path.getmtime(manifest) == mtime  # untouched → skipped
    assert idx2.meta.n_docs == index.meta.n_docs


def test_hot_term_spreads_across_all_shards(spark, tmp_path):
    # skew mitigation is structural: a term present in EVERY doc (the
    # 'import'/'def' case) must shard by doc range, one sub-list per shard,
    # so no task ever owns the whole hot posting list — and scoring over the
    # sharded list stays oracle-exact
    rows = [
        (f"d{i:04d}", "common filler " + f"unique{i} token{i % 7}") for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "docid string, content string")
    idx = build_index(docs, str(tmp_path / "hotidx"), tokenizer_mode="simple", num_shards=8)
    hot = idx.postings.filter(F.col("term") == "common")
    per_shard = {r["shard"]: r["n"] for r in hot.select("shard", "n").collect()}
    assert len(per_shard) == 8, f"hot term not spread: {per_shard}"
    assert max(per_shard.values()) <= 25  # 200 docs / 8 shards
    assert sum(per_shard.values()) == 200  # df preserved across sub-lists
    # correctness on the hot+rare mix
    qs = spark.createDataFrame([("h1", "common unique42")], "qid string, query string")
    from .oracle_bm25 import bm25_oracle

    want = bm25_oracle(rows, [("h1", "common unique42")], k=5)
    got = _collect_runs(search(idx, qs, k=5))
    assert [d for d, _ in got["h1"]] == [d for d, _ in want["h1"]]
    for (_, gs), (_, ws) in zip(got["h1"], want["h1"]):
        assert gs == pytest.approx(ws, abs=1e-9)


def test_verify_index_lineage(spark, index, tmp_path):
    assert verify_index(index)["ok"]
    # build metrics ride the lineage manifest (phase walls + throughput)
    import json as _json

    with open(os.path.join(index.path, "_manifest.json")) as f:
        m = _json.load(f)["build_metrics"]
    assert set(m["phase_seconds"]) == {"slim_ordinals", "doc_map_write_stats", "pack_write"}
    assert m["wall_seconds"] > 0 and m["docs_per_sec"] > 0
    # corrupt: drop one postings parquet file -> the audit must flag it
    import glob as _glob
    import shutil as _shutil

    broken = str(tmp_path / "broken_idx")
    _shutil.copytree(index.path, broken)
    victim = sorted(_glob.glob(os.path.join(broken, "postings", "bucket=*", "*.parquet")))[0]
    os.remove(victim)
    res = verify_index(load_index(spark, broken))
    assert not res["ok"] and res["mismatches"]


def test_load_index_roundtrip(spark, index):
    idx = load_index(spark, index.path)
    assert idx.meta.avgdl == index.meta.avgdl
    assert idx.postings.count() > 0


def test_bm25_dataframe_counts_tokenless_docs(spark, tmp_path):
    # N/avgdl must cover ALL docs (token-less ones with dl=0), matching the
    # packed-index statistics — the two engine paths must agree on a corpus
    # containing empty documents (round-1 advice: bm25.py derived stats from
    # the dl table, silently dropping empty docs).
    rows = [
        ("d1", "alpha beta gamma alpha"),
        ("d2", "alpha delta"),
        ("d3", ""),  # token-less: counts toward N, dl=0
        ("d4", "beta beta gamma"),
    ]
    docs = spark.createDataFrame(rows, "docid string, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    qs = spark.createDataFrame([("q1", "alpha beta")], "qid string, query string")
    idx = build_index(docs, str(tmp_path / "idx_empty"), num_shards=2)
    assert idx.meta.n_docs == 4
    a = _collect_runs(search(idx, qs, k=4))
    b = _collect_runs(
        bm25_dataframe(docs.select("docid", "content"), qs, k=4, mode="code").withColumn(
            "tag", F.lit("x")
        )
    )
    assert set(a) == set(b)
    for qid in a:
        assert [d for d, _ in a[qid]] == [d for d, _ in b[qid]]
        for (_, sa), (_, sb) in zip(a[qid], b[qid]):
            assert sa == pytest.approx(sb, abs=1e-9)


def test_bm25_dataframe_matches_index_path(spark, corpus, queries, index):
    # the Catalyst-native plan and the packed-index plan agree
    df_path = bm25_dataframe(
        corpus.select("docid", "content"), queries, k=10, mode="code"
    )
    got = _collect_runs(df_path.withColumn("tag", F.lit("x")))
    idx_path = _collect_runs(search(index, queries, k=10))
    assert set(got) == set(idx_path)
    for qid in got:
        assert [d for d, _ in got[qid]] == [d for d, _ in idx_path[qid]]
        for (_, a), (_, b) in zip(got[qid], idx_path[qid]):
            assert a == pytest.approx(b, abs=1e-6)


def test_bm25_dataframe_forward_reuse_identical(spark, corpus, queries, tmp_path):
    # round-2 verdict #5: the forward-table path (no corpus re-tokenize)
    # must equal the from-corpus path exactly — same docids, same scores
    from llm_rankers_spark.operators.bm25 import bm25_dataframe_from_index

    idx = build_index(
        corpus.select("docid", "content", "content_sha256"),
        str(tmp_path / "fwd_idx"), num_shards=4, keep_forward=True,
    )
    plain = _collect_runs(
        bm25_dataframe(corpus.select("docid", "content"), queries, k=10, mode="code")
        .withColumn("tag", F.lit("x"))
    )
    fwd = _collect_runs(bm25_dataframe_from_index(idx, queries, k=10).withColumn("tag", F.lit("x")))
    # same stats and contrib expression; the per-(qid,docid) sum order can
    # differ between the two physical plans, so scores match to float-sum
    # reassociation (last ulp), not bit-exactly
    assert set(plain) == set(fwd)
    for qid in plain:
        assert [d for d, _ in plain[qid]] == [d for d, _ in fwd[qid]]
        for (_, a), (_, b) in zip(plain[qid], fwd[qid]):
            assert a == pytest.approx(b, abs=1e-12)


def test_older_layout_is_refused_and_rebuilt_on_resume(spark, tmp_path):
    # one postings layout: an index whose meta records another layout does
    # not load, and a resumed build over it rebuilds instead of raising
    import json

    from llm_rankers_spark.operators.index_build import LAYOUT_VERSION

    docs = spark.createDataFrame([("d1", "alpha beta"), ("d2", "beta gamma")], "docid string, content string")
    path = str(tmp_path / "old")
    build_index(docs, path, tokenizer_mode="simple", num_shards=2)
    meta_path = os.path.join(path, "_index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["layout_version"] = 2
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild") as err:
        load_index(spark, path)
    assert path in str(err.value)
    idx = build_index(docs, path, tokenizer_mode="simple", num_shards=2, resume=True)
    assert idx.meta.layout_version == LAYOUT_VERSION == load_index(spark, path).meta.layout_version
    assert verify_index(idx)["ok"]
    qs = spark.createDataFrame([("q1", "beta")], "qid string, query string")
    assert sorted(r["docid"] for r in search(idx, qs, k=5).collect()) == ["d1", "d2"]


@pytest.mark.parametrize("field,value", [("k1", 1.2), ("b", 0.75), ("tokenizer_mode", "simple")])
def test_segments_must_share_scoring_params(spark, index, queries, field, value):
    # segments searched together are scored with one k1/b and one query
    # tokenization; a segment built with others is refused before any job
    from dataclasses import replace

    from llm_rankers_spark.operators.index_build import InvertedIndex

    other = InvertedIndex(spark, index.path + "_other", replace(index.meta, **{field: value}))
    for plan in ("driver", "distributed"):
        with pytest.raises(ValueError, match="must share"):
            search([index, other], queries, k=10, plan=plan)


def test_distributed_search_runs_no_bucket_collect(spark, index, queries):
    # the distributed plan opens a one-bucket index's postings as a
    # semi-join on the batch's terms: no job collects the batch's bucket
    # ids first (12 jobs with that collect, 10 without)
    assert index.meta.num_buckets == 1
    search(index, queries, k=10, plan="distributed").collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("dist_one_index", "dist_one_index")
    try:
        rows = search(index, queries, k=10, plan="distributed").collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(rows) > 0
    assert len(sc.statusTracker().getJobIdsForGroup("dist_one_index")) <= 10


def test_distributed_search_prunes_term_buckets(spark, corpus, index, tmp_path):
    from llm_rankers_spark.functions.xxh64 import spark_term_bucket

    # a large batch over few distinct terms reads only those terms' bucket
    # directories of a 64-bucket index: the batch's query count says
    # nothing about how many buckets its terms hit
    idx = build_index(corpus.select("docid", "content", "content_sha256"), str(tmp_path / "b64"), num_shards=4, num_buckets=64)
    texts = ["parse query", "import self", "helper"]
    qs = spark.createDataFrame([(f"q{i}", texts[i % 3]) for i in range(60)], "qid string, query string")
    out = search(idx, qs, k=10, plan="distributed")
    want = {spark_term_bucket(t, 64) for t in ("parse", "query", "import", "self", "helper")}
    read = {int(f.split("bucket=")[1].split("/")[0]) for f in out.inputFiles() if "/postings/" in f}
    assert read and read <= want < set(range(64))
    assert _collect_runs(out) == _collect_runs(search(index, qs, k=10, plan="distributed"))


def test_declared_postings_schema_equals_inferred(spark, index):
    # the query-time open reads with the layout's declared schema instead of
    # inferring it; both must agree on a freshly built (layout v3) index
    inferred = spark.read.parquet(os.path.join(index.path, "postings")).schema
    assert index.postings_schema == inferred
    assert index.postings_for(["parse", "query"]).schema == inferred


def test_absent_bucket_directory_returns_no_rows(spark, tmp_path):
    from llm_rankers_spark.functions.xxh64 import spark_term_bucket

    # a 2-doc index fills only a few of its 64 bucket directories (the
    # sparse layout is pinned: sized from its postings it would hold one)
    docs = spark.createDataFrame([("d1", "alpha beta"), ("d2", "beta gamma")], "docid string, content string")
    idx = build_index(docs, str(tmp_path / "tiny"), tokenizer_mode="simple", num_shards=2, num_buckets=64)
    present = {int(d.split("=")[1]) for d in os.listdir(os.path.join(idx.path, "postings")) if d.startswith("bucket=")}
    term = next(
        t for t in (f"zzz_absent{i}" for i in range(1000)) if spark_term_bucket(t, idx.meta.num_buckets) not in present
    )
    assert idx.postings_for([term]).count() == 0
    qs = spark.createDataFrame([("q1", term)], "qid string, query string")
    assert search(idx, qs, k=5).collect() == []
    # a batch mixing it with a present term still ranks the present one
    qs2 = spark.createDataFrame([("q1", term), ("q2", f"beta {term}")], "qid string, query string")
    assert sorted(r["docid"] for r in search(idx, qs2, k=5).collect()) == ["d1", "d2"]


def _job_descriptions(sc, group):
    """Descriptions of the Spark jobs run under ``group`` (the job name when
    a job has no description)."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(j)
        out.append(jd.description().get() if jd.description().isDefined() else jd.name())
    return out


@pytest.mark.parametrize("pack_group", ["bucket", "shard_bucket"])
def test_recorded_manifest_equals_fresh_read(spark, corpus, pack_group, tmp_path):
    # the build records its per-shard triples from the write itself; they
    # must equal a fresh groupBy over what was written
    idx = build_index(
        corpus.select("docid", "content", "content_sha256"), str(tmp_path / pack_group),
        num_shards=4, pack_group=pack_group,
    )
    recorded = idx.manifest["shards"]
    assert [s["shard"] for s in recorded] == [0, 1, 2, 3]
    assert recorded == fresh_shard_manifest(spark, idx.path)
    assert verify_index(idx)["ok"]


def test_recorded_manifest_omits_empty_shards(spark, tmp_path):
    # more shards than documents, and a token-less doc: shards without
    # posting lists are absent from the manifest, as from a groupBy
    docs = spark.createDataFrame(
        [("d1", "alpha beta"), ("d2", ""), ("d3", "beta gamma")], "docid string, content string"
    )
    idx = build_index(docs, str(tmp_path / "sparse"), tokenizer_mode="simple", num_shards=8)
    recorded = idx.manifest["shards"]
    assert [s["shard"] for s in recorded] == [0, 2]
    assert recorded == fresh_shard_manifest(spark, idx.path)
    assert verify_index(idx)["ok"]


def test_auto_bucket_count_follows_postings(spark, corpus, queries, index, tmp_path):
    from llm_rankers_spark.operators.index_build import NUM_BUCKETS, pack_layout

    rows = sum(s["postings"] for s in index.manifest["shards"])
    assert index.meta.num_buckets == pack_layout(rows)[0] < NUM_BUCKETS
    dirs = [d for d in os.listdir(os.path.join(index.path, "postings")) if d.startswith("bucket=")]
    assert 0 < len(dirs) <= index.meta.num_buckets
    # an explicit count is honoured, and the layout does not move a result
    idx64 = build_index(
        corpus.select("docid", "content", "content_sha256"), str(tmp_path / "b64"), num_shards=4, num_buckets=64
    )
    assert idx64.meta.num_buckets == 64
    a = _collect_runs(search(index, queries, k=10))
    b = _collect_runs(search(idx64, queries, k=10))
    assert set(a) == set(b)
    for qid in a:
        assert [d for d, _ in a[qid]] == [d for d, _ in b[qid]]
        for (_, x), (_, y) in zip(a[qid], b[qid]):
            assert x == pytest.approx(y, abs=1e-12)


def test_pack_layout_rule(monkeypatch):
    from llm_rankers_spark.operators import index_build as ib

    cap = ib.PACK_BUCKET_MAX_GROUP_ROWS
    assert ib.pack_layout(0) == (1, "bucket")
    assert ib.pack_layout(cap) == (1, "bucket")
    assert ib.pack_layout(cap + 1) == (2, "bucket")
    assert ib.pack_layout(ib.NUM_BUCKETS * cap) == (ib.NUM_BUCKETS, "bucket")
    assert ib.pack_layout(ib.NUM_BUCKETS * cap + 1) == (ib.NUM_BUCKETS, "shard_bucket")
    # explicit values win
    assert ib.pack_layout(10 * cap, num_buckets=4) == (4, "shard_bucket")
    assert ib.pack_layout(10, num_buckets=64, pack_group="shard_bucket") == (64, "shard_bucket")
    with pytest.raises(ValueError):
        ib.pack_layout(10, pack_group="nope")


def test_small_build_lists_no_leaf_files(spark, corpus, tmp_path):
    # a small build opens what it wrote with declared schemas over a few
    # bucket directories: no parallel "Listing leaf files" job
    docs = corpus.select("docid", "content", "content_sha256")
    sc = spark.sparkContext
    sc.setJobGroup("small_build", "small_build")
    try:
        build_index(docs, str(tmp_path / "idx"), num_shards=4)
    finally:
        sc._jsc.clearJobGroup()
    descs = _job_descriptions(sc, "small_build")
    assert descs and not [d for d in descs if d.startswith("Listing leaf files")]


def test_small_build_needs_no_rdd(spark, corpus, queries, index, tmp_path, monkeypatch):
    # a frame at most 2 x docs-per-task never repartitions, so the build
    # skips the logical -> RDD conversion that reads its partition count
    from pyspark.sql import DataFrame

    docs = corpus.select("docid", "content", "content_sha256")

    def no_rdd(self):
        raise AssertionError("DataFrame.rdd used by a small build")

    monkeypatch.setattr(DataFrame, "rdd", property(no_rdd))
    idx = build_index(docs, str(tmp_path / "idx"), num_shards=4)
    monkeypatch.undo()
    assert _collect_runs(search(idx, queries, k=10)) == _collect_runs(search(index, queries, k=10))


def test_doc_map_schema_is_declared(spark, index):
    from pyspark.sql.types import StructType

    from llm_rankers_spark.operators.index_build import DOC_MAP_SCHEMA

    inferred = spark.read.parquet(os.path.join(index.path, "doc_map")).schema
    assert inferred == StructType.fromDDL(DOC_MAP_SCHEMA)
    assert index.doc_map.schema == inferred


def _docids(runs: dict) -> dict:
    return {q: [d for d, _ in hits] for q, hits in runs.items()}


def _postings_rows(idx) -> list[dict]:
    return [r.asDict() for r in idx.postings.drop("bucket").orderBy("term", "shard").collect()]


def test_single_shard_build_packs_multi_block_lists(spark, corpus, queries, oracle, tmp_path, monkeypatch):
    """At one shard the corpus's common terms hold lists of up to 300
    entries (several codec blocks): every stored row is what the per-list
    reference packer makes of its decoded list, block-max search equals the
    oracle, each bucket file keeps its terms sorted (the premise of the
    scan's term-range pruning), and compacting two halves keeps it all."""
    import glob
    import json

    import pyarrow.parquet as pq

    from llm_rankers_spark.functions import codec
    from llm_rankers_spark.streaming.index_stream import compact_segments, search_segments

    from .oracle_bm25 import pack_posting_list

    docs = corpus.select("docid", "content", "content_sha256")
    idx = build_index(docs, str(tmp_path / "one"), num_shards=1)
    rows = _postings_rows(idx)
    assert max(r["n"] for r in rows) > 2 * codec.BLOCK
    # (a) every row is the reference pack of its decoded list
    for r in rows:
        ords, tfs, dls = codec.unpack_lists([r["n"]], [r["docs_blob"]], [r["tfs_blob"]], [r["dls_blob"]])
        want = pack_posting_list(ords, tfs, dls, idx.meta.avgdl, idx.meta.k1, idx.meta.b)
        assert {c: r[c] for c in want} == want, r["term"]
    # (b) the block-max kernel over multi-block lists equals the oracle
    monkeypatch.setattr(bm25, "EXHAUSTIVE_MAX_POSTINGS", 0)
    want_runs = {q: hits for q, hits in oracle.items() if hits}
    got = _collect_runs(search(idx, queries, k=10))
    assert _docids(got) == _docids(want_runs)
    for q, hits in got.items():
        assert [s for _, s in hits] == pytest.approx([s for _, s in want_runs[q]], abs=1e-6)
    # (c) terms are non-decreasing within each bucket file
    files = glob.glob(os.path.join(idx.path, "postings", "bucket=*", "*.parquet"))
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f
    # (d) two parity halves, each a one-shard segment, compact to the same rows
    root = str(tmp_path / "segs")
    halves = docs.join(idx.doc_map.select("docid", "ord"), "docid")
    for i in (0, 1):
        half = halves.filter(F.col("ord") % 2 == i).drop("ord")
        build_index(half, os.path.join(root, f"segment_{i:05d}"), num_shards=1)
    with open(os.path.join(root, "_segments.json"), "w") as fh:
        json.dump({"segments": ["segment_00000", "segment_00001"], "epochs": [0, 1]}, fh)
    before = _collect_runs(search_segments(spark, root, queries, k=10))
    compact_segments(spark, root, num_shards=1)
    compacted = load_index(spark, os.path.join(root, "segment_compacted"))
    assert sum(s["postings"] for s in compacted.manifest["shards"]) == sum(r["n"] for r in rows)
    assert _postings_rows(compacted) == rows
    after = _collect_runs(search_segments(spark, root, queries, k=10))
    assert _docids(before) == _docids(after) == _docids(got)

import math

import pytest
from pyspark.sql import functions as F

from llm_rankers_spark.operators.runs import (
    cap_hits,
    filter_excluded,
    filter_qids,
    fuse_runs,
    ndcg_at_k,
    read_trec_run,
    rerank_by_score,
    run_metrics,
    write_trec_run,
)


@pytest.fixture()
def run(spark):
    rows = []
    for q in range(3):
        for i in range(8):
            rows.append((f"q{q}", f"d{i}", i + 1, 10.0 - i, "t"))
    return spark.createDataFrame(rows, "qid string, docid string, rank int, score double, tag string")


def test_trec_roundtrip(spark, run, tmp_path):
    path = str(tmp_path / "run.trec")
    write_trec_run(run, path, tag="test")
    back = read_trec_run(spark, path)
    assert back.count() == run.count()
    r = back.filter((F.col("qid") == "q0") & (F.col("rank") == 1)).collect()[0]
    assert r["docid"] == "d0" and r["q0"] == "Q0" and r["tag"] == "test"


def test_trec_tab_and_space_separated_read_equal(spark, tmp_path):
    # write_trec_run writes tabs; the reference writes spaces (run.py:157)
    rows = [("q1", "Q0", "d3", 1, 2.5, "bm25"), ("q1", "Q0", "d7", 2, 1e-05, "bm25"), ("q2", "Q0", "d1", 1, -0.5, "bm25")]
    p_tab, p_space = tmp_path / "tab.trec", tmp_path / "space.trec"
    p_tab.write_text("".join("\t".join(map(str, r)) + "\n" for r in rows))
    p_space.write_text("\n" + "".join("  " + " ".join(map(str, r)) + " \n\n" for r in rows))
    tab = read_trec_run(spark, str(p_tab))
    space = read_trec_run(spark, str(p_space))
    assert tab.dtypes == space.dtypes == [
        ("qid", "string"), ("q0", "string"), ("docid", "string"), ("rank", "int"), ("score", "double"), ("tag", "string")
    ]
    assert sorted(tab.collect()) == sorted(space.collect()) == sorted(rows)


def test_trec_single_file_equals_parts(spark, run, tmp_path):
    # single_file merges the range-partitioned parts driver-side: the line
    # sequence must equal the multi-part write read in sorted part order,
    # and there must be exactly one data file.
    import glob
    import os

    p_multi, p_one = str(tmp_path / "multi"), str(tmp_path / "one")
    write_trec_run(run, p_multi, tag="test")
    write_trec_run(run, p_one, tag="test", single_file=True)

    def lines(path):
        out = []
        for p in sorted(glob.glob(os.path.join(path, "part-*"))):
            with open(p) as f:
                out.extend(f.readlines())
        return out

    assert lines(p_multi) == lines(p_one)
    assert len([p for p in glob.glob(os.path.join(p_one, "part-*"))]) == 1
    assert read_trec_run(spark, p_one).count() == run.count()


def test_cap_hits(run):
    assert cap_hits(run, 3).count() == 9
    assert cap_hits(run, 3).groupBy("qid").count().agg(F.max("count")).collect()[0][0] == 3


def test_filter_excluded_reranks(spark, run):
    excl = spark.createDataFrame([("q0", "d0"), ("q0", "d2")], "qid string, docid string")
    out = filter_excluded(run, excl)
    q0 = [r["docid"] for r in out.filter(F.col("qid") == "q0").orderBy("rank").collect()]
    assert q0 == ["d1", "d3", "d4", "d5", "d6", "d7"]
    assert [r["rank"] for r in out.filter(F.col("qid") == "q0").orderBy("rank").collect()] == list(range(1, 7))
    assert out.filter(F.col("qid") == "q1").count() == 8  # untouched


def test_filter_qids(spark, run):
    qs = spark.createDataFrame([("q1",), ("q2",)], "qid string")
    assert filter_qids(run, qs).select("qid").distinct().count() == 2


def test_fusion_minmax(spark):
    r1 = spark.createDataFrame(
        [("q1", "a", 1, 10.0, "t"), ("q1", "b", 2, 0.0, "t")],
        "qid string, docid string, rank int, score double, tag string",
    )
    r2 = spark.createDataFrame(
        [("q1", "b", 1, 5.0, "t"), ("q1", "c", 2, 1.0, "t")],
        "qid string, docid string, rank int, score double, tag string",
    )
    out = {r["docid"]: r["score"] for r in fuse_runs(r1, r2, alpha=0.5).collect()}
    # a: 0.5*1 + 0 = 0.5 ; b: 0.5*0 + 0.5*1 = 0.5 ; c: 0 + 0.5*0 = 0
    assert out["a"] == pytest.approx(0.5)
    assert out["b"] == pytest.approx(0.5)
    assert out["c"] == pytest.approx(0.0)


def test_fusion_qid_only_in_one_run(spark):
    r1 = spark.createDataFrame([("q9", "x", 1, 3.0, "t"), ("q9", "y", 2, 1.0, "t")],
                               "qid string, docid string, rank int, score double, tag string")
    r2 = spark.createDataFrame([], "qid string, docid string, rank int, score double, tag string")
    out = fuse_runs(r1, r2, alpha=0.5)
    docs = [r["docid"] for r in out.orderBy("rank").collect()]
    assert docs == ["x", "y"]  # ordering preserved (hybrid.py:67-73)


def test_ndcg_matches_manual(spark):
    run = spark.createDataFrame(
        [("q1", "a", 1, 5.0, "t"), ("q1", "b", 2, 4.0, "t"), ("q1", "c", 3, 3.0, "t")],
        "qid string, docid string, rank int, score double, tag string",
    )
    qrels = spark.createDataFrame(
        [("q1", "b", 1), ("q1", "z", 1)], "qid string, docid string, rel int"
    )
    got = ndcg_at_k(run, qrels, k=10).collect()[0]["ndcg"]
    dcg = 1.0 / math.log2(3)  # rel doc at pos 2
    idcg = 1.0 / math.log2(2) + 1.0 / math.log2(3)
    assert got == pytest.approx(dcg / idcg)


def test_perfect_run_ndcg_is_one(spark):
    run = spark.createDataFrame(
        [("q1", "a", 1, 2.0, "t"), ("q1", "b", 2, 1.0, "t")],
        "qid string, docid string, rank int, score double, tag string",
    )
    qrels = spark.createDataFrame([("q1", "a", 2), ("q1", "b", 1)], "qid string, docid string, rel int")
    assert ndcg_at_k(run, qrels, k=10).collect()[0]["ndcg"] == pytest.approx(1.0)


def test_rerank_by_score_tiebreak(spark):
    run = spark.createDataFrame(
        [("q1", "bb", 0, 1.0, "t"), ("q1", "aa", 0, 1.0, "t"), ("q1", "cc", 0, 2.0, "t")],
        "qid string, docid string, rank int, score double, tag string",
    )
    out = [r["docid"] for r in rerank_by_score(run).orderBy("rank").collect()]
    assert out == ["cc", "aa", "bb"]


def test_run_metrics(run):
    m = run_metrics(run).collect()[0]
    assert m["n_queries"] == 3
    assert m["avg_docs_per_query"] == pytest.approx(8.0)
    assert m["avg_top_score"] == pytest.approx(10.0)


def test_fuse_runs_many_matches_reference_fuse(spark):
    # N-way fusion (hybrid.py:30-51 takes any number of runs): engine vs a
    # line-faithful local port of fuse() on 3 runs with weights
    from llm_rankers_spark.operators.runs import fuse_runs_many

    runs_py = [
        {"q1": {"a": 10.0, "b": 5.0, "c": 1.0}, "q2": {"x": 3.0, "y": 2.0}},
        {"q1": {"b": 7.0, "c": 6.0}, "q2": {"x": 9.0, "z": 1.0}},
        {"q1": {"a": 2.0, "d": 1.0}, "q2": {"y": 4.0, "z": 3.0}},
    ]
    weights = [0.5, 0.3, 0.2]

    def local_fuse(runs, weights):
        out = {}
        qids = set().union(*[set(r) for r in runs])
        for qid in qids:
            out[qid] = {}
            docs = set().union(*[set(r.get(qid, {})) for r in runs])
            for doc in docs:
                s = 0.0
                for r, w in zip(runs, weights):
                    d = r.get(qid, {})
                    if doc in d:
                        mn, mx = min(d.values()), max(d.values())
                        s += w * ((d[doc] - mn) / max(mx - mn, 1e-9))
                out[qid][doc] = s
        return out

    want = local_fuse(runs_py, weights)
    dfs = [
        spark.createDataFrame(
            [(q, d, s) for q, docs in r.items() for d, s in docs.items()],
            "qid string, docid string, score double",
        )
        for r in runs_py
    ]
    got = fuse_runs_many(dfs, weights)
    got_m = {(r["qid"], r["docid"]): r["score"] for r in got.collect()}
    assert set(got_m) == {(q, d) for q, docs in want.items() for d in docs}
    for (q, d), s in got_m.items():
        assert abs(s - want[q][d]) < 1e-12, (q, d)
    # two-run special case equals fuse_runs(alpha)
    from llm_rankers_spark.operators.runs import fuse_runs

    a = {(r["qid"], r["docid"], r["rank"]) for r in fuse_runs(dfs[0], dfs[1], alpha=0.7).collect()}
    b = {(r["qid"], r["docid"], r["rank"]) for r in fuse_runs_many(dfs[:2], [0.7, 0.3]).collect()}
    assert a == b

"""Structured Streaming: incremental segment index + windowed event aggs."""

import os

import pytest
from pyspark.sql import functions as F

from llm_rankers_spark.corpus import generate_corpus, with_docid
from llm_rankers_spark.operators.bm25 import search
from llm_rankers_spark.operators.index_build import build_index
from llm_rankers_spark.streaming.index_stream import (
    compact_segments,
    list_segments,
    search_segments,
    start_index_stream,
    streaming_event_counts,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def doc_batches(spark, tmp_path_factory):
    """Two parquet drops landing in the same stream directory."""
    base = str(tmp_path_factory.mktemp("stream_in"))
    docs = with_docid(generate_corpus(spark, 120, seed=42)).select("docid", "content")
    d1 = docs.filter(F.col("docid") < "org3")
    d2 = docs.filter(F.col("docid") >= "org3")
    d1.write.mode("overwrite").parquet(os.path.join(base, "drop1"))
    return base, d1, d2, docs


def test_incremental_segments_match_batch_index(spark, doc_batches, tmp_path):
    base, d1, d2, docs = doc_batches
    root = str(tmp_path / "segroot")

    q = start_index_stream(spark, os.path.join(base, "*"), root, num_shards=2)
    q.awaitTermination(120)
    assert len(list_segments(root)) == 1

    # second drop → second segment
    d2.write.mode("overwrite").parquet(os.path.join(base, "drop2"))
    q2 = start_index_stream(spark, os.path.join(base, "*"), root, num_shards=2)
    q2.awaitTermination(120)
    segs = list_segments(root)
    assert len(segs) == 2

    queries = spark.createDataFrame(
        [("s1", "parse query"), ("s2", "passage_7"), ("s3", "request handler")],
        "qid string, query string",
    )
    got = search_segments(spark, root, queries, k=5)

    # oracle: one monolithic index over the full corpus
    mono = build_index(docs, str(tmp_path / "mono"), num_shards=2)
    want = search(mono, queries, k=5, method="wand")

    g = [(r["qid"], r["docid"], r["rank"], round(r["score"], 9)) for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["docid"], r["rank"], round(r["score"], 9)) for r in want.orderBy("qid", "rank").collect()]
    assert [x[:3] for x in g] == [x[:3] for x in w]  # rank-identical
    for a, b in zip(g, w):
        assert a[3] == pytest.approx(b[3], abs=1e-6)


def test_compaction_rank_identical(spark, doc_batches, tmp_path):
    # own input dir (the shared one's file set depends on test order)
    _base, d1, d2, _docs = doc_batches
    base = str(tmp_path / "stream_in_c")
    root = str(tmp_path / "segroot_c")
    d1.write.mode("overwrite").parquet(os.path.join(base, "drop1"))
    q = start_index_stream(spark, os.path.join(base, "*"), root, num_shards=2)
    q.awaitTermination(120)
    d2.write.mode("overwrite").parquet(os.path.join(base, "drop2"))
    q2 = start_index_stream(spark, os.path.join(base, "*"), root, num_shards=2)
    q2.awaitTermination(120)
    n_before = len(list_segments(root))
    assert n_before == 2

    queries = spark.createDataFrame(
        [("c1", "parse query"), ("c2", "passage_7"), ("c3", "import def return")],
        "qid string, query string",
    )
    before = [
        (r["qid"], r["docid"], r["rank"], round(r["score"], 9))
        for r in search_segments(spark, root, queries, k=5).orderBy("qid", "rank").collect()
    ]
    compact_segments(spark, root, num_shards=2)
    segs = list_segments(root)
    assert segs == ["segment_compacted"]
    assert not os.path.exists(os.path.join(root, "segment_00000"))
    after = [
        (r["qid"], r["docid"], r["rank"], round(r["score"], 9))
        for r in search_segments(spark, root, queries, k=5).orderBy("qid", "rank").collect()
    ]
    assert [x[:3] for x in before] == [x[:3] for x in after]  # rank-identical
    for a, b in zip(before, after):
        assert a[3] == pytest.approx(b[3], abs=1e-6)
    # compacted segment preserves the sha256 per-row invariant
    idx_path = os.path.join(root, "segment_compacted")
    dm = spark.read.parquet(os.path.join(idx_path, "doc_map"))
    assert dm.filter(F.col("content_sha256").isNull()).count() == 0


def test_segment_replay_is_idempotent(spark, doc_batches, tmp_path):
    base, d1, _d2, _ = doc_batches
    root = str(tmp_path / "segroot2")
    q = start_index_stream(spark, os.path.join(base, "drop1"), root, num_shards=2)
    q.awaitTermination(120)
    segs1 = list_segments(root)
    # replay same input with a FRESH checkpoint (forces epoch re-delivery)
    q2 = start_index_stream(
        spark, os.path.join(base, "drop1"), root, num_shards=2, checkpoint=str(tmp_path / "ck2")
    )
    q2.awaitTermination(120)
    # epoch guard: same epoch id from the fresh checkpoint is registered once
    assert len(list_segments(root)) == len(segs1)


@pytest.fixture(scope="module")
def two_segments(spark, doc_batches, tmp_path_factory):
    """A stream root holding two segments built directly (no stream run)."""
    import json

    _base, d1, d2, _docs = doc_batches
    root = str(tmp_path_factory.mktemp("two_segs"))
    for i, part in enumerate((d1, d2)):
        build_index(part, os.path.join(root, f"segment_{i:05d}"), num_shards=2)
    with open(os.path.join(root, "_segments.json"), "w") as f:
        json.dump({"segments": ["segment_00000", "segment_00001"], "epochs": [0, 1]}, f)
    return root


def _runs(df):
    return [(r["qid"], r["docid"], r["rank"], r["score"]) for r in df.orderBy("qid", "rank").collect()]


def test_segment_search_is_one_pass(spark, two_segments):
    """A 16-query batch over two segments: each segment opens only its
    batch buckets with the declared schema, and all segments score in one
    grouped pass — a bounded number of Spark jobs (31 when each segment was
    searched separately)."""
    from llm_rankers_spark.corpus import VOCAB, generate_queries

    queries = generate_queries(spark, VOCAB, n_queries=16, seed=3)
    queries = spark.createDataFrame(queries.collect(), queries.schema)  # a local relation
    search_segments(spark, two_segments, queries, k=10).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("one_pass", "one_pass")
    try:
        rows = search_segments(spark, two_segments, queries, k=10).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(rows) == 16 * 10
    assert len(sc.statusTracker().getJobIdsForGroup("one_pass")) <= 10


def test_compaction_is_few_jobs_and_records_its_manifest(spark, two_segments, tmp_path):
    """Compaction opens each segment with declared schemas, sizes the merged
    index's buckets from the segments' manifests and records its own
    manifest from the write: a bounded number of Spark jobs (23 when every
    open listed 64 bucket directories and the manifest was read back)."""
    import shutil

    from pyspark.sql.types import StructType

    from llm_rankers_spark.operators.index_build import DOC_MAP_SCHEMA, load_index, pack_layout, verify_index

    from .oracle_bm25 import fresh_shard_manifest

    root = str(tmp_path / "segs")
    shutil.copytree(two_segments, root)
    segs = [load_index(spark, os.path.join(root, seg)) for seg in list_segments(root)]
    rows = sum(s["postings"] for seg in segs for s in seg.manifest["shards"])
    sc = spark.sparkContext
    sc.setJobGroup("compact", "compact")
    try:
        compact_segments(spark, root, num_shards=4)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("compact")) <= 10

    idx = load_index(spark, os.path.join(root, "segment_compacted"))
    assert idx.meta.num_buckets == pack_layout(rows)[0]
    recorded = idx.manifest["shards"]
    assert sum(s["postings"] for s in recorded) == rows
    assert recorded == fresh_shard_manifest(spark, idx.path)
    assert verify_index(idx)["ok"]
    # one doc-map schema for built and compacted indexes
    inferred = spark.read.parquet(os.path.join(idx.path, "doc_map")).schema
    assert inferred == StructType.fromDDL(DOC_MAP_SCHEMA)


def test_single_segment_root_equals_search(spark, doc_batches, tmp_path):
    import json

    _base, _d1, _d2, docs = doc_batches
    root = str(tmp_path / "one_seg")
    idx = build_index(docs, os.path.join(root, "segment_00000"), num_shards=2)
    with open(os.path.join(root, "_segments.json"), "w") as f:
        json.dump({"segments": ["segment_00000"], "epochs": [0]}, f)
    queries = spark.createDataFrame(
        [("s1", "parse query"), ("s2", "passage_7"), ("s3", "import def return")], "qid string, query string"
    )
    got, want = _runs(search_segments(spark, root, queries, k=5)), _runs(search(idx, queries, k=5))
    assert [r[:3] for r in got] == [r[:3] for r in want]
    for a, b in zip(got, want):
        assert a[3] == pytest.approx(b[3], abs=1e-12)


def test_large_batch_segment_search_persists_nothing(spark, two_segments, monkeypatch):
    """Above the driver-plan cutoff the global df table is an aggregate
    inside the distributed plan: same results, nothing left persisted."""
    from llm_rankers_spark.operators import bm25

    queries = spark.createDataFrame(
        [("s1", "parse query"), ("s2", "passage_7"), ("s3", "request handler")], "qid string, query string"
    )
    small = _runs(search_segments(spark, two_segments, queries, k=5))
    monkeypatch.setattr(bm25, "DRIVER_QUERY_PLAN_MAX", 2)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    large = _runs(search_segments(spark, two_segments, queries, k=5))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert [r[:3] for r in large] == [r[:3] for r in small]
    for a, b in zip(large, small):
        assert a[3] == pytest.approx(b[3], abs=1e-12)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """The file stream source needs a DIRECTORY of matching-schema files —
    the sf dir also holds the other tables, so isolate events.parquet."""
    import shutil

    d = tmp_path_factory.mktemp("events_only")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    return str(d)


def test_streaming_event_window_counts(spark, events_dir):
    agg = streaming_event_counts(spark, events_dir)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("evt_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS total FROM evt_out").collect()[0]["total"]
    want = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert got == want


def test_streaming_sessionize_matches_batch(spark, events_dir):
    from llm_rankers_spark.operators.events import sessionize

    q = (
        streaming_sessionize(spark, events_dir, gap_minutes=30)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["start_ts"], r["end_ts"], r["n_events"], round(r["total_value"], 9))
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    want = {
        (r["user_id"], r["start_ts"], r["end_ts"], r["n_events"], round(r["total_value"], 9))
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_stateful_across_restarts(spark, tmp_path):
    from llm_rankers_spark.streaming.index_stream import start_streaming_dedup

    base = str(tmp_path / "dd_in")
    out = str(tmp_path / "dd_out")
    ck = str(tmp_path / "dd_ck")
    rows1 = [("d1", "alpha beta"), ("d2", "alpha beta"), ("d3", "gamma")]
    rows2 = [("d4", "alpha beta"), ("d5", "delta"), ("d0", "gamma")]
    df1 = spark.createDataFrame(rows1, "docid string, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    df1.write.mode("overwrite").parquet(os.path.join(base, "drop1"))
    q = start_streaming_dedup(spark, os.path.join(base, "*"), out, checkpoint=ck)
    q.awaitTermination(120)
    got1 = {(r["docid"], r["content"]) for r in spark.read.parquet(out).collect()}
    # d1 < d2 → deterministic keeper for the duplicated sha
    assert got1 == {("d1", "alpha beta"), ("d3", "gamma")}

    # second drop, SAME checkpoint: cross-run duplicates (alpha beta, gamma)
    # are suppressed by the persisted key state; only 'delta' is new
    df2 = spark.createDataFrame(rows2, "docid string, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    df2.write.mode("overwrite").parquet(os.path.join(base, "drop2"))
    q2 = start_streaming_dedup(spark, os.path.join(base, "*"), out, checkpoint=ck)
    q2.awaitTermination(120)
    got2 = {(r["docid"], r["content"]) for r in spark.read.parquet(out).collect()}
    assert got2 == got1 | {("d5", "delta")}


def test_streaming_dedup_tws_matches_groupstate_twin(spark, tmp_path):
    # Spark 4 transformWithStateInPandas variant: identical semantics to
    # the applyInPandasWithState operator, including cross-restart
    # suppression through the RocksDB-held value state. The TWS state
    # protocol needs protobuf; without it the operator must raise the
    # explicit environment-stub error (and the replay is skipped).
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from llm_rankers_spark.streaming.index_stream import start_streaming_dedup_tws

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            start_streaming_dedup_tws(spark, "/nonexistent/*", "/nonexistent_out")
        pytest.skip("protobuf absent: TWS gated as an environment plug point")

    base = str(tmp_path / "tw_in")
    out = str(tmp_path / "tw_out")
    ck = str(tmp_path / "tw_ck")
    rows1 = [("d1", "alpha beta"), ("d2", "alpha beta"), ("d3", "gamma")]
    rows2 = [("d4", "alpha beta"), ("d5", "delta"), ("d0", "gamma")]
    df1 = spark.createDataFrame(rows1, "docid string, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    df1.write.mode("overwrite").parquet(os.path.join(base, "drop1"))
    q = start_streaming_dedup_tws(spark, os.path.join(base, "*"), out, checkpoint=ck)
    assert q.awaitTermination(120)
    got1 = {(r["docid"], r["content"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {("d1", "alpha beta"), ("d3", "gamma")}

    df2 = spark.createDataFrame(rows2, "docid string, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    df2.write.mode("overwrite").parquet(os.path.join(base, "drop2"))
    q2 = start_streaming_dedup_tws(spark, os.path.join(base, "*"), out, checkpoint=ck)
    assert q2.awaitTermination(120)
    got2 = {(r["docid"], r["content"]) for r in spark.read.parquet(out).collect()}
    assert got2 == got1 | {("d5", "delta")}

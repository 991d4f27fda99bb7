"""Incremental index maintenance via Structured Streaming.

The reference has no streaming surface (SURVEY.md §2.8) — this is the
optional extension from §7.1: new documents arrive as files, each
micro-batch becomes an immutable index SEGMENT (the Lucene segment model,
re-expressed): its own doc_map/postings built by the exact same
``build_index`` job, registered in a segments manifest by ``foreachBatch``
(exactly-once per epoch via the manifest's epoch guard).

Query-time: one pass over all live segments with GLOBAL (cross-segment)
df/N/avgdl — the same statistics Lucene's IndexSearcher computes across
segments. Each segment opens only the query batch's bucket directories,
with the layout's declared schema; the segments' candidate rows are scored
together in one grouped UDF and merged by (score desc, docid asc). A
compaction job can fold segments back through ``build_index`` offline.
"""

from __future__ import annotations

import os

from llm_rankers_spark import fsio

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_rankers_spark.operators.bm25 import search
from llm_rankers_spark.operators.index_build import (
    build_index,
    build_index_from_forward,
    load_index,
    pack_layout,
)


def _manifest_path(root: str) -> str:
    return os.path.join(root, "_segments.json")


def list_segments(root: str) -> list[str]:
    if not fsio.exists(_manifest_path(root)):
        return []
    return fsio.read_json(_manifest_path(root))["segments"]


def _register_segment(root: str, name: str, epoch: int) -> None:
    m = {"segments": [], "epochs": []}
    if fsio.exists(_manifest_path(root)):
        m = fsio.read_json(_manifest_path(root))
    if epoch in m["epochs"]:
        return  # replayed epoch (exactly-once guard)
    m["segments"].append(name)
    m["epochs"].append(epoch)
    fsio.write_json(_manifest_path(root), m)


def start_index_stream(
    spark: SparkSession,
    input_dir: str,
    root: str,
    schema: str = "docid string, content string",
    tokenizer_mode: str = "code",
    num_shards: int = 4,
    checkpoint: str | None = None,
):
    """Stream parquet files from ``input_dir``; one segment per micro-batch.
    Returns the StreamingQuery (caller drives with processAllAvailable)."""
    fsio.makedirs(root)
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def handle_batch(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        name = f"segment_{epoch:05d}"
        build_index(batch_df, os.path.join(root, name), tokenizer_mode=tokenizer_mode, num_shards=num_shards)
        _register_segment(root, name, epoch)

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint or os.path.join(root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def search_segments(spark: SparkSession, root: str, queries: DataFrame, k: int = 10) -> DataFrame:
    """BM25 top-k across all live segments with global statistics.

    idf/avgdl must be cross-segment (Lucene IndexSearcher semantics): N and
    avgdl come from the segments' metadata and df is Σn per term over every
    segment's candidate rows. All segments are scored in ONE pass of the
    shared :func:`search` operator: each segment opens only the batch's
    bucket directories with the layout's declared schema, the segments'
    candidate rows are unioned with a segment tag and scored by one grouped
    UDF per (segment, shard), and docids attach by (segment, ordinal) before
    the (score desc, docid asc) top-k. Batches above the driver-plan cutoff
    take the distributed plan, whose df table is an aggregate inside the
    plan — nothing is persisted."""
    segs = [load_index(spark, os.path.join(root, s)) for s in list_segments(root)]
    if not segs:
        return spark.createDataFrame([], "qid string, docid string, rank int, score double, tag string")
    return search(segs, queries, k=k)


def _decode_postings_forward(idx) -> DataFrame:
    """Decode one segment's packed postings back to (docid, term, tf) rows —
    a mapInPandas unpack per Arrow batch joined with the segment doc_map for
    the ord→docid mapping. No tokenization; one join per segment."""
    import numpy as np
    import pandas as pd

    from llm_rankers_spark.functions import codec

    def unpack_rows(batches):
        # one decode and one output frame per ARROW BATCH, not per posting
        # list (guide §4.2: hand the batch to vectorized code once)
        for pdf in batches:
            if not len(pdf):
                continue
            ords, tfs = codec.unpack_lists(pdf["n"], pdf["docs_blob"], pdf["tfs_blob"])
            yield pd.DataFrame({"ord": ords, "term": np.repeat(pdf["term"].to_numpy(), pdf["n"]), "tf": tfs})

    decoded = idx.postings.select("term", "n", "docs_blob", "tfs_blob").mapInPandas(
        unpack_rows, schema="ord long, term string, tf long"
    )
    return decoded.join(idx.doc_map.select("ord", "docid"), "ord").select("docid", "term", "tf")


def compact_segments(spark: SparkSession, root: str, num_shards: int = 4, name: str = "segment_compacted") -> None:
    """Fold all registered segments into ONE (the Lucene merge): decode each
    segment's postings (no re-tokenization), union the doc_maps, and rebuild
    through :func:`build_index_from_forward` — fresh global docid-ordered
    ordinals, global avgdl-baked block-max bounds, one manifest, and the
    bucket count and pack grouping resolved from Σ postings over the
    segments' manifests (the exact postings-row count of the merged
    index). Each segment opens with its declared schemas: no
    schema-inference job, and no file-listing job while it holds few
    bucket directories. The segments manifest is rewritten to the compacted segment (epoch history
    kept so stream replay stays exactly-once); old segment dirs are removed.

    Search results are rank-identical pre/post compaction because df/N/avgdl
    were already computed globally at query time (search_segments) and tf/dl
    per (doc, term) are preserved exactly (tested in test_streaming.py)."""
    segs = list_segments(root)
    if len(segs) <= 1:
        return
    idxs = [load_index(spark, os.path.join(root, s)) for s in segs]
    tokenizer_mode = idxs[0].meta.tokenizer_mode
    fwd = None
    docs_meta = None
    for idx in idxs:
        f = _decode_postings_forward(idx)
        m = idx.doc_map.select("docid", "dl", "content_sha256")
        fwd = f if fwd is None else fwd.unionByName(f)
        docs_meta = m if docs_meta is None else docs_meta.unionByName(m)

    num_buckets, pack_group = pack_layout(sum(s["postings"] for idx in idxs for s in idx.manifest["shards"]))
    tmp_name = f"_{name}_building"
    build_index_from_forward(
        fwd, docs_meta, os.path.join(root, tmp_name),
        tokenizer_mode=tokenizer_mode, num_shards=num_shards,
        k1=idxs[0].meta.k1, b=idxs[0].meta.b, num_buckets=num_buckets, pack_group=pack_group,
    )
    final_path = os.path.join(root, name)
    if fsio.exists(final_path):
        fsio.delete(final_path)
    fsio.rename(os.path.join(root, tmp_name), final_path)

    m = fsio.read_json(_manifest_path(root))
    m["segments"] = [name]
    fsio.write_json(_manifest_path(root), m)
    for s in segs:
        if s != name:
            fsio.delete(os.path.join(root, s))


def start_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema: str = "docid string, content string, content_sha256 string",
    checkpoint: str | None = None,
):
    """Streaming EXACT dedup with checkpointed keyed state — the custom
    stateful operator shape (`applyInPandasWithState`): keyed by
    ``content_sha256``, per-key GroupState remembers whether the digest was
    ever emitted, so duplicates are dropped across micro-batches AND across
    restarts (the state lives in the stream checkpoint — rerunning with the
    same checkpoint location suppresses digests already seen by earlier
    runs, which is what makes ingest-dedup resumable).

    Within one batch the keeper is the smallest docid of the group
    (deterministic first-wins, matching ``dedup.exact_duplicates``'s
    tie-break). At scale the state store partitions by the digest key —
    uniformly distributed, no skew — and each key holds one boolean, so
    state size is bounded by #distinct docs, not #events.

    Appends kept rows as parquet under ``out_dir``; returns the
    StreamingQuery (caller awaits termination)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def keep_first(key: tuple, batches, state: GroupState):
        if state.exists:
            return  # digest already emitted in an earlier batch/run
        best = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[pdf["docid"].idxmin()]
            if best is None or cand["docid"] < best["docid"]:
                best = cand
        if best is not None:
            state.update((1,))
            yield best.to_frame().T

    kept = stream.groupBy("content_sha256").applyInPandasWithState(
        keep_first,
        outputStructType=schema,
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        kept.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint or out_dir + "_checkpoint")
        .trigger(availableNow=True)
        .start()
    )

"""Inverted-index build — the native replacement for the reference's Lucene
indexing step (Rank-R1/bright/index_corpus.sh:3-9, invoked opaquely there;
reimplemented here as DataFrame jobs per the north rule).

Design for 10^12 files:

- **Document-range sharding.** Every posting list is split by doc-ordinal
  range into ``num_shards`` shards. A hot term (``import``, df ≈ corpus
  size) is therefore spread across *all* shards automatically — this is the
  salting strategy: the salt is the doc range, so at query time the
  per-shard sub-lists are mutually disjoint and term-aligned, making each
  (query, shard) an independent WAND traversal followed by a trivial
  disjoint top-k merge. No single task ever owns a whole hot posting list.
- **Dense docid ordinals** assigned by global docid sort (range partition +
  partition-offset pass) — deterministic, and ordinal order == docid order,
  so the BM25 tie-break (score desc, docid asc) is an integer compare.
- **dl stored inline in the postings** (like Lucene norms): scoring is a
  sequential columnar read, never a join against a doc-length table.
- **Per-shard manifest** (lists, postings, term checksum) observed on the
  postings write itself, never read back: resume = skip the build when the
  manifest matches the input fingerprint (count + docid checksum) —
  per-partition lineage per the north rule.
- **Layout sized to the data**: the term-bucket count follows the
  postings-row count (:func:`pack_layout`), so a small segment is one or
  two bucket directories and its opens run no file-listing job.
- **One postings layout** (``LAYOUT_VERSION``): block-packed lists with
  their block-max bounds and the term's global df on every row, so a query
  batch computes idf in-task. :func:`load_index` refuses any other layout;
  ``build_index(resume=True)`` rebuilds it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from llm_rankers_spark import fsio
from llm_rankers_spark.functions import codec
from llm_rankers_spark.functions.tokenize import term_counts_col
from llm_rankers_spark.functions.xxh64 import spark_term_bucket

POSTINGS_SCHEMA = (
    "term string, shard int, bucket int, n long, docs_blob binary, tfs_blob binary, dls_blob binary, "
    "block_last array<long>, block_max_tfn array<double>, "
    "doc_offs array<long>, tf_offs array<long>, dl_offs array<long>"
)

# doc_map columns as every build writes them (dl cast to long: the
# tokenizer counts tf as int, compaction carries dl as long)
DOC_MAP_SCHEMA = "ord long, docid string, dl long, content_sha256 string"

# the bucket-count cap; an index's own count is sized from its postings
# (:func:`pack_layout`) and recorded in its meta
NUM_BUCKETS = 64
# the one postings layout: block-packed lists hive-partitioned by term
# bucket, with the per-term global df stored on every posting row (query
# batches need no separate df-lookup job). Older layouts are rebuilt.
LAYOUT_VERSION = 3


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    num_shards: int
    shard_size: int
    tokenizer_mode: str
    k1: float
    b: float
    input_fingerprint: str
    num_buckets: int = NUM_BUCKETS
    layout_version: int = 1  # metas without the field predate layout 2


class InvertedIndex:
    """Handle over the on-disk index (postings / doc_map / meta)."""

    def __init__(self, spark: SparkSession, path: str, meta: IndexMeta):
        self.spark = spark
        self.path = path
        self.meta = meta

    @property
    def postings(self) -> DataFrame:
        """All postings, read with the declared schema (no schema-inference
        job)."""
        return self.spark.read.schema(self.postings_schema).parquet(os.path.join(self.path, "postings"))

    @property
    def postings_schema(self) -> StructType:
        """The declared postings schema in the column order a parquet read
        yields: the file columns (``df`` last), then the ``bucket``
        partition column."""
        s = StructType.fromDDL(POSTINGS_SCHEMA + ", df long")
        return StructType([f for f in s.fields if f.name != "bucket"] + [s["bucket"]])

    def postings_for(self, terms) -> DataFrame:
        """The postings of the buckets that can hold ``terms`` — the
        query-time open. Bucket ids are a pure function of the term,
        computed in-process; only the ``bucket=<b>`` directories among them
        that exist are read, with the declared schema: one listing of the
        postings directory and no schema-inference or partition-discovery
        job. A bucket without a directory holds no postings."""
        nb = self.meta.num_buckets
        want = {spark_term_bucket(t, nb) for t in terms}
        root = os.path.join(self.path, "postings")
        dirs = [d for d in fsio.list_files(os.path.join(root, "bucket=*")) if int(d.rsplit("=", 1)[1]) in want]
        if not dirs:
            return self.spark.createDataFrame([], self.postings_schema)
        return self.spark.read.schema(self.postings_schema).option("basePath", root).parquet(*dirs)

    @property
    def doc_map(self) -> DataFrame:
        """(ord, docid, dl, content_sha256), read with ``DOC_MAP_SCHEMA`` —
        no schema-inference job."""
        return self.spark.read.schema(DOC_MAP_SCHEMA).parquet(os.path.join(self.path, "doc_map"))

    @property
    def doc_ords(self) -> DataFrame:
        """(ord, docid) of the doc map, read with the declared types of those
        two columns — no schema-inference job."""
        return self.spark.read.schema("ord long, docid string").parquet(os.path.join(self.path, "doc_map"))

    @property
    def forward_ords(self) -> DataFrame:
        """(ord, term, tf, dl) forward table keyed by doc ORDINAL — the
        retained tokenization checkpoint (build with ``keep_forward=True``).
        Consumers attach docids only to a final top-k (ordinal order ==
        docid order, so tie-breaks agree)."""
        td_path = os.path.join(self.path, "_td_checkpoint")
        if not fsio.exists(td_path):
            raise FileNotFoundError(
                f"no forward checkpoint at {td_path}: build the index with "
                "keep_forward=True to retain it"
            )
        return (
            self.spark.read.parquet(td_path)
            .filter(F.col("tf") > 0)
            .select("ord", "term", "tf", "dl")
        )

    @property
    def manifest(self) -> dict:
        """The build's manifest: per-shard (lists, postings, term_crc)
        lineage, the input fingerprint and the build metrics."""
        return fsio.read_json(_manifest_path(self.path))


def _meta_path(path: str) -> str:
    return os.path.join(path, "_index_meta.json")


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest.json")


def input_fingerprint(docs: DataFrame) -> str:
    """Cheap deterministic fingerprint of the input (count + docid crc sum)."""
    row = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.col("docid"))).alias("crc"),
    ).collect()[0]
    return f"{row['n']}:{row['crc']}"


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    """Open the index at ``path``; an index in another postings layout than
    ``LAYOUT_VERSION`` raises ``ValueError`` (rebuild it)."""
    meta = IndexMeta(**fsio.read_json(_meta_path(path)))
    if meta.layout_version != LAYOUT_VERSION:
        raise ValueError(
            f"index at {path} has postings layout {meta.layout_version}, this engine reads only "
            f"layout {LAYOUT_VERSION}: rebuild it with build_index"
        )
    return InvertedIndex(spark, path, meta)


# below this row count the ordinal table is driver-built and broadcast —
# the same small-side decision a broadcast join makes; above it the
# distributed range-sort path runs (kept deliberately low: a driver-built
# local relation serializes through the driver, so past ~10^5 rows the
# distributed waves win — and the scaling benches stay on the
# scale-shaped path)
DRIVER_ORDINALS_MAX = 65_536

# tokenize-task size target: build_index repartitions an input whose
# partitions each hold more than twice this many documents
BUILD_DOCS_PER_TASK = 2000


def _ordinals_auto(
    docs_slim: DataFrame, extra_cols: tuple[tuple[str, str], ...] = ()
) -> tuple[DataFrame, int, DataFrame | None]:
    """Adaptive ordinal assignment. Small corpora (≤ DRIVER_ORDINALS_MAX,
    decided by a short-circuiting limit probe) sort docids on the driver and
    broadcast the (docid, ord) table — two cheap jobs instead of the range
    sample + persist + per-partition count waves, which dominate small
    builds (measured ~2.4 s of a 10.6 s sf0.1 build). Large corpora (and
    inputs with duplicate docids, which the driver path cannot order
    deterministically) take :func:`_slim_ordinals` unchanged.

    Returns (ords_df, n_docs, slim_handle_or_None); callers must unpersist
    the handle when present (slim path only)."""
    spark = docs_slim.sparkSession
    # bounded probe and collect FUSED into one job (round-6): limit(N+1)
    # short-circuits the scan, so large COMPUTED inputs never pay a full
    # pass just to learn they're big (round-4 review finding), at most
    # N+1 rows ever reach the driver, and — because the count comes from
    # the very rows materialized — the probe/collect disagreement a
    # non-deterministic input frame could produce (round-4 ADVICE) is
    # structurally gone
    rows = docs_slim.limit(DRIVER_ORDINALS_MAX + 1).collect()
    n = len(rows)
    if n <= DRIVER_ORDINALS_MAX:
        ids = [r[0] for r in rows]
        if len(set(ids)) == len(ids):
            order = sorted(range(len(ids)), key=lambda i: ids[i])
            extra = "".join(f", {c} {t}" for c, t in extra_cols)
            data = [(*rows[i], o) for o, i in enumerate(order)]
            ords = spark.createDataFrame(data, f"docid string{extra}, ord long")
            return ords, n, None
        # duplicate docids: fall through — the distributed path assigns
        # every row an ordinal (arbitrary-but-unique among duplicates)
    ords, n_docs, slim = _slim_ordinals(docs_slim, extra_cols)
    return ords, n_docs, slim


def _slim_ordinals(
    docs_slim: DataFrame, extra_cols: tuple[tuple[str, str], ...] = ()
) -> tuple[DataFrame, int, DataFrame]:
    """Dense docid-ordered ordinal assignment over a SLIM projection (docid
    [+ extra_cols]): range partition + local sort + partition-offset pass.
    Returns (ords_df, n_docs, slim_handle). The pid-count collect is
    metadata-sized (one row per partition). ``slim_handle`` is the persisted
    intermediate — callers MUST unpersist it once the ords consumer has
    materialized (round-2 ADVICE: the leak accumulated cached partitions per
    build in long-lived sessions)."""
    n_part = max(docs_slim.sparkSession.sparkContext.defaultParallelism, 4)
    slim = (
        docs_slim.repartitionByRange(n_part, "docid")
        .sortWithinPartitions("docid")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    pid_counts = {r["pid"]: r["cnt"] for r in slim.groupBy("pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(pid_counts):
        offsets[pid] = acc
        acc += pid_counts[pid]

    def assign_ord(batches):
        local = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if local is None:
                local = offsets[int(pdf["pid"].iloc[0])]
            pdf = pdf.copy()
            pdf["ord"] = range(local, local + len(pdf))
            local += len(pdf)
            yield pdf.drop(columns=["pid"])

    extra = "".join(f", {c} {t}" for c, t in extra_cols)
    ords = slim.mapInPandas(assign_ord, schema=f"docid string{extra}, ord long")
    return ords, sum(pid_counts.values()), slim


# pack-mode cutover (measured, BENCH/SCALE_PROOF_r05.md §3 + crossover
# sweep): with ~this many postings rows per bucket group the two modes tie
# (code corpus, 100k docs ≈ 86k rows/bucket: best walls 15.6 s vs 21.1 s);
# above it the whole-bucket task cost compounds — 300k docs (≈258k
# rows/bucket) builds 1.5× slower in bucket mode, 10^6 docs (≈860k
# rows/bucket) 4.3× slower. 'auto' picks bucket (in-group df, fewest
# jobs) below the budget and shard_bucket above it.
PACK_BUCKET_MAX_GROUP_ROWS = 150_000


def pack_layout(postings_rows: int, num_buckets: int | None = None, pack_group: str = "auto") -> tuple[int, str]:
    """Resolve an index's (num_buckets, pack_group) from its postings-row
    count; explicit values win.

    ``num_buckets=None`` → the fewest term buckets that keep each at most
    ``PACK_BUCKET_MAX_GROUP_ROWS`` rows, clamped to [1, ``NUM_BUCKETS``].
    Every bucket is a directory and at least one parquet file, so a small
    index written as 64 buckets pays 64 of each at write and at every open.
    ``pack_group='auto'`` → ``'bucket'`` while rows per bucket stay within
    the budget, which the default count guarantees below the cap, and
    ``'shard_bucket'`` above it (measured cutover,
    BENCH/SCALE_PROOF_r05.md: a whole-bucket pack task anti-scales)."""
    if pack_group not in ("auto", "bucket", "shard_bucket"):
        raise ValueError(f"unknown pack_group {pack_group!r}")
    if num_buckets is None:
        num_buckets = min(NUM_BUCKETS, max(1, -(-postings_rows // max(PACK_BUCKET_MAX_GROUP_ROWS, 1))))
    if pack_group == "auto":
        pack_group = "bucket" if postings_rows / num_buckets <= PACK_BUCKET_MAX_GROUP_ROWS else "shard_bucket"
    return num_buckets, pack_group


def _pack_and_write(
    spark: SparkSession, td: DataFrame, path: str, avgdl: float, k1: float, b: float,
    num_shards: int, pack_group: str = "auto", num_buckets: int | None = None,
    n_docs: int | None = None, explain_out: dict | None = None,
    postings_rows: int | None = None,
) -> tuple[int, list[dict]]:
    """Pack posting lists per (term, shard) and write hive-partitioned by
    term bucket. ``td``: (ord, dl, term, tf, shard) real postings only.

    Returns ``(num_buckets, shards)``: the resolved bucket count and the
    per-shard manifest entries (shard, lists, postings, term_crc), observed
    on the packed rows as the write runs — nothing is read back. Shards
    without lists are omitted.

    ``num_buckets=None`` and ``pack_group='auto'`` resolve by
    :func:`pack_layout` from ``postings_rows`` — the exact postings-row
    count when the caller has it, else the n_docs × avgdl upper bound
    (avgdl counts token occurrences, rows are distinct terms per doc).

    ``pack_group`` picks the pack-task grouping — a task-memory vs
    build-cost trade-off with a hot-term skew bound:

    - ``'bucket'``: group by bucket alone (bucket = hash(term) %
      num_buckets is a pure function of the term), so every shard-chunk of
      a term lands in one group and layout v3's global per-term df is a row
      count INSIDE the pack UDF — no second scan, no broadcast, no
      vocabulary bound. Task-size bound: one pack task materializes a WHOLE
      bucket (≈ total postings / num_buckets — not just its hottest term's
      list) and pack parallelism is capped at num_buckets; the default
      bucket count is sized so a bucket holds at most
      ``PACK_BUCKET_MAX_GROUP_ROWS`` rows (query-time bucket pruning reads
      the count from the meta). Right for segment-scoped builds (the
      10^12-file architecture builds bounded document-partitioned
      segments) and small-to-mid corpora.
    - ``'shard_bucket'``: group by (shard, bucket) — a hot term splits
      across all shards, so per-task rows are bounded by the SHARD's
      bucket share regardless of term skew (the doc-range salting story).
      Global df then cannot be counted in-group; it comes from a slim
      (term)-projection count over the pre-pack rows, broadcast-joined
      onto the packed rows (one extra columnar scan; the broadcast bounds
      the vocabulary at ~10^7 terms). Pick this for monolithic builds
      where one term's postings exceed a task (df ≳ 10^9).
    - ``'auto'`` picks bucket while rows per bucket stay within
      ``PACK_BUCKET_MAX_GROUP_ROWS`` and shard_bucket above it."""

    if postings_rows is None:
        postings_rows = int(n_docs * max(avgdl, 1.0)) if n_docs else 0
    num_buckets, pack_group = pack_layout(postings_rows, num_buckets, pack_group)
    in_group_df = pack_group == "bucket"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["term", "ord"])
        bucket = int(pdf["bucket"].iloc[0])
        terms = pdf["term"].to_numpy()
        shards_arr = pdf["shard"].to_numpy(np.int64)
        ords = pdf["ord"].to_numpy(np.int64)
        tfs = pdf["tf"].to_numpy(np.int64)
        dls = pdf["dl"].to_numpy(np.int64)
        # chunk = one (term, shard) posting sub-list; ord order within a
        # term is shard order (shard = ord // shard_size), so one sort
        # yields both boundaries
        t_change = terms[1:] != terms[:-1]
        starts = np.flatnonzero(np.r_[True, t_change | (shards_arr[1:] != shards_arr[:-1])])
        cols = codec.pack_postings(ords, tfs, dls, starts, avgdl=avgdl, k1=k1, b=b)
        frame = pd.DataFrame({"term": terms[starts], "shard": shards_arr[starts], "bucket": bucket, **cols})
        if in_group_df:
            # global df per term (all its rows are in this group), spread to chunks
            t_starts = np.flatnonzero(np.r_[True, t_change])
            t_counts = np.diff(np.r_[t_starts, terms.size])
            frame["df"] = t_counts[np.searchsorted(t_starts, starts, side="right") - 1]
        return frame

    schema = POSTINGS_SCHEMA + (", df long" if in_group_df else "")
    td_b = td.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets)))
    group_cols = ["bucket"] if pack_group == "bucket" else ["shard", "bucket"]
    postings = td_b.groupBy(*group_cols).applyInPandas(lambda key, pdf: pack(pdf), schema=schema)
    if not in_group_df:
        # shard_bucket mode: global df from a slim (term) count over the
        # pre-pack rows (map-side combinable; one row per (doc, term) so
        # count == df), broadcast onto the packed rows
        df_tbl = td.groupBy("term").agg(F.count("*").alias("df"))
        postings = postings.join(F.broadcast(df_tbl), "term")
    # per-shard manifest triples ride the write (one Observation) instead
    # of a second read + aggregate over the written postings
    from pyspark.sql import Observation

    obs = Observation("shard_manifest")
    shard = F.col("shard")
    postings = postings.observe(obs, *[
        agg.alias(f"{name}_{s}")
        for s in range(num_shards)
        for name, agg in (
            ("lists", F.count(F.when(shard == s, F.lit(1)))),
            ("postings", F.sum(F.when(shard == s, F.col("n")))),
            ("term_crc", F.sum(F.when(shard == s, F.crc32(F.col("term"))))),
        )
    ])
    if explain_out is not None:
        # plan-audit hook (BENCH/capture_plans.py): the packed frame's
        # physical plan, captured exactly as it will execute in the write
        explain_out["pack_plan"] = postings._sc._jvm.PythonSQLUtils.explainString(
            postings._jdf.queryExecution(), "formatted"
        )
    # hive-partitioned by term bucket: a selective query computes its terms'
    # buckets and statically prunes all other bucket files at the scan. Each
    # pack task holds whole (shard, bucket) groups → bounded file fan-out.
    # shard stays a plain column (query-time grouping shuffles on it
    # regardless; a production deployment would ALSO bucketBy(shard) into a
    # table).
    postings.write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(path, "postings"))
    got = obs.get
    shards = [
        {"shard": s, "lists": got[f"lists_{s}"], "postings": got[f"postings_{s}"], "term_crc": got[f"term_crc_{s}"]}
        for s in range(num_shards)
        if got[f"lists_{s}"]
    ]
    return num_buckets, shards


def _manifest_and_meta(
    spark: SparkSession, path: str, shards: list[dict], n_docs: int, avgdl: float, fp: str,
    num_shards: int, shard_size: int, tokenizer_mode: str, k1: float, b: float, num_buckets: int,
    build_metrics: dict | None = None,
) -> InvertedIndex:
    """Write the manifest (the per-shard triples ``_pack_and_write``
    observed, plus the input fingerprint) and the meta."""
    manifest = {"shards": shards, "input_fingerprint": fp}
    if build_metrics:
        # north-rule "per-partition lineage + metrics": phase wall-clocks
        # and throughput ride the same manifest the per-shard lineage
        # (lists/postings/term_crc) lives in, so an audit of WHAT was built
        # and HOW LONG it took reads one file (verify_index checks both).
        manifest["build_metrics"] = build_metrics
    fsio.write_json(_manifest_path(path), manifest)

    meta = IndexMeta(
        n_docs=n_docs,
        avgdl=float(avgdl),
        num_shards=num_shards,
        shard_size=shard_size,
        tokenizer_mode=tokenizer_mode,
        k1=k1,
        b=b,
        input_fingerprint=fp,
        num_buckets=num_buckets,
        layout_version=LAYOUT_VERSION,
    )
    fsio.write_json(_meta_path(path), meta.__dict__)
    return InvertedIndex(spark, path, meta)


def verify_index(index: InvertedIndex) -> dict:
    """Audit the on-disk index against its lineage manifest: recompute the
    per-shard (lists, postings, term crc) triples and the doc count, compare
    with what the build recorded. Returns {"ok": bool, "mismatches": [...]}
    — the check a resume/migration job runs before trusting an index dir."""
    recorded = {s["shard"]: (s["lists"], s["postings"], s["term_crc"]) for s in index.manifest["shards"]}
    fresh = {
        r["shard"]: (r["lists"], r["postings"], r["term_crc"])
        for r in index.postings.groupBy("shard")
        .agg(
            F.count("*").alias("lists"),
            F.sum("n").alias("postings"),
            F.sum(F.crc32(F.col("term"))).alias("term_crc"),
        )
        .collect()
    }
    mismatches = [
        {"shard": s, "recorded": recorded.get(s), "actual": fresh.get(s)}
        for s in sorted(set(recorded) | set(fresh))
        if recorded.get(s) != fresh.get(s)
    ]
    n_docs = index.doc_map.count()
    if n_docs != index.meta.n_docs:
        mismatches.append({"shard": None, "recorded": index.meta.n_docs, "actual": n_docs})
    return {"ok": not mismatches, "mismatches": mismatches}


def build_index_from_forward(
    fwd: DataFrame,
    docs_meta: DataFrame,
    path: str,
    tokenizer_mode: str = "code",
    num_shards: int = 8,
    k1: float = codec.DEFAULT_K1,
    b: float = codec.DEFAULT_B,
    pack_group: str = "auto",
    num_buckets: int | None = None,
) -> InvertedIndex:
    """Build an index from an already-tokenized forward table — the entry
    point for segment COMPACTION (streaming/index_stream.py): merging
    segments re-enters the build after tokenization, so content is never
    re-tokenized (and need not be retained at all).

    ``fwd``: (docid, term, tf) — real postings only, no sentinels.
    ``docs_meta``: (docid, dl, content_sha256) — exactly one row per doc,
    INCLUDING token-less docs (they carry dl=0 and appear only in doc_map).
    Docids must be unique across the input (streaming segments are
    append-only, so cross-segment duplicates indicate an upstream bug).

    ``num_buckets=None`` and ``pack_group='auto'`` resolve by
    :func:`pack_layout` from Σ dl, an upper bound on the postings rows;
    compaction resolves both from the exact count the segments' manifests
    give. The manifest comes from the write itself: the postings are not
    read back."""
    spark = fwd.sparkSession
    ords, n_docs, slim = _ordinals_auto(
        docs_meta.select("docid", "dl", "content_sha256"),
        extra_cols=(("dl", "long"), ("content_sha256", "string")),
    )
    shard_size = max(1, -(-n_docs // num_shards))

    from pyspark.sql import Observation

    obs = Observation("compact_stats")
    doc_map_out = ords.select("ord", "docid", "dl", "content_sha256").observe(
        obs,
        F.sum("dl").alias("sum_dl"),
        F.sum(F.crc32(F.col("docid"))).alias("crc"),
    )
    doc_map_out.write.mode("overwrite").parquet(os.path.join(path, "doc_map"))
    if slim is not None:
        slim.unpersist()  # ords fully materialized by the doc_map write
    doc_map_df = spark.read.schema(DOC_MAP_SCHEMA).parquet(os.path.join(path, "doc_map"))
    stats = obs.get
    avgdl = float(stats["sum_dl"] or 0) / n_docs if n_docs else 0.0
    fp = f"{n_docs}:{stats['crc']}"

    ord_join = doc_map_df.select("docid", "ord", "dl")
    if n_docs <= 5_000_000:
        ord_join = F.broadcast(ord_join)
    td = (
        fwd.join(ord_join, "docid")
        .withColumn("shard", (F.col("ord") / F.lit(shard_size)).cast("int"))
        .select("ord", "dl", "term", "tf", "shard")
    )
    num_buckets, shards = _pack_and_write(
        spark, td, path, avgdl, k1, b, num_shards, pack_group=pack_group,
        num_buckets=num_buckets, n_docs=n_docs,
    )
    return _manifest_and_meta(
        spark, path, shards, n_docs, avgdl, fp, num_shards, shard_size, tokenizer_mode, k1, b, num_buckets,
    )


def build_index(
    docs: DataFrame,
    path: str,
    tokenizer_mode: str = "code",
    num_shards: int = 8,
    k1: float = codec.DEFAULT_K1,
    b: float = codec.DEFAULT_B,
    resume: bool = False,
    keep_forward: bool = False,
    pack_group: str = "auto",
    num_buckets: int | None = None,
    explain_out: dict | None = None,
) -> InvertedIndex:
    """Build the index from ``docs(docid, content[, content_sha256])``.

    ``keep_forward=True`` retains the tokenization checkpoint
    (``_td_checkpoint``) so :attr:`InvertedIndex.forward_ords` can serve the
    (ord, term, tf, dl) table without re-tokenizing. ``resume=True`` skips
    the build when ``path`` holds an index of the same input, tokenizer mode
    and layout; any other index there is rebuilt. ``pack_group='auto'`` (default) resolves bucket vs shard_bucket from
    the measured rows-per-bucket cutover (``PACK_BUCKET_MAX_GROUP_ROWS``;
    10^6-doc builds were 4.3× slower in bucket mode —
    BENCH/SCALE_PROOF_r05.md). ``'shard_bucket'`` bounds pack-task memory
    under scale and extreme hot-term skew (see :func:`_pack_and_write`) at
    the cost of one extra slim scan for the df bake. ``num_buckets=None``
    (default) sizes the term buckets from the exact postings-row count the
    checkpoint write observes (:func:`pack_layout`: the fewest buckets of
    at most ``PACK_BUCKET_MAX_GROUP_ROWS`` rows, at most ``NUM_BUCKETS``);
    an explicit count wins.

    Plan shape (all shuffles are on keys we immediately exploit):
      tokenize (Arrow UDF) → ordinal assignment (range shuffle on docid)
      → explode → partial-agg tf per (term, ord) (map-side combine)
      → shard by ord range → pack per (term, shard) (applyInPandas)
      → write parquet partitioned by term bucket, with the per-shard
      manifest observed on the same write (nothing is read back).
    """
    spark = docs.sparkSession

    if resume and fsio.exists(_meta_path(path)) and fsio.exists(_manifest_path(path)):
        meta = IndexMeta(**fsio.read_json(_meta_path(path)))  # any layout: a stale one is rebuilt
        if (
            meta.layout_version == LAYOUT_VERSION
            and meta.input_fingerprint == input_fingerprint(docs)
            and meta.tokenizer_mode == tokenizer_mode
            and (not keep_forward or fsio.exists(os.path.join(path, "_td_checkpoint")))
        ):
            return InvertedIndex(spark, path, meta)

    if "content_sha256" not in docs.columns:
        docs = docs.withColumn("content_sha256", F.sha2(F.col("content"), 256))

    _t0 = time.perf_counter()
    _build_start = _t0
    _phase_seconds: dict[str, float] = {}

    def _phase(name: str) -> None:
        nonlocal _t0
        now = time.perf_counter()
        _phase_seconds[name] = round(now - _t0, 3)
        _t0 = now

    # --- dense ordinals by docid order (deterministic, distributed) -------
    # Two-pass Arrow-native dense rank over a SLIM docid projection: range
    # partition + sort the docids alone (a few MB per million docs), count
    # rows per partition, assign ordinal = partition offset + local position.
    # The heavy token arrays are NEVER shuffled or cached for this — the
    # ordinal table joins back (broadcast when it fits, hash join beyond);
    # measured: shuffling+persisting the token arrays cost a core-count-
    # independent ~15s per 100k docs, the slim pass is milliseconds.
    ords, n_docs, slim = _ordinals_auto(docs.select("docid"))
    _phase("slim_ordinals")

    shard_size = max(1, -(-n_docs // num_shards))

    # --- bound tokenize-task size (docs per task) --------------------------
    # The tokenize→explode→checkpoint stage inflates its input ~10×: a task
    # holding D docs pipelines D × terms-per-doc exploded rows through the
    # parquet writer in one go. A scan that coalesces small files up to
    # maxPartitionBytes (or a fat Iceberg file) hands this stage tasks of
    # 10⁴-10⁵ docs, and the writer/GC anti-scales: measured local[8], 100k
    # docs, 8 as-read partitions → 253s vs 64 partitions → 82s (3.1×) for
    # the IDENTICAL build. Repartition when the inherited shape is fat;
    # skip when the input is already finer than the target (the common case
    # on a real cluster, where the 10^12-file architecture builds bounded
    # document-partitioned segments and input splits are plentiful) — then
    # no shuffle is added.
    # A frame of at most 2 × BUILD_DOCS_PER_TASK docs never repartitions, so
    # it skips the logical → RDD conversion that reads the partition count.
    if n_docs > 2 * BUILD_DOCS_PER_TASK:
        n_parts = docs.rdd.getNumPartitions()
        target_parts = min(max(spark.sparkContext.defaultParallelism, -(-n_docs // BUILD_DOCS_PER_TASK)), 65536)
        if n_parts < target_parts and n_docs / max(n_parts, 1) > 2 * BUILD_DOCS_PER_TASK:
            docs = docs.repartition(target_parts)

    # tf is counted inside the tokenizer UDF (term_counts_col): one row per
    # (doc, distinct term) comes out of the explode, so no corpus-sized
    # groupBy shuffle is ever needed; dl = Σ tf is a row-local aggregate.
    tokened = docs.select(
        "docid",
        "content_sha256",
        term_counts_col("content", mode=tokenizer_mode).alias("counts"),
    ).withColumn(
        "dl",
        F.aggregate(F.col("counts"), F.lit(0), lambda acc, x: acc + x["tf"]),
    )

    # broadcast the ordinal map when it plausibly fits (rule of thumb ~60B a
    # row); beyond that Catalyst plans a regular hash join on docid
    if n_docs <= 5_000_000:
        ords = F.broadcast(ords)
    with_ord = tokened.join(ords, "docid")

    # --- single tokenizer pass → forward-index checkpoint ------------------
    # ONE pass runs the counting UDF and writes the exploded forward index
    # (ord, docid, sha, dl, term, tf, pos, shard) to parquet. Checkpointing
    # to parquet, NOT .persist(): the consumers (doc_map, pack) read it back
    # columnar-pruned, and Spark's in-memory columnar cache build costs ~8×
    # the compute itself on this shape (measured 64s vs 8s for 22M rows).
    # The file doubles as on-disk lineage for the build.
    #
    # Fused actions (round-1 verdict asked for fewer per-build jobs):
    # - corpus stats (avgdl, docid crc) ride the SAME write job via
    #   ``observe`` on the pos==0 rows — no separate stats action;
    # - doc_map is the pos==0 FILTER of the checkpoint (posexplode marks the
    #   first term row of each doc) — the old groupBy(ord) shuffle is gone.
    from pyspark.sql import Observation

    obs = Observation("build_stats")
    is_first = F.col("pos") == 0
    td_path = os.path.join(path, "_td_checkpoint")
    ckpt = (
        with_ord.select(
            "ord", "docid", "content_sha256", "dl", F.posexplode("counts").alias("pos", "tc")
        )
        .select(
            "ord",
            # docid/sha are only consumed from the first row of each doc
            # (doc_map) — nulling them elsewhere cuts the checkpoint write
            # volume by the sha64+docid width × (terms-per-doc − 1), the
            # dominant bytes of the build's largest disk write. `pos` is
            # narrowed to a boolean and `shard` is NOT stored at all
            # (derivable as ord/shard_size on read) — on a shared-disk
            # multi-executor node this write's bandwidth is the build's
            # scaling bottleneck, so every byte counts; zstd below for the
            # same reason.
            F.when(is_first, F.col("docid")).alias("docid"),
            F.when(is_first, F.col("content_sha256")).alias("content_sha256"),
            "dl",
            is_first.alias("first"),
            F.col("tc.term").alias("term"), F.col("tc.tf").cast("long").alias("tf"),
        )
        .observe(
            obs,
            F.sum(F.when(F.col("first"), F.col("dl"))).alias("sum_dl"),
            F.sum(F.when(F.col("first"), F.crc32(F.col("docid")))).alias("crc"),
            # exact postings-row count (tf>0; sentinels excluded) rides the
            # same write — feeds the pack-mode cutover with actual rows
            F.sum(F.when(F.col("tf") > 0, F.lit(1)).otherwise(F.lit(0))).alias("postings_rows"),
        )
    )
    ckpt.write.mode("overwrite").option("compression", "zstd").parquet(td_path)
    if slim is not None:
        slim.unpersist()  # ords fully materialized into the checkpoint write
    stats = obs.get
    avgdl = float(stats["sum_dl"] or 0) / n_docs if n_docs else 0.0
    fp = f"{n_docs}:{stats['crc']}"
    td_full = spark.read.schema(ckpt.schema).parquet(td_path)  # declared: no inference job
    # tf=0 sentinel rows exist only to carry empty docs into doc_map;
    # shard is recomputed from ord (not stored)
    td = (
        td_full.filter(F.col("tf") > 0)
        .select("ord", "dl", "term", "tf")
        .withColumn("shard", (F.col("ord") / F.lit(shard_size)).cast("int"))
    )

    # one row per doc, no shuffle: scan the checkpoint pruned to first rows
    td_full.filter(F.col("first")).select(
        "ord", "docid", F.col("dl").cast("long").alias("dl"), "content_sha256"
    ).write.mode("overwrite").parquet(os.path.join(path, "doc_map"))
    _phase("doc_map_write_stats")

    # --- pack posting lists per (term, shard) ------------------------------
    # grouped by (shard, term_bucket) rather than (shard, term): a code
    # corpus has millions of rare identifier terms, and per-group Arrow
    # overhead on millions of tiny groups dominates; bucketing amortizes it
    # while each term still packs independently inside the group.
    num_buckets, shards = _pack_and_write(
        spark, td, path, avgdl, k1, b, num_shards, pack_group=pack_group,
        num_buckets=num_buckets, n_docs=n_docs, explain_out=explain_out,
        postings_rows=int(stats["postings_rows"] or 0),
    )
    _phase("pack_write")

    wall = time.perf_counter() - _build_start
    idx = _manifest_and_meta(
        spark, path, shards, n_docs, avgdl, fp, num_shards, shard_size, tokenizer_mode, k1, b,
        num_buckets,
        build_metrics={
            "phase_seconds": _phase_seconds,
            "wall_seconds": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
        },
    )

    if not keep_forward:
        fsio.delete(td_path)
    return idx

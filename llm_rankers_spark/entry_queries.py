"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 gets a (spark_callable, oracle_sql) pair here.

The Spark callable and the ANSI-SQL string compute the SAME result on the
driver's parquet views (documents / embeddings / lineitem / orders ...), so
DuckDB can act as an independent oracle. Rules that make parity work:

- tokenization in 'simple' mode only (regex-split — identical in both
  engines); the code-aware mode is covered by pytest oracles instead;
- docids are zero-padded doc_id strings so lexicographic order == numeric;
- hashes are md5-derived (identical across engines); xxhash64 variants are
  covered rows-only / by pytest;
- every float output is rounded (4-6 dp) AFTER ranking; ranking always
  orders by the exact value with a docid tie-break, which is stable within
  each engine and identical across engines for genuinely tied rows;
- ranks/counts are cast to BIGINT on the Spark side (DuckDB's natural
  integer width).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from llm_rankers_spark.corpus import driver_documents
from llm_rankers_spark.operators import bm25 as bm25_ops
from llm_rankers_spark.operators import dedup as dedup_ops
from llm_rankers_spark.operators import rerank as rerank_ops
from llm_rankers_spark.operators import runs as runs_ops
from llm_rankers_spark.operators import similarity as sim_ops
from llm_rankers_spark.operators import textstats as ts_ops
from llm_rankers_spark.operators.index_build import build_index

# ---------------------------------------------------------------------------
# shared fixtures (literal — embedded identically in Spark and SQL)
# ---------------------------------------------------------------------------

QUERY_SET: list[tuple[str, str]] = [
    ("q0", "spark join dup"),
    ("q1", "the fast query"),
    ("q2", "hash merge window batch"),
    ("q3", "dup"),
    ("q4", "zzz missing"),
    ("q5", "vector stream agg key"),
]

K1, B = 0.9, 0.4


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERY_SET, "qid string, query string")


def _values_queries() -> str:
    vals = ", ".join(f"('{q}', '{t}')" for q, t in QUERY_SET)
    return f"(VALUES {vals}) AS q(qid, query)"


# SQL fragments -------------------------------------------------------------

SQL_TOKS = """
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
)"""

SQL_TF = """
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term)"""

SQL_STATS = """
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl) / (SELECT count(*) FROM documents)::DOUBLE AS avgdl
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)"""


def _sql_qterms() -> str:
    return f"""
qraw AS (SELECT qid, query FROM {_values_queries()}),
qt AS (
  SELECT qid, term, count(*)::DOUBLE AS qw FROM (
    SELECT qid, unnest(list_filter(string_split_regex(lower(query), '[^a-z0-9]+'), x -> x <> '')) AS term
    FROM qraw
  ) GROUP BY qid, term
)"""


BM25_ORACLE_SQL = f"""
WITH {SQL_TOKS}, {SQL_TF}, {SQL_STATS}, {_sql_qterms()},
scored AS (
  SELECT qt.qid, tf.doc_id,
         sum(qt.qw * ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))) AS score
  FROM qt
  JOIN tf USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY qt.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT qid, lpad(doc_id::VARCHAR, 10, '0') AS docid, rank, round(score, 4) AS score
FROM ranked WHERE rank <= 10
"""


def _entry_index(spark: SparkSession, sf_dir: str):
    docs = driver_documents(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"llmrs_entry_idx_{tag}")
    return build_index(
        docs.select("docid", "content", "content_sha256"), path, tokenizer_mode="simple", num_shards=4, resume=True
    )


def q_bm25_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S6: packed-index build + BM25 top-10 (numpy-exhaustive or
    block-max kernel, picked per query from its candidate postings)."""
    idx = _entry_index(spark, sf_dir)
    res = bm25_ops.search(idx, _queries_df(spark), k=10)
    return res.select(
        "qid", "docid", F.col("rank").cast("long").alias("rank"), F.round("score", 4).alias("score")
    )


def q_bm25_dataframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 declarative twin: pure-DataFrame BM25 (Catalyst end to end)."""
    docs = driver_documents(spark, sf_dir)
    out = bm25_ops.bm25_dataframe(docs, _queries_df(spark), k=10, mode="simple")
    return out.select(
        "qid", "docid", F.col("rank").cast("long").alias("rank"), F.round("score", 4).alias("score")
    )


def q_bm25_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming-segment search, oracle-checked: the corpus split into
    two segments (doc_id parity) searched with GLOBAL cross-segment stats
    (streaming/index_stream.search_segments — Lucene IndexSearcher
    semantics) must equal the monolithic index, i.e. the same BM25 oracle."""
    import json as _json

    from llm_rankers_spark.streaming import index_stream as stream_ops

    docs = driver_documents(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"llmrs_entry_segs_{tag}")
    os.makedirs(root, exist_ok=True)
    for part in (0, 1):
        seg = docs.filter(F.pmod(F.col("docid").cast("long"), F.lit(2)) == part)
        build_index(
            seg.select("docid", "content", "content_sha256"),
            os.path.join(root, f"segment_{part:05d}"),
            tokenizer_mode="simple", num_shards=2, resume=True,
        )
    manifest = {"segments": ["segment_00000", "segment_00001"], "epochs": [0, 1]}
    with open(os.path.join(root, "_segments.json"), "w") as f:
        _json.dump(manifest, f)
    res = stream_ops.search_segments(spark, root, _queries_df(spark), k=10)
    return res.select(
        "qid", "docid", F.col("rank").cast("long").alias("rank"), F.round("score", 4).alias("score")
    )


def q_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 compaction, oracle-checked (round-2 verdict #9): two parity
    segments folded into ONE via compact_segments (decode postings — never
    re-tokenize — rebuild through build_index_from_forward), then searched.
    Results must equal the monolithic-index BM25 oracle exactly."""
    import json as _json

    from llm_rankers_spark.streaming import index_stream as stream_ops

    docs = driver_documents(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"llmrs_entry_compact_{tag}")
    os.makedirs(root, exist_ok=True)
    for part in (0, 1):
        seg = docs.filter(F.pmod(F.col("docid").cast("long"), F.lit(2)) == part)
        build_index(
            seg.select("docid", "content", "content_sha256"),
            os.path.join(root, f"segment_{part:05d}"),
            tokenizer_mode="simple", num_shards=2, resume=True,
        )
    manifest = {"segments": ["segment_00000", "segment_00001"], "epochs": [0, 1]}
    with open(os.path.join(root, "_segments.json"), "w") as f:
        _json.dump(manifest, f)
    stream_ops.compact_segments(spark, root, num_shards=4)
    res = stream_ops.search_segments(spark, root, _queries_df(spark), k=10)
    return res.select(
        "qid", "docid", F.col("rank").cast("long").alias("rank"), F.round("score", 4).alias("score")
    )


def q_verify_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2-adjacent audit as a contract row: verify_index recomputes the
    per-shard lineage triples against the build manifest; a fresh build must
    audit clean (ok=true, zero mismatches)."""
    from llm_rankers_spark.operators.index_build import verify_index

    idx = _entry_index(spark, sf_dir)
    report = verify_index(idx)
    return spark.createDataFrame(
        [(bool(report["ok"]), len(report["mismatches"]))], "ok boolean, n_mismatches bigint"
    )


SQL_VERIFY_INDEX = "SELECT true AS ok, 0::BIGINT AS n_mismatches"


def q_bm25_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 large-batch twin: the fully-distributed query plan (cogrouped
    (qid, term, w) DataFrame, no queries.collect — bm25.search with
    plan='distributed');
    must match the same oracle as the driver-planned paths.

    Round-6 (round-5 verdict #8): this entry builds ITS index through the
    NON-default ``pack_group='shard_bucket'`` resolution (slim-df broadcast
    bake), so the scale-side branch of the pack auto is driver-oracled, not
    only pytest-covered. Results are identical to the defaults by
    construction (pack modes pack the same lists — pinned in test_bm25)
    against the unchanged oracle SQL."""
    docs = driver_documents(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"llmrs_entry_idx_sb_{tag}")
    idx = build_index(
        docs.select("docid", "content", "content_sha256"), path,
        tokenizer_mode="simple", num_shards=4, resume=True, pack_group="shard_bucket",
    )
    res = bm25_ops.search(idx, _queries_df(spark), k=10, plan="distributed")
    return res.select(
        "qid", "docid", F.col("rank").cast("long").alias("rank"), F.round("score", 4).alias("score")
    )


# ---------------------------------------------------------------------------
# synthetic runs over documents (deterministic, SQL-twinned)
# ---------------------------------------------------------------------------

RUN_MODS = [0, 1, 2]  # qids r0, r1, r2 pick docs by doc_id % 7 == m
RUN_HITS = 12


def _runs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, docid, rank, score, text): 12 docs per query, distinct texts,
    score = 1000 - doc_id, rank by doc_id asc."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w_dedup = Window.partitionBy("text").orderBy("doc_id")
    uniq = d.withColumn("_tr", F.row_number().over(w_dedup)).filter(F.col("_tr") == 1).drop("_tr")
    mods = spark.createDataFrame([(f"r{m}", m) for m in RUN_MODS], "qid string, m int")
    cand = uniq.join(mods, F.pmod(F.col("doc_id"), F.lit(7)) == F.col("m"))
    w = Window.partitionBy("qid").orderBy(F.asc("doc_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RUN_HITS)
        .select(
            "qid",
            F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
            F.col("rank").cast("int").alias("rank"),
            (F.lit(1000.0) - F.col("doc_id")).alias("score"),
            F.col("text"),
        )
    )


SQL_RUNS = """
uniq AS (
  SELECT * FROM (
    SELECT d.*, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS _tr FROM documents d
  ) WHERE _tr = 1
),
runs AS (
  SELECT * FROM (
    SELECT 'r' || m.m AS qid,
           lpad(doc_id::VARCHAR, 10, '0') AS docid,
           row_number() OVER (PARTITION BY m.m ORDER BY doc_id ASC) AS rank,
           1000.0 - doc_id AS score,
           text
    FROM uniq JOIN (VALUES (0), (1), (2)) AS m(m) ON doc_id % 7 = m.m
  ) WHERE rank <= 12
)"""


def q_hits_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (run.py:163-164)."""
    out = runs_ops.cap_hits(_runs_df(spark, sf_dir), 5)
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


SQL_HITS_CAP = f"WITH {SQL_RUNS} SELECT qid, docid, rank, score FROM runs WHERE rank <= 5"


def q_excluded_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (filter_run.py:21-31): anti-join + re-rank."""
    runs = _runs_df(spark, sf_dir)
    excl = runs.filter(F.pmod(F.col("docid").cast("long"), F.lit(3)) == 0).select("qid", "docid")
    out = runs_ops.filter_excluded(runs, excl)
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


SQL_EXCLUDED = f"""
WITH {SQL_RUNS},
kept AS (SELECT * FROM runs WHERE docid::BIGINT % 3 <> 0)
SELECT qid, docid, row_number() OVER (PARTITION BY qid ORDER BY rank ASC) AS rank, score FROM kept
"""


def q_qid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (run_setwise.py:37-38): left-semi on qid."""
    runs = _runs_df(spark, sf_dir)
    keep = spark.createDataFrame([("r0",), ("r2",)], "qid string")
    out = runs_ops.filter_qids(runs, keep)
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


SQL_QID_FILTER = f"WITH {SQL_RUNS} SELECT qid, docid, rank, score FROM runs WHERE qid IN ('r0', 'r2')"


def q_inverse_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (run.py:185-191) 'inverse' variant (the seeded-random variant is
    engine-hash dependent → pytest-covered instead)."""
    runs = _runs_df(spark, sf_dir).withColumn("query", F.lit("x")).withColumn("text", F.col("docid"))
    out = rerank_ops.shuffle_candidates(runs, "inverse")
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


SQL_INVERSE = f"""
WITH {SQL_RUNS}
SELECT qid, docid, row_number() OVER (PARTITION BY qid ORDER BY rank DESC) AS rank, score FROM runs
"""


def q_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+A4 (hybrid.py:30-51): min-max fusion of two runs, alpha=0.6."""
    r1 = _runs_df(spark, sf_dir)
    r2 = (
        _runs_df(spark, sf_dir)
        .filter(F.pmod(F.col("docid").cast("long"), F.lit(2)) == 0)
        .withColumn("score", F.col("docid").cast("double"))
    )
    out = runs_ops.fuse_runs(r1, r2, alpha=0.6)
    return out.select(
        "qid", "docid", F.col("rank").cast("long").alias("rank"), F.round("score", 6).alias("score")
    )


SQL_FUSION = f"""
WITH {SQL_RUNS},
r1 AS (SELECT qid, docid, score FROM runs),
r2 AS (SELECT qid, docid, docid::BIGINT::DOUBLE AS score FROM runs WHERE docid::BIGINT % 2 = 0),
n1 AS (
  SELECT qid, docid,
         (score - min(score) OVER (PARTITION BY qid)) /
         greatest(max(score) OVER (PARTITION BY qid) - min(score) OVER (PARTITION BY qid), 1e-9) AS s1
  FROM r1
),
n2 AS (
  SELECT qid, docid,
         (score - min(score) OVER (PARTITION BY qid)) /
         greatest(max(score) OVER (PARTITION BY qid) - min(score) OVER (PARTITION BY qid), 1e-9) AS s2
  FROM r2
),
fused AS (
  SELECT coalesce(n1.qid, n2.qid) AS qid, coalesce(n1.docid, n2.docid) AS docid,
         coalesce(s1, 0.0) * 0.6 + coalesce(s2, 0.0) * 0.4 AS score
  FROM n1 FULL OUTER JOIN n2 ON n1.qid = n2.qid AND n1.docid = n2.docid
)
SELECT qid, docid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, docid ASC) AS rank,
       round(score, 6) AS score
FROM fused
"""


def _qrels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mods = spark.createDataFrame([(f"r{m}", m) for m in RUN_MODS], "qid string, m int")
    return (
        d.join(mods, F.pmod(F.col("doc_id"), F.lit(14)) == F.col("m"))
        .select(
            "qid",
            F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
            F.when(F.pmod(F.col("doc_id"), F.lit(28)) == F.col("m"), F.lit(2)).otherwise(F.lit(1)).alias("rel"),
        )
    )


SQL_QRELS = """
qrels AS (
  SELECT 'r' || m.m AS qid, lpad(doc_id::VARCHAR, 10, '0') AS docid,
         CASE WHEN doc_id % 28 = m.m THEN 2 ELSE 1 END AS rel
  FROM documents JOIN (VALUES (0), (1), (2)) AS m(m) ON doc_id % 14 = m.m
)"""


def q_ndcg10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (eval.sh): NDCG@10 per qid as a DataFrame job."""
    out = runs_ops.ndcg_at_k(_runs_df(spark, sf_dir), _qrels_df(spark, sf_dir), k=10)
    return out.select("qid", F.round("ndcg", 6).alias("ndcg"))


SQL_NDCG = f"""
WITH {SQL_RUNS}, {SQL_QRELS},
judged AS (
  SELECT r.qid, r.rank AS pos, coalesce(q.rel, 0) AS rel
  FROM runs r LEFT JOIN qrels q ON r.qid = q.qid AND r.docid = q.docid
),
dcg AS (
  SELECT qid, sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS dcg
  FROM judged WHERE pos <= 10 GROUP BY qid
),
ideal AS (
  SELECT qid, sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS idcg FROM (
    SELECT qid, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, docid ASC) AS pos
    FROM qrels WHERE rel > 0
  ) WHERE pos <= 10 GROUP BY qid
)
SELECT dcg.qid, round(dcg.dcg / ideal.idcg, 6) AS ndcg FROM dcg JOIN ideal USING (qid)
"""


def q_ndcg10_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 graded variant (round-4 verdict #10): qrels carry the full TREC
    graded scale rel ∈ {0,1,2,3} (doc_id mod 4, including explicit judged-
    irrelevant rows) so the 2^rel−1 gain path — not just the binary
    degenerate case — sits under the oracle."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mods = spark.createDataFrame([(f"r{m}", m) for m in RUN_MODS], "qid string, m int")
    qrels = d.join(mods, F.pmod(F.col("doc_id"), F.lit(14)) == F.col("m")).select(
        "qid",
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("rel"),
    )
    out = runs_ops.ndcg_at_k(_runs_df(spark, sf_dir), qrels, k=10)
    return out.select("qid", F.round("ndcg", 6).alias("ndcg"))


SQL_NDCG_GRADED = f"""
WITH {SQL_RUNS},
qrels AS (
  SELECT 'r' || m.m AS qid, lpad(doc_id::VARCHAR, 10, '0') AS docid,
         (doc_id % 4)::INTEGER AS rel
  FROM documents JOIN (VALUES (0), (1), (2)) AS m(m) ON doc_id % 14 = m.m
),
judged AS (
  SELECT r.qid, r.rank AS pos, coalesce(q.rel, 0) AS rel
  FROM runs r LEFT JOIN qrels q ON r.qid = q.qid AND r.docid = q.docid
),
dcg AS (
  SELECT qid, sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS dcg
  FROM judged WHERE pos <= 10 GROUP BY qid
),
ideal AS (
  SELECT qid, sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS idcg FROM (
    SELECT qid, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, docid ASC) AS pos
    FROM qrels WHERE rel > 0
  ) WHERE pos <= 10 GROUP BY qid
)
SELECT dcg.qid, round(dcg.dcg / ideal.idcg, 6) AS ndcg FROM dcg JOIN ideal USING (qid)
"""


# ---------------------------------------------------------------------------
# rerank loops with md5-relevance mock comparator (SQL-twinned because the
# comparator is transitive: heapsort/allpair/full-window-listwise are exact)
# ---------------------------------------------------------------------------


def _md5_relevance(query: str, text: str) -> int:
    import hashlib

    return int(hashlib.md5(text.encode()).hexdigest()[:7], 16)


SQL_REL = "('0x' || substr(md5(text), 1, 7))::BIGINT"


def _rerank_entry(spark: SparkSession, sf_dir: str, method: str, **params) -> DataFrame:
    cands = _runs_df(spark, sf_dir).withColumn("query", F.lit("const"))
    cmp = rerank_ops.MockComparator(relevance=_md5_relevance)
    out = rerank_ops.rerank(cands, method=method, comparator=cmp, **params)
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


def q_setwise_heapsort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (setwise.py:200-242) + T8 assembly, k=5, num_child=2."""
    return _rerank_entry(spark, sf_dir, "setwise.heapsort", k=5, num_child=2)


def q_pairwise_heapsort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (pairwise.py:133-162) + T8 assembly, k=5."""
    return _rerank_entry(spark, sf_dir, "pairwise.heapsort", k=5)


# heapsort with a perfect transitive comparator selects the true top-k in
# relevance order; the tail keeps original (first-stage) order → exactly:
SQL_TOPK_ASSEMBLY = f"""
WITH {SQL_RUNS},
relv AS (
  SELECT qid, docid, rank AS orig_rank, {SQL_REL} AS rel,
         row_number() OVER (PARTITION BY qid ORDER BY {SQL_REL} DESC, rank ASC) AS rel_rank
  FROM runs
),
head AS (SELECT qid, docid, rel_rank AS rank FROM relv WHERE rel_rank <= 5),
tail AS (
  SELECT qid, docid,
         5 + row_number() OVER (PARTITION BY qid ORDER BY orig_rank ASC) AS rank
  FROM relv WHERE rel_rank > 5
)
SELECT qid, docid, rank, -rank::DOUBLE AS score FROM head
UNION ALL
SELECT qid, docid, rank, -rank::DOUBLE AS score FROM tail
"""


def q_pairwise_allpair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/T1 (pairwise.py:169-219): with distinct relevances the win counts
    produce the full relevance ordering (zero-win doc re-enters via T8)."""
    return _rerank_entry(spark, sf_dir, "pairwise.allpair", k=RUN_HITS)


SQL_ALLPAIR = f"""
WITH {SQL_RUNS},
relv AS (
  SELECT qid, docid, rank AS orig_rank, {SQL_REL} AS rel FROM runs
)
SELECT qid, docid,
       row_number() OVER (PARTITION BY qid ORDER BY rel DESC, orig_rank ASC) AS rank,
       -(row_number() OVER (PARTITION BY qid ORDER BY rel DESC, orig_rank ASC))::DOUBLE AS score
FROM relv
"""


def q_listwise_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (listwise.py:178-196) with the window covering the whole list →
    one full permutation by the comparator ordering."""
    return _rerank_entry(
        spark, sf_dir, "listwise.sliding", window_size=RUN_HITS, step_size=RUN_HITS, num_repeat=1
    )


SQL_LISTWISE = f"""
WITH {SQL_RUNS},
relv AS (SELECT qid, docid, rank AS orig_rank, {SQL_REL} AS rel FROM runs),
ordered AS (
  SELECT qid, docid,
         row_number() OVER (PARTITION BY qid ORDER BY rel DESC, orig_rank ASC) AS rank
  FROM relv
)
SELECT qid, docid, rank, (1 - rank)::DOUBLE AS score FROM ordered
"""


# ---------------------------------------------------------------------------
# dedup / textstats / similarity
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 + exact-dup groups on a dup-injected corpus (md5 digests)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"), F.col("text").alias("content")
    )
    dupes = d.filter(F.pmod(F.col("docid").cast("long"), F.lit(100)) == 0).withColumn(
        "docid", F.concat(F.lit("dup_"), F.col("docid"))
    )
    groups = dedup_ops.exact_duplicates(d.unionByName(dupes))
    return groups.select(
        "digest",
        F.col("group_size").cast("long").alias("group_size"),
        "keep_id",
        F.array_join("ids", ",").alias("ids"),
    )


SQL_DEDUP_EXACT = """
WITH base AS (
  SELECT lpad(doc_id::VARCHAR, 10, '0') AS id, text FROM documents
  UNION ALL
  SELECT 'dup_' || lpad(doc_id::VARCHAR, 10, '0') AS id, text FROM documents WHERE doc_id % 100 = 0
)
SELECT md5(text) AS digest, count(*)::BIGINT AS group_size, min(id) AS keep_id,
       array_to_string(list_sort(list(id)), ',') AS ids
FROM base GROUP BY md5(text) HAVING count(*) > 1
"""


MH_HASHES = 8
MH_SHINGLE_K = 3


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"), F.col("text").alias("content")
    )
    sigs = dedup_ops.minhash_signatures(
        d, num_hashes=MH_HASHES, shingle_k=MH_SHINGLE_K, hash_fn="md5"
    )
    cols = [F.col("sig")[i].alias(f"mh{i}") for i in range(MH_HASHES)]
    return sigs.select(F.col("id").alias("docid"), *cols)


def _sql_minhash_sigs(num_hashes: int, shingle_k: int, source: str | None = None) -> str:
    """CTE chain ending in ``sigs(docid, mh0..mh{n-1})`` — the exact Spark
    signatures (md5-derived 31-bit base hash, same (a,b) universal-hash
    coefficients). ``source``: a relation exposing (docid, text); defaults
    to the lpad'd documents table."""
    a, b = dedup_ops.minhash_params(num_hashes)
    p = dedup_ops._MERSENNE
    k = shingle_k
    src = source or "(SELECT lpad(doc_id::VARCHAR, 10, '0') AS docid, text FROM documents)"
    mins = ",\n       ".join(f"min(({a[i]} * h + {b[i]}) % {p})::BIGINT AS mh{i}" for i in range(num_hashes))
    return f"""
tok AS (
  SELECT docid,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM {src} AS _src
),
sh AS (
  SELECT docid, unnest(list_distinct(
    CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')]
         ELSE [array_to_string(t[i + 1 : i + {k}], ' ') FOR i IN range(0, len(t) - {k} + 1)]
    END)) AS shingle
  FROM tok
),
hashed AS (SELECT docid, ('0x' || substr(md5(shingle), 1, 7))::BIGINT % {p} AS h FROM sh),
sigs AS (SELECT docid, {mins} FROM hashed GROUP BY docid)"""


def _sql_minhash() -> str:
    return f"WITH {_sql_minhash_sigs(MH_HASHES, MH_SHINGLE_K)} SELECT * FROM sigs"


MH_LSH_HASHES = 32
MH_LSH_BANDS = 16


def _sql_minhash_pair_ctes(source: str | None = None) -> str:
    """CTE chain (no leading WITH) ending in ``pairs(id_a, id_b)`` — the
    oracle twin of dedup_ops.minhash_lsh_candidates(hash_fn='md5'):
    identical-signature star grouping (rep = min docid per full-signature
    key), reps banded with md5 band keys, self-join, union star pairs."""
    n, bands = MH_LSH_HASHES, MH_LSH_BANDS
    rows = n // bands
    all_cols = ", ".join(f"mh{i}" for i in range(n))
    band_vals = ",\n     ".join(
        f"({bd}, md5(concat_ws(',', {', '.join(f'mh{i}' for i in range(bd * rows, (bd + 1) * rows))})))"
        for bd in range(bands)
    )
    return f"""{_sql_minhash_sigs(n, MH_SHINGLE_K, source=source)},
keyed AS (SELECT docid, {all_cols}, md5(concat_ws(',', {all_cols})) AS sigkey FROM sigs),
withrep AS (SELECT *, min(docid) OVER (PARTITION BY sigkey) AS rep FROM keyed),
star AS (SELECT rep AS id_a, docid AS id_b FROM withrep WHERE docid <> rep),
banded AS (
  SELECT docid AS id, b.band, b.band_hash
  FROM (SELECT * FROM withrep WHERE docid = rep) reps,
  LATERAL (VALUES
     {band_vals}) AS b(band, band_hash)
),
lsh AS (
  SELECT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.band_hash = r.band_hash
  WHERE l.id < r.id
),
pairs AS (
  SELECT DISTINCT id_a, id_b FROM (SELECT id_a, id_b FROM lsh UNION ALL SELECT id_a, id_b FROM star)
)"""


def _sql_minhash_lsh_pairs() -> str:
    return f"WITH {_sql_minhash_pair_ctes()}\nSELECT id_a, id_b FROM pairs"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"), F.col("text").alias("content")
    )
    return dedup_ops.simhash(d, bits=16, hash_fn="md5").select(F.col("id").alias("docid"), "simhash")


def _sql_simhash(bits: int = 16) -> str:
    p = dedup_ops._MERSENNE
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h // {1 << i}) % 2 = 1 THEN tf ELSE -tf END) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT lpad(doc_id::VARCHAR, 10, '0') AS docid,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT docid, term, count(*)::BIGINT AS tf FROM tok GROUP BY docid, term),
hashed AS (SELECT docid, tf, ('0x' || substr(md5(term), 1, 7))::BIGINT % {p} AS h FROM tf)
SELECT docid, ({terms})::BIGINT AS simhash FROM hashed GROUP BY docid
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard for fixed (doc_id, doc_id+1) pairs — verifies the
    shingle/verify stage without a candidate explosion."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"), F.col("text").alias("content")
    )
    base = d.filter(F.pmod(F.col("docid").cast("long"), F.lit(50)) == 0)
    cands = base.select(
        F.col("docid").alias("id_a"),
        F.lpad((F.col("docid").cast("long") + 1).cast("string"), 10, "0").alias("id_b"),
    )
    out = dedup_ops.jaccard_pairs(d, cands, shingle_k=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_JACCARD = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE [array_to_string(t[i + 1 : i + 3], ' ') FOR i IN range(0, len(t) - 2)]
    END) AS s
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, a.s AS sa, b.s AS sb
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 50 = 0
)
SELECT lpad(ia::VARCHAR, 10, '0') AS id_a, lpad(ib::VARCHAR, 10, '0') AS id_b,
       round(len(list_intersect(sa, sb))::DOUBLE / greatest(len(list_distinct(sa || sb)), 1), 6) AS jaccard
FROM pairs
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ts_ops.quality_features(d, content_col="text", id_col="doc_id")
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in ts_ops._STOPWORDS)

SQL_TEXT_QUALITY = f"""
WITH feat AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_words,
         length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE AS n_alpha,
         len(list_intersect(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                            [{_STOP_SQL}]))::DOUBLE AS stop_hits
  FROM documents
),
ratios AS (
  SELECT doc_id, n_chars, n_words,
         n_alpha / greatest(n_chars, 1) AS alpha_ratio,
         n_alpha / greatest(n_words, 1) AS avg_word_len,
         stop_hits / greatest(n_words, 1) AS stopword_ratio
  FROM feat
)
SELECT doc_id, n_chars, n_words, round(alpha_ratio, 6) AS alpha_ratio,
       round(avg_word_len, 6) AS avg_word_len, round(stopword_ratio, 6) AS stopword_ratio,
       round(least(n_words / 50.0, 1.0) * 0.3 + alpha_ratio * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3, 6)
         AS quality_score
FROM ratios
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        ts_ops.word_count(F.col("text")).cast("long").alias("words"),
        ts_ops.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_ish"),
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS words,
       (len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        + length(regexp_replace(regexp_replace(text, '\\s+', '', 'g'), '[a-zA-Z0-9]', '', 'g')))::BIGINT AS bpe_ish
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ts_ops.fingerprint(d, content_col="text", hash_fn="md5").select(
        F.col("id").cast("long").alias("doc_id"), "fingerprint"
    )


SQL_FINGERPRINT = f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos FROM tok
),
mixed AS (
  SELECT doc_id, (('0x' || substr(md5(term), 1, 7))::BIGINT % {dedup_ops._MERSENNE}) * pos AS h FROM pos
)
SELECT doc_id, bit_xor(h)::BIGINT AS fingerprint FROM mixed GROUP BY doc_id
"""


SIM_QIDS = [0, 7, 23]


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id").isin(SIM_QIDS)).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"), F.col("embedding").alias("qvec")
    )
    out = sim_ops.cosine_topk(emb, q, k=5)
    return out.select(
        "qid",
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


SQL_COSINE = f"""
WITH e AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
q AS (SELECT 'v' || vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({", ".join(str(i) for i in SIM_QIDS)})),
scored AS (
  SELECT q.qid, e.vec_id,
         list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM e CROSS JOIN q
),
ranked AS (
  SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, vec_id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5
"""


def q_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (labels the LSH path): cos >= 0.5 over
    the first 120 vectors — ~7k candidate pairs, all-pairs is the point."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
        .select("vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"))
    )
    out = sim_ops.near_duplicate_pairs_exact(emb, threshold=0.5)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos", 4).alias("cos"),
    )


SQL_NEAR_DUP = """
WITH e AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings WHERE vec_id < 120),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) AS cos
  FROM e l CROSS JOIN e r WHERE l.vec_id < r.vec_id
)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, round(cos, 4) AS cos FROM pairs WHERE cos >= 0.5
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ts_ops.language_id(d, content_col="text").select(
        F.col("id").cast("long").alias("doc_id"), "lang_pred"
    )


def _sql_lang_id() -> str:
    words = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    hits = {
        lang: f"len(list_intersect({words}, [{', '.join(chr(39) + m + chr(39) for m in ms)}]))"
        for lang, ms in ts_ops._LANG_MARKERS.items()
    }
    best = f"greatest({hits['es']}, {hits['de']}, {hits['fr']}, {hits['en']})"
    marker = (
        f"CASE WHEN {best} <= 0 THEN 'unknown' "
        + " ".join(f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in ["en", "es", "de", "fr"])
        + " ELSE 'unknown' END"
    )
    return f"""
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
       WHEN regexp_matches(text, '[가-힯]') THEN 'ko'
       WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
       WHEN regexp_matches(text, '[Ͱ-Ͽ]') THEN 'el'
       ELSE {marker} END AS lang_pred
FROM documents
"""


# ---------------------------------------------------------------------------
# relational breadth (TPC-H-ish substrate)
# ---------------------------------------------------------------------------


def q_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped groupBy-agg (A5-adjacent breadth check)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_disc_price", F.col("count_order").cast("long").alias("count_order"))
    )


SQL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity::DOUBLE), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: join + window top-k (T1-adjacent)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_semi")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rk").cast("long").alias("rk"), F.round("o_totalprice", 2).alias("o_totalprice"))
    )


SQL_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, rk, round(o_totalprice, 2) AS o_totalprice FROM (
  SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY o.o_custkey ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk
  FROM orders o WHERE o.o_custkey IN (SELECT c_custkey FROM customer)
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# rows-only entries (no SQL twin; pytest oracles cover their semantics)
# ---------------------------------------------------------------------------


LSH_PLANES = 8
LSH_TABLES = 4
LSH_DIM = 64


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k, oracle-checkable: the planes are
    seeded floats (similarity.hyperplanes), reproduced verbatim as literal
    arrays in the SQL twin — DuckDB computes the identical signatures,
    candidate buckets and re-scored ranking."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id").isin(SIM_QIDS)).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"), F.col("embedding").alias("qvec")
    )
    out = sim_ops.lsh_topk(emb, q, k=5, n_planes=LSH_PLANES, n_tables=LSH_TABLES, dim=LSH_DIM)
    return out.select(
        "qid",
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


def _sql_lsh_topk() -> str:
    """Oracle twin of similarity.lsh_topk: per-table hyperplane sign
    signatures from the SAME seeded plane matrices (emitted as SQL double
    literals via repr — shortest-roundtrip, bit-exact), bucket join on
    (table, sig), exact cosine re-score, top-5 per query."""
    sig_cases = []
    for t in range(LSH_TABLES):
        planes = sim_ops.hyperplanes(LSH_DIM, LSH_PLANES, seed=42 + 1000 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, [{', '.join(repr(float(x)) for x in p)}]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        sig_cases.append(f"WHEN {t} THEN ({bits})::BIGINT")
    sig_expr = "CASE t.tbl " + " ".join(sig_cases) + " END"
    qid_list = ", ".join(str(i) for i in SIM_QIDS)
    return f"""
WITH e AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
tables AS (SELECT unnest(range(0, {LSH_TABLES})) AS tbl),
csig AS (SELECT e.vec_id, e.v, t.tbl, {sig_expr} AS sig FROM e CROSS JOIN tables t),
qsig AS (
  SELECT 'v' || c.vec_id AS qid, c.tbl, c.sig
  FROM csig c WHERE c.vec_id IN ({qid_list})
),
qv AS (SELECT 'v' || vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({qid_list})),
cands AS (
  SELECT DISTINCT q.qid, c.vec_id
  FROM csig c JOIN qsig q ON c.tbl = q.tbl AND c.sig = q.sig
),
scored AS (
  SELECT cands.qid, cands.vec_id,
         list_dot_product(e.v, qv.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv.qv, qv.qv))) AS cos
  FROM cands JOIN e ON cands.vec_id = e.vec_id JOIN qv ON cands.qid = qv.qid
),
ranked AS (
  SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, vec_id::BIGINT AS vec_id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, fully oracle-checkable: md5-derived base
    hashes AND md5 band keys (hash_fn='md5') so DuckDB reproduces the exact
    banding; the xxhash64 fast path is pytest-covered (same plan shape)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"), F.col("text").alias("content")
    )
    sigs = dedup_ops.minhash_signatures(
        d, num_hashes=MH_LSH_HASHES, shingle_k=MH_SHINGLE_K, hash_fn="md5"
    )
    return dedup_ops.minhash_lsh_candidates(
        sigs, num_hashes=MH_LSH_HASHES, bands=MH_LSH_BANDS, hash_fn="md5"
    )


def q_setwise_bubblesort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (setwise.py:243-273): with a perfect transitive comparator each
    bubble pass places the next-best doc, so k passes yield the true top-k in
    relevance order and T8 restores the tail -> SQL_TOPK_ASSEMBLY is exact."""
    return _rerank_entry(spark, sf_dir, "setwise.bubblesort", k=5, num_child=2)


def q_pairwise_bubblesort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (pairwise.py:253-275): same argument as T5 -> SQL_TOPK_ASSEMBLY."""
    return _rerank_entry(spark, sf_dir, "pairwise.bubblesort", k=5)


class _Md5TextModel:
    """Batch-scoring 'model' whose relevance is the md5 of the text alone —
    the SQL_REL oracle expression — so the REAL-model rerank path
    (lazy per-worker load + cross-query pooled batches) is oracle-checkable."""

    def score_batch(self, pairs):
        import hashlib

        return [float(int(hashlib.md5(t.encode()).hexdigest()[:7], 16)) for _q, t in pairs]


def _md5_text_model_factory():
    return _Md5TextModel()


def q_setwise_heapsort_batched_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 via the model-comparator path (model_comparator.rerank_batched):
    many qids per task, compare requests pooled into model batches. Results
    must equal the per-qid MockComparator path -> same oracle."""
    from llm_rankers_spark.operators.model_comparator import rerank_batched

    cands = _runs_df(spark, sf_dir).withColumn("query", F.lit("const"))
    out = rerank_batched(
        cands, method="setwise.heapsort", model_name="entry_md5text",
        model_factory=_md5_text_model_factory, k=5, num_child=2,
        batch_size=16, queries_per_task=2,
    )
    return out.select("qid", "docid", F.col("rank").cast("long").alias("rank"), "score")


# ---------------------------------------------------------------------------
# events / IVF / multimodal (round-3 breadth)
# ---------------------------------------------------------------------------


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 batch twin of the streaming windowed aggregation: tumbling
    5-minute windows over the events table."""
    from llm_rankers_spark.operators.events import windowed_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_counts(ev, "5 minutes")
    return out.select("bucket", "event_type", "n", F.round("total_value", 4).alias("total_value"))


SQL_EVENT_WINDOWS = """
SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS bucket, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) — the applyInPandasWithState /
    session_window shape as a one-shuffle batch plan."""
    from llm_rankers_spark.operators.events import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, gap_minutes=30)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_id",
        F.unix_micros(F.col("start_ts").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("end_ts").cast("timestamp")).alias("end_us"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


SQL_SESSIONIZE = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
  FROM ordered
)
SELECT user_id::BIGINT AS user_id, session_id,
       epoch_us(min(ts))::BIGINT AS start_us, epoch_us(max(ts))::BIGINT AS end_us,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS total_value
FROM sess GROUP BY user_id, session_id
"""


IVF_CENTROIDS = 16
IVF_PROBE = 4


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2 (IVF): nearest-centroid cell assignment + n_probe
    cell search. The entry uses seeded data-independent centroids
    (similarity.random_centroids) so the oracle can embed them as literals;
    the k-means path (similarity.ivf_centroids) is pytest-covered."""
    cents = sim_ops.random_centroids(64, IVF_CENTROIDS, seed=42)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id").isin(SIM_QIDS)).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"), F.col("embedding").alias("qvec")
    )
    out = sim_ops.ivf_topk(emb, q, cents, k=5, n_probe=IVF_PROBE)
    return out.select(
        "qid",
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


def _sql_ivf_topk() -> str:
    return _sql_ivf_from_cents(sim_ops.random_centroids(64, IVF_CENTROIDS, seed=42))


def _sql_ivf_from_cents(cents: list[list[float]]) -> str:
    def sqdist(vec: str, cent: list[float]) -> str:
        lit = ", ".join(repr(float(x)) for x in cent)
        return f"list_sum([({vec}[i+1] - [{lit}][i+1]) ^ 2 FOR i IN range(0, 64)])"

    c_dists = ", ".join(sqdist("v", cent) for cent in cents)
    probe_union = "\n  UNION ALL\n".join(
        f"  SELECT qid, qv, {j} AS j, {sqdist('qv', cent)} AS d FROM q"
        for j, cent in enumerate(cents)
    )
    qid_list = ", ".join(str(i) for i in SIM_QIDS)
    return f"""
WITH e AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, (list_position(dl, list_min(dl)) - 1) AS cid
  FROM (SELECT vec_id, v, [{c_dists}] AS dl FROM e)
),
q AS (SELECT 'v' || vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({qid_list})),
qdist AS (
{probe_union}
),
qprobe AS (
  SELECT qid, qv, cid FROM (
    SELECT qid, qv, j AS cid,
           row_number() OVER (PARTITION BY qid ORDER BY d ASC, j ASC) AS pr
    FROM qdist
  ) WHERE pr <= {IVF_PROBE}
),
scored AS (
  SELECT qp.qid, a.vec_id,
         list_dot_product(a.v, qp.qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qp.qv, qp.qv))) AS cos
  FROM assigned a JOIN qprobe qp ON a.cid = qp.cid
),
ranked AS (
  SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, vec_id::BIGINT AS vec_id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5
"""


IVF_KMEANS_SAMPLE = 2048
IVF_KMEANS_ITERS = 5


def _oracle_sf_dir() -> str:
    """The sf dir the oracle SQL's trained constants must derive from —
    resolved at ORACLE-REQUEST time so a test harness can pin it to the sf
    it compares at (the driver compares at sf0.01, the default)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED centroids (round-3 verdict #7): k-means runs
    in-entry over the deterministic sample (similarity.ivf_centroids), so
    the data-adapted path — not just the seeded-random one — meets the
    DuckDB gate. The oracle trains the SAME k-means (shared
    similarity.kmeans_local kernel) on the same sample fetched via DuckDB
    and embeds the resulting centroids as literals; pytest asserts the two
    trainings agree bit-exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    cents = sim_ops.ivf_centroids(
        emb, n_centroids=IVF_CENTROIDS, sample=IVF_KMEANS_SAMPLE, iters=IVF_KMEANS_ITERS
    )
    q = emb.filter(F.col("vec_id").isin(SIM_QIDS)).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("qid"), F.col("embedding").alias("qvec")
    )
    out = sim_ops.ivf_topk(emb, q, cents, k=5, n_probe=IVF_PROBE)
    return out.select(
        "qid",
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


import functools


@functools.lru_cache(maxsize=4)
def _kmeans_centroids_cached(sf_dir: str, _file_key: tuple = ()) -> tuple:
    import duckdb
    import numpy as np

    from llm_rankers_spark.operators import similarity as _sim

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT [x::DOUBLE FOR x IN embedding] AS v "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT {IVF_KMEANS_SAMPLE}"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    return tuple(tuple(c) for c in _sim.kmeans_local(X, IVF_CENTROIDS, iters=IVF_KMEANS_ITERS))


def oracle_kmeans_centroids(sf_dir: str | None = None) -> list[list[float]]:
    """Train the oracle-side centroids: same deterministic sample (first
    IVF_KMEANS_SAMPLE vectors by vec_id, cast to double) fetched through
    DuckDB, same shared k-means kernel — engine-independent by
    construction."""
    # memoized per (sf_dir, file mtime+size) — the file key guards against a
    # regenerated embeddings parquet within one process silently serving
    # stale centroids (round-4 ADVICE); path-only caching assumed immutable
    # testdata
    sf_dir = sf_dir or _oracle_sf_dir()
    pq = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(pq)
        file_key = (st.st_mtime_ns, st.st_size)
    except OSError:
        file_key = ()
    return [list(c) for c in _kmeans_centroids_cached(sf_dir, file_key)]


def _sql_ivf_kmeans_topk() -> str:
    return _sql_ivf_from_cents(oracle_kmeans_centroids())


def q_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-R1 training-example construction (create_dataset.py add_prefix):
    judged candidates are derived deterministically from the documents table
    (3 synthetic queries; positives = doc_id ≡ qi mod 80, negative pool =
    doc_id ≡ qi mod 3), texts clamped to 20 space-tokens to keep prompts
    oracle-hashable, then build_setwise_examples renders 1 positive + ≤19
    md5-shuffled negatives into the R1 prompt with the bracketed
    ground-truth label."""
    from llm_rankers_spark.operators.training import build_setwise_examples

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 240)
    base = d.select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ").alias("text"),
        F.col("doc_id").alias("did"),
    )
    qs = spark.createDataFrame(
        [(f"tq{i}", f"training query {i}", i) for i in range(3)],
        "qid string, query string, qi int",
    )
    cands = (
        qs.crossJoin(base)
        .withColumn("label", F.when(F.pmod(F.col("did"), F.lit(80)) == F.col("qi"), 1).otherwise(0))
        .filter((F.col("label") == 1) | (F.pmod(F.col("did"), F.lit(3)) == F.col("qi")))
        .select("qid", "query", "docid", "text", "label")
    )
    out = build_setwise_examples(cands, n_negs=19, seed=929, variant="r1")
    return out.select(
        "qid", F.col("n_docs").cast("long").alias("n_docs"), "ground_truth", "prompt"
    )


def _sql_training_examples() -> str:
    from llm_rankers_spark.operators.model_comparator import RankR1Comparator

    sys_lit = RankR1Comparator.PROMPT_SYSTEM
    usr_lit = RankR1Comparator.PROMPT_USER
    assert "'" not in sys_lit and "'" not in usr_lit  # single-quote-safe literals
    return f"""
WITH base AS (
  SELECT lpad(doc_id::VARCHAR, 10, '0') AS docid,
         array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS text,
         doc_id AS did
  FROM documents WHERE doc_id < 240
),
q(qid, query, qi) AS (VALUES ('tq0', 'training query 0', 0), ('tq1', 'training query 1', 1), ('tq2', 'training query 2', 2)),
cand AS (
  SELECT q.qid, q.query, b.docid, b.text,
         CASE WHEN b.did % 80 = q.qi THEN 1 ELSE 0 END AS label
  FROM q CROSS JOIN base b
  WHERE (b.did % 80 = q.qi) OR (b.did % 3 = q.qi)
),
pos AS (
  SELECT qid, query, docid, text, label FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY md5('929:pos:' || docid), docid) AS rn
    FROM cand WHERE label = 1
  ) WHERE rn = 1
),
neg AS (
  SELECT qid, query, docid, text, label FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY md5('929:neg:' || docid), docid) AS rn
    FROM cand WHERE label = 0
  ) WHERE rn <= 19
),
pool AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
mixed AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY md5('929:mix:' || docid), docid) AS pos_i
  FROM pool
),
agg AS (
  SELECT qid, max(query) AS query, count(*)::BIGINT AS n_docs,
         string_agg('[' || pos_i::VARCHAR || '] ' || text, chr(10) ORDER BY pos_i) AS docs,
         max(CASE WHEN label = 1 THEN pos_i END) AS gt
  FROM mixed GROUP BY qid
)
SELECT qid, n_docs,
       '[' || gt::VARCHAR || ']' AS ground_truth,
       '{sys_lit}' || chr(10) || chr(10) ||
       replace(replace('{usr_lit}', '{{query}}', query), '{{docs}}', docs) AS prompt
FROM agg
"""


DECON_K = 5
DECON_EXCERPT_TOKENS = 12


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a synthetic eval set (every 50th doc's
    first 12 simple-tokens — an 'excerpted question') is matched back
    against the corpus by 5-token shingle overlap; source docs (and their
    exact duplicates) surface at overlap 1.0. Benchmark shingles broadcast
    — the corpus side never shuffles before the tiny matched aggregate."""
    from llm_rankers_spark.functions.tokenize import tokens_col
    from llm_rankers_spark.operators.dedup import contamination_overlap

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
        F.col("text").alias("content"),
        F.col("doc_id").alias("did"),
    )
    toks = tokens_col(F.col("content"), mode="simple")
    bench = (
        d.filter(F.pmod(F.col("did"), F.lit(50)) == 0)
        .select(
            F.concat(F.lit("b"), F.col("docid")).alias("bench_id"),
            F.array_join(F.slice(toks, 1, DECON_EXCERPT_TOKENS), " ").alias("text"),
        )
    )
    out = contamination_overlap(
        d.select("docid", "content"), bench, shingle_k=DECON_K, threshold=0.8
    )
    return out.select(
        "bench_id", "docid", "matched", "bench_shingles", F.round("overlap", 4).alias("overlap")
    )


def _sql_contamination() -> str:
    k, ex = DECON_K, DECON_EXCERPT_TOKENS
    tok = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"
    sh = (
        "list_distinct(CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')] "
        "ELSE [array_to_string(t[i + 1 : i + {k}], ' ') FOR i IN range(0, len(t) - {k} + 1)] END)"
    ).format(k=k)
    return f"""
WITH d AS (
  SELECT lpad(doc_id::VARCHAR, 10, '0') AS docid, text, doc_id AS did FROM documents
),
bench AS (
  SELECT 'b' || docid AS bench_id,
         array_to_string(({tok.format(c='text')})[1 : {ex}], ' ') AS text
  FROM d WHERE did % 50 = 0
),
dtok AS (SELECT docid, {tok.format(c='text')} AS t FROM d),
dsh AS (SELECT docid, unnest({sh}) AS shingle FROM dtok),
btok AS (SELECT bench_id, {tok.format(c='text')} AS t FROM bench),
bsha AS (SELECT bench_id, {sh} AS shs FROM btok),
btot AS (SELECT bench_id, len(shs)::BIGINT AS bench_shingles FROM bsha),
bsh AS (SELECT bench_id, unnest(shs) AS shingle FROM bsha),
m AS (
  SELECT ds.docid, bs.bench_id, count(*)::BIGINT AS matched
  FROM dsh ds JOIN bsh bs USING (shingle)
  GROUP BY ds.docid, bs.bench_id
)
SELECT m.bench_id, m.docid, m.matched, bt.bench_shingles,
       round(m.matched * 1.0 / bt.bench_shingles, 4) AS overlap
FROM m JOIN btot bt USING (bench_id)
WHERE m.matched * 1.0 / bt.bench_shingles >= 0.8
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked: documents become opaque binary
    payloads (utf-8 bytes), the mapInPandas feature extractor runs with the
    deterministic sha-derived fake decoder, and features are re-emitted as
    the byte sums (×255) so float32 rounding can't flake the comparison.
    The REAL decoder stays a stub (image/audio libs absent — documented)."""
    from llm_rankers_spark.operators.multimodal import extract_features, fake_decoder

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 200)
    media = d.select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("x/fake").alias("mime"),
        F.lit(0).alias("width"), F.lit(0).alias("height"), F.lit(0).alias("duration_ms"),
    )
    feats = extract_features(media, decoder=fake_decoder)
    cols = [
        F.round(F.element_at("feature", i + 1) * 255).cast("long").alias(f"b{i}") for i in range(8)
    ]
    return feats.select("media_id", "kind", F.col("n_bytes").cast("long").alias("n_bytes"), "sha256", *cols)


def _sql_media_features() -> str:
    byte = "(('0x' || substr(hx, {pos}, 2))::BIGINT)"
    sums = []
    for j in range(8):
        parts = " + ".join(byte.format(pos=2 * (4 * j + i) + 1) for i in range(4))
        sums.append(f"({parts}) AS b{j}")
    return f"""
WITH m AS (
  SELECT lpad(doc_id::VARCHAR, 10, '0') AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text
  FROM documents WHERE doc_id < 200
),
h AS (SELECT media_id, kind, octet_length(encode(text))::BIGINT AS n_bytes, sha256(text) AS hx FROM m)
SELECT media_id, kind, n_bytes, hx AS sha256, {", ".join(sums)} FROM h
"""


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → keep-one clusters: min-label-propagation connected
    components over the (oracled) MinHash-LSH pair set. The oracle computes
    the same components with a recursive-CTE transitive closure — fine at
    oracle scale, which is exactly why the engine side uses the iterative
    join instead."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    cc = dedup_ops.connected_components(pairs)
    return (
        cc.groupBy("root")
        .agg(
            F.count("*").cast("long").alias("cluster_size"),
            F.array_join(F.array_sort(F.collect_list("id")), ",").alias("members"),
        )
    )


# transitive closure over `pairs` → roots(id, root): fine at oracle scale,
# which is exactly why the engine side uses iterative label propagation
_SQL_CLOSURE_CTES = """
edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
roots AS (
  SELECT n.a AS id, least(n.a, min(r.b)) AS root
  FROM (SELECT DISTINCT a FROM edges) n LEFT JOIN reach r ON r.a = n.a
  GROUP BY n.a
)"""


def _sql_minhash_clusters() -> str:
    return f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
{_SQL_CLOSURE_CTES.strip()}
SELECT root, count(*)::BIGINT AS cluster_size,
       array_to_string(list_sort(list(id)), ',') AS members
FROM roots GROUP BY root
"""


PREP_MIN_WORDS = 20


def q_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integration oracle for the corpus-prep pipeline: quality gate
    (n_words ≥ 20, alpha_ratio ≥ 0.5) → exact dedup (min docid per text) →
    MinHash-LSH pair → connected-components cluster → drop non-roots →
    benchmark decontamination (every-50th-doc excerpts as the synthetic
    eval set, same scheme as dedup_contamination). The whole chain —
    including the resumable stage machinery it runs through — must land on
    exactly the SQL's surviving set."""
    from llm_rankers_spark.functions.tokenize import tokens_col
    from llm_rankers_spark.plans.prep import run_prep_pipeline

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"), F.col("text").alias("content")
    )
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_col(F.col("text"), mode="simple")
    bench = raw.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0).select(
        F.concat(F.lit("b"), F.lpad(F.col("doc_id").cast("string"), 10, "0")).alias("bench_id"),
        F.array_join(F.slice(toks, 1, DECON_EXCERPT_TOKENS), " ").alias("text"),
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    wd = os.path.join(tempfile.gettempdir(), f"llmrs_entry_prep_{tag}")
    run_prep_pipeline(
        spark, d, wd,
        min_words=PREP_MIN_WORDS, minhash_hashes=MH_LSH_HASHES, minhash_bands=MH_LSH_BANDS,
        shingle_k=MH_SHINGLE_K, minhash_hash_fn="md5",
        benchmark=bench, contamination_shingle_k=DECON_K, contamination_threshold=0.8,
    )
    clean = spark.read.parquet(os.path.join(wd, "clean"))
    return clean.select("docid", "content_sha256")


def _sql_prep_pipeline() -> str:
    k, ex = DECON_K, DECON_EXCERPT_TOKENS
    tok = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"
    sh = (
        "list_distinct(CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')] "
        "ELSE [array_to_string(t[i + 1 : i + {k}], ' ') FOR i IN range(0, len(t) - {k} + 1)] END)"
    ).format(k=k)
    return f"""
WITH RECURSIVE
base AS (SELECT lpad(doc_id::VARCHAR, 10, '0') AS docid, text FROM documents),
feat AS (
  SELECT docid, text,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_words,
         length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
           / greatest(length(text)::BIGINT, 1) AS alpha_ratio
  FROM base
),
kept AS (
  SELECT docid, text FROM feat
  WHERE n_words >= {PREP_MIN_WORDS} AND n_words <= 200000 AND alpha_ratio >= 0.5
),
exact AS (
  SELECT k.docid, k.text FROM kept k
  JOIN (SELECT min(docid) AS docid FROM kept GROUP BY text) m ON k.docid = m.docid
),
{_sql_minhash_pair_ctes(source="exact").strip()},
{_SQL_CLOSURE_CTES.strip()},
survivors AS (
  SELECT e.docid, e.text FROM exact e
  WHERE e.docid NOT IN (SELECT id FROM roots WHERE id <> root)
),
bench AS (
  SELECT 'b' || lpad(doc_id::VARCHAR, 10, '0') AS bench_id,
         array_to_string(({tok.format(c='text')})[1 : {ex}], ' ') AS btext
  FROM documents WHERE doc_id % 50 = 0
),
dcsh AS (
  SELECT docid, unnest({sh}) AS shingle
  FROM (SELECT docid, {tok.format(c='text')} AS t FROM survivors)
),
bcsha AS (SELECT bench_id, {sh} AS shs FROM (SELECT bench_id, {tok.format(c='btext')} AS t FROM bench)),
bctot AS (SELECT bench_id, len(shs)::BIGINT AS bench_shingles FROM bcsha),
bcsh AS (SELECT bench_id, unnest(shs) AS shingle FROM bcsha),
cm AS (
  SELECT ds.docid, bs.bench_id, count(*)::BIGINT AS matched
  FROM dcsh ds JOIN bcsh bs USING (shingle)
  GROUP BY ds.docid, bs.bench_id
),
contaminated AS (
  SELECT DISTINCT cm.docid FROM cm JOIN bctot bt USING (bench_id)
  WHERE cm.matched * 1.0 / bt.bench_shingles >= 0.8
)
SELECT s.docid, sha256(s.text) AS content_sha256
FROM survivors s
WHERE s.docid NOT IN (SELECT docid FROM contaminated)
"""


def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embeddings table — value-exact
    oracle: both engines compute round(x·127/max|x|) in identical IEEE
    double order, so the emitted int strings match bit-for-bit."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = sim_ops.quantize_embeddings(emb)
    return q.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("scale", 9).alias("scale"),
        F.array_join(F.transform("qvec", lambda x: x.cast("int").cast("string")), ",").alias("qvec"),
    )


SQL_QUANTIZE = """
WITH e AS (
  SELECT vec_id,
         [x::DOUBLE FOR x IN embedding] AS v,
         list_max([abs(x::DOUBLE) FOR x IN embedding]) AS maxabs
  FROM embeddings
)
SELECT vec_id::BIGINT AS vec_id,
       round(maxabs / 127.0, 9) AS scale,
       CASE WHEN maxabs = 0
            THEN array_to_string([0 FOR x IN v], ',')
            ELSE array_to_string([round((x * 127.0) / maxabs)::INTEGER FOR x IN v], ',')
       END AS qvec
FROM e
"""


def q_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact dedup (applyInPandasWithState), oracle-
    checked: the documents table (plus injected duplicates, same scheme as
    f6) is replayed as a two-drop file stream through
    ``start_streaming_dedup``; the kept set must equal batch first-wins
    dedup — min docid per digest — regardless of micro-batch boundaries.
    The second drop carries the duplicates, so cross-batch suppression via
    keyed GroupState is what's actually under test."""
    import shutil

    from llm_rankers_spark.streaming.index_stream import start_streaming_dedup

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"llmrs_entry_sdedup_{tag}")
    out, ck, indir = (os.path.join(root, p) for p in ("out", "ck", "in"))
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )
    # cache key = input fingerprint, so a regenerated documents table
    # invalidates the replay instead of serving a stale kept set
    fp_row = d.agg(F.count("*").alias("n"), F.sum(F.crc32("docid")).alias("crc")).collect()[0]
    fp = f"{fp_row['n']}:{fp_row['crc']}"
    done = os.path.join(out, "_done")
    cached = open(done).read().strip() if os.path.exists(done) else None

    def _await(q):
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("streaming dedup replay timed out")

    if cached != fp:
        shutil.rmtree(root, ignore_errors=True)
        dupes = d.filter(F.pmod(F.col("docid").cast("long"), F.lit(100)) == 0).withColumn(
            "docid", F.concat(F.lit("dup_"), F.col("docid"))
        )
        d.write.parquet(os.path.join(indir, "drop1"))
        _await(start_streaming_dedup(spark, os.path.join(indir, "*"), out, checkpoint=ck))
        dupes.write.parquet(os.path.join(indir, "drop2"))
        _await(start_streaming_dedup(spark, os.path.join(indir, "*"), out, checkpoint=ck))
        with open(done, "w") as f:
            f.write(fp)
    return (
        spark.read.schema("docid string, content string, content_sha256 string")
        .parquet(out)
        .select("docid", "content_sha256")
    )


SQL_DEDUP_STREAMING = """
WITH base AS (
  SELECT lpad(doc_id::VARCHAR, 10, '0') AS docid, text FROM documents
  UNION ALL
  SELECT 'dup_' || lpad(doc_id::VARCHAR, 10, '0') AS docid, text FROM documents WHERE doc_id % 100 = 0
)
SELECT min(docid) AS docid, sha256(text) AS content_sha256
FROM base GROUP BY sha256(text)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    # (spark_fn, oracle_sql or None)
    "s5_s6_bm25_wand_topk": (q_bm25_wand, BM25_ORACLE_SQL),
    "s6_bm25_dataframe_topk": (q_bm25_dataframe, BM25_ORACLE_SQL),
    "s6_bm25_distributed_topk": (q_bm25_distributed, BM25_ORACLE_SQL),
    "s28_bm25_segment_search": (q_bm25_segments, BM25_ORACLE_SQL),
    "s28_bm25_compacted_search": (q_bm25_compacted, BM25_ORACLE_SQL),
    "m2_verify_index": (q_verify_index, SQL_VERIFY_INDEX),
    "t4_rerank_batched_model": (q_setwise_heapsort_batched_model, SQL_TOPK_ASSEMBLY),
    "f3_hits_cap": (q_hits_cap, SQL_HITS_CAP),
    "f4_excluded_filter": (q_excluded_filter, SQL_EXCLUDED),
    "f5_qid_filter": (q_qid_filter, SQL_QID_FILTER),
    "f7_inverse_rank": (q_inverse_rank, SQL_INVERSE),
    "j4_a4_fusion": (q_fusion, SQL_FUSION),
    "s8_ndcg10": (q_ndcg10, SQL_NDCG),
    "s8_ndcg10_graded": (q_ndcg10_graded, SQL_NDCG_GRADED),
    "t4_setwise_heapsort": (q_setwise_heapsort, SQL_TOPK_ASSEMBLY),
    "t2_pairwise_heapsort": (q_pairwise_heapsort, SQL_TOPK_ASSEMBLY),
    "a1_pairwise_allpair": (q_pairwise_allpair, SQL_ALLPAIR),
    "t6_listwise_full_window": (q_listwise_full, SQL_LISTWISE),
    "f6_dedup_exact_groups": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_signatures": (q_minhash, _sql_minhash()),
    "dedup_simhash": (q_simhash, _sql_simhash()),
    "dedup_ngram_jaccard": (q_jaccard_pairs, SQL_JACCARD),
    "text_quality_features": (q_text_quality, SQL_TEXT_QUALITY),
    "text_token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "text_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "text_language_id": (q_lang_id, _sql_lang_id()),
    "sim_cosine_topk": (q_cosine_topk, SQL_COSINE),
    "sim_near_dup_exact": (q_near_dup_exact, SQL_NEAR_DUP),
    "rel_lineitem_agg": (q_lineitem_agg, SQL_LINEITEM_AGG),
    "rel_top_orders_per_customer": (q_top_orders_per_customer, SQL_TOP_ORDERS),
    # with a perfect transitive comparator, k bubble passes place the true
    # top-k in order and T8 appends the tail in original order -> the same
    # oracle as heapsort (verified: engine == oracle at sf0.01 and in pytest)
    "t5_setwise_bubblesort": (q_setwise_bubblesort, SQL_TOPK_ASSEMBLY),
    "t3_pairwise_bubblesort": (q_pairwise_bubblesort, SQL_TOPK_ASSEMBLY),
    # round-3: the former rows-only LSH entries, now fully oracle-checked via
    # md5 band keys and literal-array hyperplanes (VERDICT r2 next-round #1)
    "sim_lsh_topk": (q_lsh_topk, _sql_lsh_topk()),
    "dedup_minhash_lsh_pairs": (q_minhash_lsh_pairs, _sql_minhash_lsh_pairs()),
    # round-3 breadth: events (batch twins of the streaming shapes), IVF ANN,
    # multimodal feature plumbing
    "dedup_streaming_exact": (q_dedup_streaming, SQL_DEDUP_STREAMING),
    "sim_quantize_int8": (q_quantize, SQL_QUANTIZE),
    "dedup_minhash_clusters": (q_minhash_clusters, _sql_minhash_clusters()),
    "prep_pipeline_clean": (q_prep_pipeline, _sql_prep_pipeline()),
    "evt_windowed_counts": (q_event_windows, SQL_EVENT_WINDOWS),
    "evt_sessionize": (q_sessionize, SQL_SESSIONIZE),
    "sim_ivf_topk": (q_ivf_topk, _sql_ivf_topk()),
    "mm_media_features": (q_media_features, _sql_media_features()),
    # round-4: trained-centroid IVF meets the gate (shared k-means kernel,
    # oracle trains on the same sample via DuckDB) and the Rank-R1
    # training-example constructor (create_dataset.py as a DataFrame job)
    # the kmeans oracle trains on the sf0.01 sample at ORACLE-REQUEST time
    # (callable, resolved by __spark_entry__.oracle_sql) — importing this
    # module must not touch the testdata
    "sim_ivf_kmeans_topk": (q_ivf_kmeans_topk, _sql_ivf_kmeans_topk),
    "r1_training_examples": (q_training_examples, _sql_training_examples()),
    "dedup_contamination": (q_contamination, _sql_contamination()),
}

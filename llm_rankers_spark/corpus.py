"""Synthetic source-code corpus generator + driver-table adapters.

Produces the BASELINE.json ``input_hint`` shape — an Iceberg-style table
``documents(repo, path, commit, lang, content)`` — deterministically
(seeded), with Zipfian token frequencies and deliberately hot terms
(``import``, ``def``, ``return``, ``self``; df ≈ corpus size) so skew
handling is actually exercised (FIXTURES.md §1).

Generation happens *distributed*: the driver only materializes a range
DataFrame; content is synthesized per-row inside a vectorized mapInPandas,
so the generator itself scales with the cluster (at 10^12 files you'd feed
real Iceberg snapshots instead, but the shape contract is identical).

Sandbox substitution note: the Iceberg catalog jars are not in this image,
so tables are written as plain parquet with an Iceberg-compatible layout;
swapping ``.parquet`` for ``.format("iceberg")`` is the only change needed
on a real cluster.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "python", "python", "java", "scala", "go", "javascript"]
EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go", "javascript": "js"}
HOT_TERMS = ["import", "def", "return", "self"]
# Zipfian identifier vocabulary; snake_case/camelCase mix exercises the
# code tokenizer's sub-token splitting.
VOCAB = (
    HOT_TERMS
    + ["class", "for", "if", "else", "while", "try", "except", "lambda", "yield"]
    + [f"parse_{w}" for w in ("query", "token", "index", "block", "shard", "posting")]
    + [f"{w}Handler" for w in ("Request", "Response", "Stream", "Batch", "Merge")]
    + [f"var{i}" for i in range(200)]
    + [f"helper_fn_{i}" for i in range(500)]
)

DOC_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _gen_batch(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    rows = []
    zipf_p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    for i in pdf["id"].astype(int):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        lang = LANGS[i % len(LANGS)]
        repo = f"org{i % 7}/repo{i % 23}"
        path = f"src/pkg{i % 13}/mod{i % 41}_{i}.{EXT[lang]}"
        commit = hashlib.sha1(f"{repo}:{path}:{seed}".encode()).hexdigest()[:12]
        n_lines = int(rng.integers(30, 300))
        words = rng.choice(np.asarray(VOCAB, dtype=object), size=n_lines * 6, p=zipf_p)
        lines = []
        for j in range(n_lines):
            w = words[j * 6 : (j + 1) * 6]
            if j % 7 == 0:
                lines.append(f"import {w[0]}")
            elif j % 7 == 1:
                lines.append(f"def {w[0]}({w[1]}, {w[2]}):")
            else:
                lines.append(f"    {w[0]} = {w[1]}.{w[2]}({w[3]}, {w[4]}) + {w[5]}")
        # plant a unique known-item marker in every doc (FIXTURES.md §7)
        lines.append(f"    marker = 'passage_{i}'")
        rows.append((repo, path, commit, lang, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def generate_corpus(spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic corpus, generated executor-side."""
    partitions = partitions or max(1, n_docs // 2000)
    base = spark.range(0, n_docs, 1, partitions)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _gen_batch(pdf, seed)

    return base.mapInPandas(gen, schema=DOC_SCHEMA)


def with_docid(docs: DataFrame) -> DataFrame:
    """Derive ``docid`` + the per-row sha256 invariant (BASELINE.json
    input_hint: content sha256 equality is carried through the pipeline).

    docid spaces→underscores mirrors the reference corpus-export rule
    (Rank-R1/bright/write_pyserini_corpus.py:16-20).
    """
    return docs.withColumn(
        "docid",
        F.regexp_replace(F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"), F.col("commit")), " ", "_"),
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def driver_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's documents table (doc_id, text, lang, source,
    n_chars) to the engine's corpus contract. docid is the zero-padded
    doc_id so lexicographic docid order == numeric order (keeps the
    tie-break comparable in ANSI-SQL oracles)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.select(
            F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("docid"),
            F.col("text").alias("content"),
            F.col("lang"),
            F.col("source").alias("repo"),
        )
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )


def export_corpus_json(docs: DataFrame, out_path: str) -> None:
    """S3 (write_pyserini_corpus.py:10-25): JsonCollection export — docid
    spaces→underscores, first-wins duplicate-id drop, {id, contents} JSON."""
    from llm_rankers_spark.operators.dedup import dedup_docids

    cleaned = docs.withColumn("docid", F.regexp_replace("docid", " ", "_"))
    deduped = dedup_docids(cleaned)
    deduped.select(F.col("docid").alias("id"), F.col("content").alias("contents")).write.mode(
        "overwrite"
    ).json(out_path)


def clean_query_text(col) -> "F.Column":
    """S4 (write_pyserini_queries.py:13-21): strip \\n \\t \\r \\f from
    query text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, "[\\n\\t\\r\\f]", " "))


def export_queries_tsv(queries: DataFrame, out_path: str) -> None:
    """S4: (qid, cleaned query) tsv export."""
    queries.select(
        F.concat_ws("\t", F.col("qid"), clean_query_text("query")).alias("value")
    ).write.mode("overwrite").text(out_path)


def export_qrels_tsv(qrels: DataFrame, out_path: str) -> None:
    """S4 (write_pyserini_qrels.py:9-18): ``qid 0 docid rel`` tsv."""
    qrels.select(
        F.concat_ws("\t", F.col("qid"), F.lit("0"), F.col("docid"), F.col("rel").cast("string")).alias("value")
    ).write.mode("overwrite").text(out_path)


def generate_queries(spark: SparkSession, corpus_terms: list[str], n_queries: int = 50, seed: int = 42) -> DataFrame:
    """Deterministic query set over a vocabulary (FIXTURES.md §2 mix:
    known-item, hot+rare, all-hot, absent-term)."""
    rng = np.random.default_rng(seed)
    rows = []
    terms = np.asarray(corpus_terms, dtype=object)
    for i in range(n_queries):
        kind = i % 4
        if kind == 0:
            q = f"passage_{int(rng.integers(0, 100))}"
        elif kind == 1:
            q = f"{HOT_TERMS[i % len(HOT_TERMS)]} " + " ".join(rng.choice(terms, size=2))
        elif kind == 2:
            q = " ".join(HOT_TERMS[: 2 + i % 3])
        else:
            q = f"zzz_absent_{i} " + str(rng.choice(terms))
        rows.append((f"q{i}", q))
    return spark.createDataFrame(rows, "qid string, query string")

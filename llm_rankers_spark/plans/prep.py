"""Corpus-prep pipeline: the training-data job the dedup/quality operators
exist FOR, composed as one resumable DataFrame job graph:

    quality filter → exact dedup → near-dup clustering → clean corpus

The reference has no corpus-prep surface (SURVEY.md training-pipeline
extension); the shape here is the standard web-scale pretraining prep
(quality gates, then exact, then fuzzy dedup — cheapest filter first so
each stage shrinks the next one's input).

Resume model mirrors plans/pipeline.py: every stage writes parquet plus a
``_<stage>_stage.json`` input fingerprint; rerun with ``resume=True``
skips stages whose fingerprint matches. Stage outputs are deterministic
(keep-one rules are min-id everywhere), so a resumed run is byte-identical
to a clean one. Per-stage row counts land in the stage markers — the
metrics half of "per-partition lineage + metrics".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_rankers_spark.operators import dedup as dedup_ops
from llm_rankers_spark.operators import textstats as ts_ops
from llm_rankers_spark.plans.pipeline import Stage, _fingerprint


def run_prep_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    work_dir: str,
    min_words: int = 5,
    max_words: int = 200_000,
    min_alpha_ratio: float = 0.5,
    minhash_hashes: int = 32,
    minhash_bands: int = 16,
    shingle_k: int = 3,
    minhash_hash_fn: str = "xxhash64",
    benchmark: DataFrame | None = None,
    bench_id_col: str = "bench_id",
    bench_content_col: str = "text",
    contamination_shingle_k: int = 8,
    contamination_threshold: float = 0.8,
    resume: bool = True,
) -> dict:
    """``docs``: (docid, content[, content_sha256]). Returns per-stage row
    counts; the clean corpus lands at ``<work_dir>/clean``.

    Stage plans (each one shuffle-conscious):
    1. ``filtered`` — quality gates are pure Catalyst expressions fused
       into the scan (no shuffle at all).
    2. ``exact`` — one shuffle on the content digest; keeper = min docid.
    3. ``neardup`` (``clean`` when no benchmark) — MinHash signatures
       (map-side), banded LSH candidate join, pair→cluster connected
       components (large-star/small-star, read from its own checkpoint so
       the write below never recomputes the signatures), then an anti-join
       dropping every cluster member except its root.
    4. ``clean`` (only with ``benchmark``) — benchmark decontamination:
       docs whose shingle overlap with any eval item reaches
       ``contamination_threshold`` are anti-joined away. The eval set is
       benchmark-sized, so its shingles broadcast — one scan over the
       near-dup survivors, no corpus-side shuffle (the standard ordering:
       dedup first so decontamination scans the smallest corpus).
    """
    if "content_sha256" not in docs.columns:
        docs = docs.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    # fingerprint = input identity + every knob that shapes an output, so a
    # config change invalidates cached stages just like a data change
    cfg = (
        f"w{min_words}-{max_words}|a{min_alpha_ratio}"
        f"|mh{minhash_hashes}x{minhash_bands}k{shingle_k}{minhash_hash_fn}"
    )
    decon_cfg = ""
    if benchmark is not None:
        # the benchmark's identity AND content are config for the
        # decontamination stage: a changed eval set (or threshold) must
        # invalidate the cached clean stage exactly like a data change —
        # but ONLY that stage (scoped to fp_n, not cfg, so swapping eval
        # sets never recomputes the upstream dedup stages)
        bench_fp = _fingerprint(benchmark, [bench_id_col, bench_content_col])
        decon_cfg = f"|dk{contamination_shingle_k}t{contamination_threshold}b{bench_fp}"
    # identity includes content_sha256, not just docid: a doc whose content
    # changes in place must invalidate the cached stages (round-3 ADVICE —
    # a content-dedup pipeline that ignored content changes on resume)
    fp_in = f"{_fingerprint(docs, ['docid', 'content_sha256'])}|{cfg}"
    counts: dict[str, int] = {}

    # --- 1. quality filter -------------------------------------------------
    st = Stage(work_dir, "filtered")
    if not (resume and st.is_done(fp_in)):
        q = ts_ops.quality_features(docs, content_col="content", id_col="docid")
        keep = q.filter(
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("alpha_ratio") >= min_alpha_ratio)
        ).select(F.col("id").alias("docid"))
        docs.join(keep, "docid").write.mode("overwrite").parquet(st.path)
        st.mark(fp_in, {"rows": spark.read.parquet(st.path).count()})
    filtered = spark.read.parquet(st.path)
    counts["filtered"] = fsio_rows(st)

    # --- 2. exact dedup ----------------------------------------------------
    fp_f = f"{fp_in}|{counts['filtered']}"
    st2 = Stage(work_dir, "exact")
    if not (resume and st2.is_done(fp_f)):
        w_keep = (
            filtered.groupBy("content_sha256").agg(F.min("docid").alias("docid"))
        )
        filtered.join(w_keep, ["content_sha256", "docid"]).write.mode("overwrite").parquet(st2.path)
        st2.mark(fp_f, {"rows": spark.read.parquet(st2.path).count()})
    exact = spark.read.parquet(st2.path)
    counts["exact"] = fsio_rows(st2)

    # --- 3. near-dup clustering -------------------------------------------
    # without a benchmark this stage IS the clean corpus; with one it is an
    # intermediate ("neardup") that the decontamination stage consumes —
    # the final corpus always lands at <work_dir>/clean either way
    fp_e = f"{fp_f}|{counts['exact']}"
    st3 = Stage(work_dir, "neardup" if benchmark is not None else "clean")
    if not (resume and st3.is_done(fp_e)):
        sigs = dedup_ops.minhash_signatures(
            exact, id_col="docid", content_col="content",
            num_hashes=minhash_hashes, shingle_k=shingle_k, hash_fn=minhash_hash_fn,
        )
        pairs = dedup_ops.minhash_lsh_candidates(
            sigs, num_hashes=minhash_hashes, bands=minhash_bands, hash_fn=minhash_hash_fn
        )
        cc = dedup_ops.connected_components(pairs)
        drop = cc.filter(F.col("id") != F.col("root")).select(F.col("id").alias("docid"))
        exact.join(drop, "docid", "left_anti").write.mode("overwrite").parquet(st3.path)
        st3.mark(fp_e, {"rows": spark.read.parquet(st3.path).count()})
    if benchmark is None:
        counts["clean"] = fsio_rows(st3)
        return counts
    counts["neardup"] = fsio_rows(st3)
    neardup = spark.read.parquet(st3.path)

    # --- 4. benchmark decontamination --------------------------------------
    fp_n = f"{fp_e}|{counts['neardup']}{decon_cfg}"
    st4 = Stage(work_dir, "clean")
    if not (resume and st4.is_done(fp_n)):
        flagged = dedup_ops.contamination_overlap(
            neardup, benchmark,
            bench_id_col=bench_id_col, bench_content_col=bench_content_col,
            shingle_k=contamination_shingle_k, threshold=contamination_threshold,
        )
        contaminated = flagged.select("docid").distinct()
        neardup.join(contaminated, "docid", "left_anti").write.mode("overwrite").parquet(st4.path)
        st4.mark(fp_n, {"rows": spark.read.parquet(st4.path).count()})
    counts["clean"] = fsio_rows(st4)

    return counts


def fsio_rows(stage: Stage) -> int:
    from llm_rankers_spark import fsio

    return int(fsio.read_json(stage.meta_path)["rows"])

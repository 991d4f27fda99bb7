"""Training-example construction — the reference's dataset-building jobs
(Rank-R1/create_dataset.py:9-35, create_dataset_sft.py:10-41,
create_dataset_v0.2.py:15-63) as declarative DataFrame plans.

Per query: pick one positive, sample+shuffle up to ``n_negs`` negatives,
shuffle the combined doc list, render ``[i] doc`` lines into the setwise
prompt, emit (prompt, ground_truth) — the SFT/GRPO training rows for the
Rank-R1 family. This is a *data-pipeline* job (the point of this engine):
at web scale it is a handful of window functions + one grouped string
aggregation, no Python loop per example.

Determinism divergence (documented): the reference shuffles with the
process-global ``random`` RNG (order depends on worker count / row order),
which has no place in a distributed, resumable, oracle-checked pipeline.
Every choice here — negative sample, negative order, mixed order, v0.2
positive choice and negative count — derives from ``md5(seed:role:qid[:docid])``,
so results are partition- and engine-independent (the same trick as the
seeded shuffle in operators/rerank.py F7). The *rendering* (doc lines,
labels, ground-truth bracket, prompt template) is line-faithful to
``add_prefix`` and asserted against a local port in tests.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_rankers_spark.operators.model_comparator import (
    RankR1Comparator,
    RankR1V02Comparator,
)

# prompt text mirrors Rank-R1/prompts/prompt_setwise.toml (SFT variant)
SFT_PROMPT_SYSTEM = (
    "A conversation between User and Assistant. The user asks a question, "
    "and the Assistant solves it. The assistant provides the user with the "
    "answer enclosed within <answer> </answer> tags, i.e., <answer> answer "
    "here </answer>."
)
SFT_PROMPT_USER = (
    'Given the query: "{query}", which of the following documents is most '
    "relevant?\n{docs}\nPlease provide only the label of the most relevant "
    "document to the query, enclosed in square brackets, within the answer "
    "tags. For example, if the third document is the most relevant, the "
    "answer should be: <answer>[3]</answer>."
)

# prompt text of Rank-R1/prompts/prompt_setwise-R1-v0.2.toml lives on the
# comparator (single source for both the rerank protocol and this builder)
V02_PROMPT_SYSTEM = RankR1V02Comparator.PROMPT_SYSTEM
V02_PROMPT_USER = RankR1V02Comparator.PROMPT_USER

_VARIANTS = {
    # variant: (system, user, doc_prefix, doc_separator, n_negs_cap)
    "r1": (RankR1Comparator.PROMPT_SYSTEM, RankR1Comparator.PROMPT_USER, "[{num}] ", "\n", 19),
    "sft": (SFT_PROMPT_SYSTEM, SFT_PROMPT_USER, "[{num}] ", "\n", 19),
    "r1-v0.2": (V02_PROMPT_SYSTEM, V02_PROMPT_USER, "[{num}]: ", "\n\n", 9),
}
# NOTE create_dataset.py:22 renders "[i] doc" (no colon) even though the
# toml's doc_prefix is "[{num}]: " — the r1/sft rows mirror the script.


def _seed_key(role: str, seed: int, *cols: Column) -> Column:
    """Deterministic md5 shuffle key: md5('{seed}:{role}:' || col [|| ':' col...])."""
    parts: list[Column] = [F.lit(f"{seed}:{role}:")]
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(":"))
        parts.append(c.cast("string"))
    return F.md5(F.concat(*parts))


def _template_col(template: str, query_col: Column, docs_col: Column) -> Column:
    """Render a '{query}/{docs}' template as a Catalyst concat."""
    out: list[Column] = []
    for part in re.split(r"(\{query\}|\{docs\})", template):
        if part == "{query}":
            out.append(query_col)
        elif part == "{docs}":
            out.append(docs_col)
        elif part:
            out.append(F.lit(part))
    return F.concat(*out)


def build_setwise_examples(
    candidates: DataFrame,
    n_negs: int | None = None,
    seed: int = 929,
    variant: str = "r1",
    id_col: str = "docid",
    text_col: str = "text",
    max_doc_words: int | None = None,
) -> DataFrame:
    """Build (qid, query, n_docs, ground_truth, prompt[, completion]) setwise
    training examples from judged candidates.

    ``candidates``: (qid, query, docid, text, label) with label 1 =
    positive, 0 = negative — the flattened form of the reference datasets'
    positive_passages/negative_passages.

    Per query (create_dataset.py:9-35 semantics, md5-determinized):

    - positive: the md5-min positive ('first' / v0.2's random.choice —
      deterministic here);
    - negatives: ordered by md5, capped at ``n_negs`` (19 for r1/sft, 9 for
      v0.2; v0.2 additionally draws the count from the reference's
      size-weighted distribution via inverse CDF of an md5 uniform);
    - combined list reshuffled by a second md5 order; docs rendered
      ``[i] text`` (v0.2: ``[i]: text``), ground_truth = bracketed
      position of the positive;
    - prompt = system + two newlines + rendered user message (the engine's
      plain-text chat rendering, same as RankR1Comparator);
    - variant 'sft' also emits ``completion`` = '<answer>{gt}</answer>'
      (create_dataset_sft.py:36-39).

    ``max_doc_words``: v0.2 truncates docs to 512 model tokens
    (create_dataset_v0.2.py:43-45); pass a word cap to mirror the clamp
    with the engine's whitespace tokenizer (divergence documented).
    Queries without a positive produce no example.
    """
    if variant not in _VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(_VARIANTS)}")
    system, user, doc_prefix, doc_sep, cap = _VARIANTS[variant]
    if n_negs is None:
        n_negs = cap

    base = candidates.select(
        "qid", "query",
        F.col(id_col).cast("string").alias("docid"),
        F.col(text_col).alias("text"),
        F.col("label").cast("int").alias("label"),
    )
    if max_doc_words is not None:
        base = base.withColumn(
            "text", F.array_join(F.slice(F.split("text", " "), 1, max_doc_words), " ")
        )

    # --- one positive per qid ---------------------------------------------
    w_pos = Window.partitionBy("qid").orderBy(_seed_key("pos", seed, F.col("docid")), "docid")
    pos = (
        base.filter(F.col("label") == 1)
        .withColumn("_rn", F.row_number().over(w_pos))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # --- negative sample: md5 order, capped -------------------------------
    w_neg = Window.partitionBy("qid").orderBy(_seed_key("neg", seed, F.col("docid")), "docid")
    negs = base.filter(F.col("label") == 0).withColumn("_rn", F.row_number().over(w_neg))
    if variant == "r1-v0.2":
        # size-weighted count draw (create_dataset_v0.2.py:36-40): m capped
        # negatives, P(num=n) ∝ n → num = inverse CDF of an md5 uniform:
        # smallest n with n(n+1)/2 ≥ u·m(m+1)/2  ⇒  n = ⌈(−1+√(1+8t))/2⌉
        m = F.least(F.max("_rn").over(Window.partitionBy("qid")), F.lit(cap))
        u = (
            F.conv(F.substring(_seed_key("numneg", seed, F.col("qid")), 1, 7), 16, 10)
            .cast("double") / F.lit(float(1 << 28))
        )
        t = u * (m * (m + F.lit(1)) / F.lit(2.0))
        num = F.ceil((F.sqrt(t * 8 + 1) - 1) / 2)
        negs = negs.withColumn("_num", F.greatest(F.least(num, m), F.lit(1)))
        negs = negs.filter(F.col("_rn") <= F.col("_num")).drop("_num")
    else:
        negs = negs.filter(F.col("_rn") <= n_negs)
    negs = negs.drop("_rn")

    pool = pos.unionByName(negs)
    # only queries with a positive produce an example
    pool = pool.join(pos.select("qid"), "qid", "left_semi")

    # --- mixed order + rendering ------------------------------------------
    w_mix = Window.partitionBy("qid").orderBy(_seed_key("mix", seed, F.col("docid")), "docid")
    prefix_parts = doc_prefix.split("{num}")
    mixed = pool.withColumn("_pos", F.row_number().over(w_mix)).withColumn(
        "_line",
        F.concat(F.lit(prefix_parts[0]), F.col("_pos").cast("string"), F.lit(prefix_parts[1]), F.col("text")),
    )
    agg = mixed.groupBy("qid").agg(
        F.max("query").alias("query"),
        F.count("*").cast("int").alias("n_docs"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("_pos"), F.col("_line")))),
                lambda x: x["_line"],
            ),
            doc_sep,
        ).alias("_docs"),
        F.max(F.when(F.col("label") == 1, F.col("_pos"))).alias("_gt_pos"),
    )
    out = agg.select(
        "qid",
        "query",
        "n_docs",
        F.concat(F.lit("["), F.col("_gt_pos").cast("string"), F.lit("]")).alias("ground_truth"),
        F.concat(
            F.lit(system + "\n\n"), _template_col(user, F.col("query"), F.col("_docs"))
        ).alias("prompt"),
    )
    if variant == "sft":
        out = out.withColumn(
            "completion",
            F.concat(F.lit("<answer>"), F.col("ground_truth"), F.lit("</answer>")),
        )
    return out

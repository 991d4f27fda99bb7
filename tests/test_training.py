"""Training-example constructor (operators/training.py) vs a line-faithful
local port of the reference's add_prefix (Rank-R1/create_dataset.py:9-35).

The reference shuffles with the global random RNG; the operator's documented
divergence replaces every draw with an md5-derived order. The local port
below mirrors add_prefix LINE BY LINE but injects the same md5 orders, so
the rendering/label/prompt logic is asserted exactly.
"""

import hashlib

import pytest

from llm_rankers_spark.operators.model_comparator import RankR1Comparator
from llm_rankers_spark.operators.training import (
    SFT_PROMPT_SYSTEM,
    SFT_PROMPT_USER,
    build_setwise_examples,
)


def _md5_key(seed, role, *parts):
    return hashlib.md5((f"{seed}:{role}:" + ":".join(str(p) for p in parts)).encode()).hexdigest()


def _local_add_prefix(qid, query, positives, negatives, n_negs, seed, system, user):
    """Line-faithful port of add_prefix with md5-injected shuffles.

    positives/negatives: list[(docid, text)].
    """
    # rel_doc = example['positive_passages'][0]  (md5-min stands in for [0])
    pos_sorted = sorted(positives, key=lambda d: (_md5_key(seed, "pos", d[0]), d[0]))
    rel_id, rel_doc = pos_sorted[0]
    # random.shuffle(negative_passages); [:19]
    neg_sorted = sorted(negatives, key=lambda d: (_md5_key(seed, "neg", d[0]), d[0]))
    neg_docs = neg_sorted[:n_negs]
    docs = [(rel_id, rel_doc)] + neg_docs
    labels = [1] + [0] * len(neg_docs)
    # indices = shuffle(range(len)) — md5-mix order over the combined set
    order = sorted(range(len(docs)), key=lambda i: (_md5_key(seed, "mix", docs[i][0]), docs[i][0]))
    docs = [docs[i] for i in order]
    labels = [labels[i] for i in order]
    lines = [f"[{i + 1}] {t}" for i, (_d, t) in enumerate(docs)]
    docs_text = "\n".join(lines)
    ground_truth = f"[{labels.index(1) + 1}]"
    prompt = system + "\n\n" + user.format(query=query, docs=docs_text)
    return ground_truth, prompt, len(docs)


@pytest.fixture()
def judged(spark):
    rows = []
    for qi in range(4):
        qid = f"q{qi}"
        query = f"how to {qi} things"
        for d in range(2):
            rows.append((qid, query, f"p{qi}_{d}", f"positive text {qi} {d}", 1))
        for d in range(25):
            rows.append((qid, query, f"n{qi}_{d:02d}", f"negative text {qi} {d}", 0))
    # one query with no positive: must emit no example
    rows += [("q_neg_only", "orphan", f"n_orph_{d}", f"orphan neg {d}", 0) for d in range(3)]
    return spark.createDataFrame(rows, "qid string, query string, docid string, text string, label int")


def test_r1_examples_match_local_port(spark, judged):
    out = {
        r["qid"]: r
        for r in build_setwise_examples(judged, n_negs=19, seed=929, variant="r1").collect()
    }
    assert "q_neg_only" not in out
    assert len(out) == 4
    rows = judged.collect()
    for qi in range(4):
        qid = f"q{qi}"
        pos = [(r["docid"], r["text"]) for r in rows if r["qid"] == qid and r["label"] == 1]
        neg = [(r["docid"], r["text"]) for r in rows if r["qid"] == qid and r["label"] == 0]
        gt, prompt, n_docs = _local_add_prefix(
            qid, f"how to {qi} things", pos, neg, 19, 929,
            RankR1Comparator.PROMPT_SYSTEM, RankR1Comparator.PROMPT_USER,
        )
        assert out[qid]["ground_truth"] == gt, qid
        assert out[qid]["prompt"] == prompt, qid
        assert out[qid]["n_docs"] == n_docs == 20


def test_ground_truth_points_at_the_positive(spark, judged):
    out = build_setwise_examples(judged, n_negs=19, seed=7, variant="r1")
    import re

    for r in out.collect():
        pos_num = int(re.match(r"\[(\d+)\]", r["ground_truth"]).group(1))
        # the line at that position must be the positive's text
        body = r["prompt"].split("most relevant?\n", 1)[1]
        line = [ln for ln in body.split("\n") if ln.startswith(f"[{pos_num}] ")][0]
        assert "positive text" in line
        # every other doc line is a negative
        doc_lines = [ln for ln in body.split("\n") if re.match(r"^\[\d+\] ", ln)]
        assert len(doc_lines) == r["n_docs"]
        assert sum("positive text" in ln for ln in doc_lines) == 1


def test_sft_variant_emits_completion(spark, judged):
    out = build_setwise_examples(judged, variant="sft").collect()
    for r in out:
        assert r["completion"] == f"<answer>{r['ground_truth']}</answer>"
        assert r["prompt"].startswith(SFT_PROMPT_SYSTEM)
        assert "Please provide only the label" in r["prompt"]
        assert SFT_PROMPT_USER.split("{query}")[0] in r["prompt"]


def test_v02_variant_protocol(spark, judged):
    out = build_setwise_examples(judged, variant="r1-v0.2", seed=11).collect()
    for r in out:
        # v0.2: 1 positive + 1..9 weighted-sampled negatives, "[i]: " prefix,
        # blank-line separator, RankLLM system prompt
        assert 2 <= r["n_docs"] <= 10
        assert r["prompt"].startswith("You are RankLLM")
        assert "Here are the documents:\n[" in r["prompt"]
        assert "]: " in r["prompt"]


def test_v02_doc_word_clamp(spark):
    rows = [("q0", "q", "p0", "w " * 600, 1), ("q0", "q", "n0", "x " * 600, 0)]
    df = spark.createDataFrame(rows, "qid string, query string, docid string, text string, label int")
    out = build_setwise_examples(df, variant="r1-v0.2", max_doc_words=512).collect()[0]
    docs_part = out["prompt"].split("Here are the documents:\n", 1)[1]
    for line in docs_part.split("\n\n"):
        assert len(line.split("]: ", 1)[1].split(" ")) <= 512


def test_seed_changes_the_mix(spark, judged):
    a = {r["qid"]: r["prompt"] for r in build_setwise_examples(judged, seed=1).collect()}
    b = {r["qid"]: r["prompt"] for r in build_setwise_examples(judged, seed=2).collect()}
    assert any(a[q] != b[q] for q in a)
    # determinism: same seed → identical output
    a2 = {r["qid"]: r["prompt"] for r in build_setwise_examples(judged, seed=1).collect()}
    assert a == a2

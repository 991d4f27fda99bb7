"""Tests for the training-pipeline operators: dedup, similarity, textstats,
multimodal plumbing."""

import numpy as np
import pytest

from llm_rankers_spark.operators.dedup import (
    dedup_docids,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
)
from llm_rankers_spark.operators.multimodal import extract_features, fake_decoder, real_decoder
from llm_rankers_spark.operators.similarity import cosine_topk, lsh_topk
from llm_rankers_spark.operators.textstats import (
    bpe_ish_token_count,
    fingerprint,
    language_id,
    quality_features,
    word_count,
)
from tests.fakes import synth_media


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        ("a", base),
        ("b", base),  # exact dup of a
        ("c", base.replace("today", "tomorrow")),  # near dup
        ("d", "import os import sys def main(): return 0"),
        ("e", "completely different content about el gato y la casa en madrid"),
        ("f", "der hund und die katze sind nicht ein problem mit von"),
    ]
    return spark.createDataFrame(rows, "docid string, content string")


def test_dedup_docids(spark):
    df = spark.createDataFrame([("x", 1), ("x", 2), ("y", 3)], "docid string, v int")
    assert dedup_docids(df).count() == 2


def test_dedup_docids_deterministic_across_partitioning(spark):
    # duplicate ids with DIFFERENT content: the kept row must not depend on
    # physical partitioning (round-1 verdict: window ordered by its own key
    # was partition-order-dependent)
    rows = [("x", f"content-{i}") for i in range(20)] + [("y", "only")]
    df = spark.createDataFrame(rows, "docid string, content string")
    picks = set()
    for nparts in (1, 3, 16):
        kept = {(r.docid, r.content) for r in dedup_docids(df.repartition(nparts)).collect()}
        picks.add(frozenset(kept))
        assert len(kept) == 2
    assert len(picks) == 1, "kept row varied with partitioning"


def test_dedup_docids_position_first_wins(spark):
    # explicit position column reproduces the reference's corpus-file order
    # (write_pyserini_corpus.py:21-24 keeps the first occurrence)
    rows = [("x", "first", 0), ("x", "second", 5), ("x", "third", 9), ("y", "solo", 2)]
    df = spark.createDataFrame(rows, "docid string, content string, pos long")
    kept = {(r.docid, r.content) for r in dedup_docids(df.repartition(4), position_col="pos").collect()}
    assert kept == {("x", "first"), ("y", "solo")}


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["ids"] == ["a", "b"]
    assert groups[0]["keep_id"] == "a"


def test_minhash_lsh_finds_near_dups(docs):
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    assert sigs.count() == 6
    cands = minhash_lsh_candidates(sigs, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert ("a", "b") in pairs  # exact dups always collide
    assert ("a", "c") in pairs or ("b", "c") in pairs  # near dup likely caught
    verified = jaccard_pairs(docs.sparkSession.createDataFrame(docs.collect()), cands, shingle_k=3, threshold=0.5)
    vp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert vp[("a", "b")] == pytest.approx(1.0)


def test_minhash_lsh_identical_group_is_linear(spark):
    # 30 identical docs + 1 near-dup: the identical group must produce a
    # representative STAR (29 pairs), not the 435-pair clique, and the
    # near-dup must still reach the group via its representative
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(f"dup{i:02d}", base) for i in range(30)] + [("near", base.replace("today", "tomorrow"))]
    docs = spark.createDataFrame(rows, "docid string, content string")
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(sigs, num_hashes=32, bands=16).collect()}
    group_pairs = {(a, b) for a, b in pairs if a.startswith("dup") and b.startswith("dup")}
    assert group_pairs == {("dup00", f"dup{i:02d}") for i in range(1, 30)}  # star, linear
    assert any("near" in p for p in pairs)  # near-dup caught via the representative


def test_simhash_exact_dups_share_fingerprint(docs):
    sigs = simhash(docs, bits=32)
    fp = {r["id"]: r["simhash"] for r in sigs.collect()}
    assert fp["a"] == fp["b"]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(50):
        v = rng.standard_normal(16)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # planted near-dup of vector 0
    v0 = np.array(rows[0][1])
    vdup = v0 + 1e-3 * rng.standard_normal(16)
    rows.append((999, (vdup / np.linalg.norm(vdup)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(spark, vectors):
    qrows = [("q0", vectors.filter("vec_id = 0").first()["embedding"])]
    q = spark.createDataFrame(qrows, "qid string, qvec array<double>")
    top = cosine_topk(vectors, q, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos"] == pytest.approx(1.0)
    assert top[1]["vec_id"] == 999 and top[1]["cos"] > 0.99


def test_lsh_topk_recalls_planted_neighbor(spark, vectors):
    qrows = [("q0", vectors.filter("vec_id = 0").first()["embedding"])]
    q = spark.createDataFrame(qrows, "qid string, qvec array<double>")
    top = lsh_topk(vectors, q, k=3, n_planes=6, n_tables=6, dim=16).orderBy("rank").collect()
    ids = [r["vec_id"] for r in top]
    assert 0 in ids and 999 in ids  # identical signature in every table


def test_planes_for_corpus_sizing():
    from llm_rankers_spark.operators.similarity import planes_for_corpus

    assert planes_for_corpus(0) == 8
    assert planes_for_corpus(10_000) == 8           # floor
    assert planes_for_corpus(64 * (1 << 20)) == 20  # N/target = 2^20
    assert planes_for_corpus(10**12) == 30          # ceiling


def test_word_and_token_counts(spark):
    df = spark.createDataFrame([("hello world, foo!",)], "content string")
    r = df.select(word_count("content").alias("w"), bpe_ish_token_count("content").alias("t")).collect()[0]
    assert r["w"] == 3
    assert r["t"] == 5  # hello, world, foo + ',' + '!'


def test_quality_features(spark):
    good = "the cat sat on the mat and it was a good day for everyone involved"
    bad = "@@@@ #### $$$$ %%%%"
    df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, content string")
    rows = {r["id"]: r for r in quality_features(df).collect()}
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert rows[2]["alpha_ratio"] == pytest.approx(0.0)


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is good"),
            (2, "el gato que vive en la casa es un animal"),
            (3, "der hund und die katze sind nicht ein problem"),
            (4, "это русский текст"),
            (5, "这是中文文本"),
        ],
        "doc_id long, content string",
    )
    got = {r["id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "ru", 5: "zh"}


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_fingerprint_order_sensitive(spark, hash_fn):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, content string",
    )
    fp = {r["id"]: r["fingerprint"] for r in fingerprint(df, hash_fn=hash_fn).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]  # order matters


def test_multimodal_plumbing(spark):
    media = synth_media(spark, n=12)
    feats = extract_features(media, decoder=fake_decoder)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(len(r["sha256"]) == 64 for r in rows)
    # determinism
    again = {r["media_id"]: r["feature"] for r in extract_features(media, decoder=fake_decoder).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)
    # real decoder is an explicit stub
    with pytest.raises(Exception) as ei:
        extract_features(media, decoder=real_decoder).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_ivf_topk_full_probe_equals_brute_force(spark, vectors):
    from llm_rankers_spark.operators.similarity import cosine_topk, ivf_topk, random_centroids

    cents = random_centroids(16, 8, seed=5)
    qrows = [("q0", vectors.filter("vec_id = 0").first()["embedding"])]
    q = spark.createDataFrame(qrows, "qid string, qvec array<double>")
    # probing every cell makes IVF exhaustive — must equal brute force
    ivf = ivf_topk(vectors, q, cents, k=5, n_probe=8).orderBy("rank").collect()
    brute = cosine_topk(vectors, q, k=5).orderBy("rank").collect()
    assert [r["vec_id"] for r in ivf] == [r["vec_id"] for r in brute]
    for a, b in zip(ivf, brute):
        assert a["cos"] == pytest.approx(b["cos"], abs=1e-12)


def test_ivf_kmeans_recalls_planted_neighbor(spark, vectors):
    from llm_rankers_spark.operators.similarity import ivf_centroids, ivf_topk

    cents = ivf_centroids(vectors, n_centroids=4, sample=64, iters=5)
    assert len(cents) == 4 and len(cents[0]) == 16
    qrows = [("q0", vectors.filter("vec_id = 0").first()["embedding"])]
    q = spark.createDataFrame(qrows, "qid string, qvec array<double>")
    top = ivf_topk(vectors, q, cents, k=3, n_probe=2).orderBy("rank").collect()
    ids = [r["vec_id"] for r in top]
    # vec 0 and its planted near-dup 999 share a cell (cos > 0.999)
    assert 0 in ids and 999 in ids


def test_ivf_assigned_table_reuse(spark, vectors, tmp_path):
    from llm_rankers_spark.operators.similarity import ivf_assign, ivf_topk, random_centroids

    cents = random_centroids(16, 8, seed=5)
    path = str(tmp_path / "ivf_cells")
    ivf_assign(vectors, cents).write.partitionBy("cid").parquet(path)
    assigned = spark.read.parquet(path)
    qrows = [("q0", vectors.filter("vec_id = 0").first()["embedding"])]
    q = spark.createDataFrame(qrows, "qid string, qvec array<double>")
    via_table = ivf_topk(None, q, cents, k=5, n_probe=3, assigned=assigned).orderBy("rank").collect()
    inline = ivf_topk(vectors, q, cents, k=5, n_probe=3).orderBy("rank").collect()
    assert [(r["vec_id"], r["rank"]) for r in via_table] == [(r["vec_id"], r["rank"]) for r in inline]


def test_quantize_roundtrip_error_bound(spark, vectors):
    from llm_rankers_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(vectors)
    rows = q.join(vectors, "vec_id").select("vec_id", "scale", "embedding", "qvec").collect()
    assert len(rows) == vectors.count()
    for r in rows:
        # symmetric scalar quantization: x ≈ q·scale, per-component error <= scale/2
        for orig, qi in zip(r["embedding"], r["qvec"]):
            assert abs(float(orig) - qi * r["scale"]) <= r["scale"] / 2 + 1e-12


def test_quantize_zero_vector(spark):
    from llm_rankers_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    r = quantize_embeddings(df).first()
    assert r["scale"] == 0.0 and list(r["qvec"]) == [0, 0, 0]


def test_media_ops_shuffle_free_by_default(spark):
    # round-3 verdict #5: a map-only media operator must not pay a corpus
    # shuffle
    media = synth_media(spark, n=8)
    plan = extract_features(media, decoder=fake_decoder)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

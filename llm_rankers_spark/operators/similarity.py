"""Embedding similarity search over ``array<float>`` columns.

Two paths, both shuffle-conscious:

- :func:`cosine_topk` — exact brute force: broadcast the (small) query set,
  dot products computed JVM-side with ``zip_with``/``aggregate`` (no Python
  in the hot path), global top-k per query via window. The baseline.
- :func:`lsh_topk` — random-hyperplane LSH: signatures are computed with the
  same JVM-side expressions, candidates meet on equal signature buckets
  (multi-table probing optional), then exact re-scoring within buckets.
  At 10^12 vectors the bucket join replaces the full cross product.

Also :func:`near_duplicate_pairs_exact` — cosine-threshold near-dup pairs
(the embedding leg of the dedup family).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact cosine top-k: (qid, vec_id, rank, cos). Query side broadcast.

    Norms are hoisted BELOW the cross join (round-6): each corpus/query
    vector's norm is computed once per row instead of once per (query,
    vector) pair — with Q queries that removes 2·Q·N of the 3·Q·N
    aggregate-expression evaluations. ``cos`` still divides by exactly
    ``norm(v)·norm(qv)``, so values are bit-identical."""
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")).withColumn(
        "_nv", _norm("v")
    )
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qv")).withColumn(
        "_nq", _norm("qv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cos", _dot("v", "qv") / (F.col("_nv") * F.col("_nq")))
        .select("qid", "vec_id", "cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def planes_for_corpus(n_rows: int, target_bucket: int = 64, lo: int = 8, hi: int = 30) -> int:
    """Sizing rule for ``n_planes`` (round-2 verdict: fixed defaults are a
    non-answer at 10^12 vectors): with ``p`` planes a table has 2^p buckets,
    so expected bucket size is N / 2^p — pick p ≈ log2(N / target_bucket).
    Bounded to [lo, hi]: below 8 buckets are hot even at small N; above 30
    the signature no longer fits comfortable recall at practical n_tables
    (raise n_tables instead when more selectivity is needed)."""
    import math

    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(max(n_rows / max(target_bucket, 1), 2.0)))))


def signature_col(vec_col: str, planes: list[list[float]]):
    """Random-hyperplane signature as a long (bit i = sign of dot with
    plane i) — pure Catalyst expressions."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(F.col(vec_col), plane) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig + bit * F.lit(1 << i).cast("long")
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int | None = 8,
    n_tables: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Recall grows with n_tables; candidates = docs sharing a signature with
    the query in ANY table. Exact cosine re-scoring on candidates only.

    ``n_planes=None`` sizes the signature from the corpus (one count job):
    planes ≈ log2(N / target_bucket) — the fixed default of 8 planes means
    every query meets ~N/256 of the corpus per table, fine at 10^5 rows and
    a non-answer at 10^12 (round-2 verdict)."""
    if n_planes is None:
        n_planes = planes_for_corpus(corpus.count())
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qv"))
    c_sig, q_sig = [], []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=seed + 1000 * t)
        c_sig.append(c.select("vec_id", "v", F.lit(t).alias("table"), signature_col("v", planes).alias("sig")))
        q_sig.append(q.select("qid", "qv", F.lit(t).alias("table"), signature_col("qv", planes).alias("sig")))
    c_all = c_sig[0]
    for d in c_sig[1:]:
        c_all = c_all.unionByName(d)
    q_all = q_sig[0]
    for d in q_sig[1:]:
        q_all = q_all.unionByName(d)
    cands = (
        c_all.join(F.broadcast(q_all), ["table", "sig"])
        .select("qid", "qv", "vec_id", "v")
        .dropDuplicates(["qid", "vec_id"])
    )
    scored = cands.withColumn("cos", _dot("v", "qv") / (_norm("v") * _norm("qv"))).select("qid", "vec_id", "cos")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _sqdist(vec_col, centroid: list[float]):
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec_col, c, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def random_centroids(dim: int, n_centroids: int, seed: int = 42) -> list[list[float]]:
    """Seeded data-independent centroids (unit-normalized gaussians). Lower
    recall than k-means but fully reproducible without touching data —
    which is what makes the IVF entry DuckDB-oracle-checkable."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def kmeans_local(X: "np.ndarray", n_centroids: int, iters: int = 10) -> list[list[float]]:
    """The deterministic k-means kernel shared by :func:`ivf_centroids`
    (Spark sample collect) and the DuckDB oracle generator (same sample
    fetched engine-side): identical input rows → bit-identical centroids.
    Init = first ``n_centroids`` rows; empty clusters keep their previous
    centroid."""
    X = np.asarray(X, dtype=np.float64)
    cents = X[:n_centroids].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents.tolist()


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Driver-side deterministic k-means over a deterministic sample (first
    ``sample`` vectors by id — swap in a stride/TABLESAMPLE for very large
    tables). The returned list feeds :func:`ivf_topk` (and, being plain
    floats, an external oracle)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return kmeans_local(X, n_centroids, iters)


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment — pure Catalyst projection, NO
    shuffle. Returns ``(vec_id, v, cid)``. At 10^9+ vectors this is the
    one-time cost of IVF: write it once per corpus snapshot (ideally
    ``.write.partitionBy("cid")``, which turns each probe into a partition-
    pruned scan) and pass it to :func:`ivf_topk` as ``assigned=`` for every
    subsequent query batch."""
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    c_d = F.array(*[_sqdist(F.col("v"), cent) for cent in centroids])
    return c.withColumn("cid", (F.array_position(c_d, F.array_min(c_d)) - 1).cast("int"))


def ivf_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the ANN scale path beside
    :func:`lsh_topk`: every corpus vector is assigned to its nearest
    centroid (one pass, pure Catalyst expressions); each query probes its
    ``n_probe`` nearest cells and exact-rescoring runs only inside them.
    At 10^9+ vectors the per-query candidate set is ~n_probe/n_centroids of
    the corpus; pass a precomputed/persisted :func:`ivf_assign` table as
    ``assigned=`` to skip the assignment pass per batch.

    Ties (identical distances) break to the lowest centroid index in both
    the assignment (first argmin) and the probe ordering — matching the SQL
    oracle exactly."""
    n_cent = len(centroids)
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("qv"))

    if assigned is None:
        if corpus is None:
            raise ValueError("pass either corpus or assigned")
        assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)

    q_d = F.array(
        *[
            F.struct(_sqdist(F.col("qv"), cent).alias("d"), F.lit(j).alias("j"))
            for j, cent in enumerate(centroids)
        ]
    )
    probes = (
        q.withColumn("pd", F.explode(F.slice(F.array_sort(q_d), 1, min(n_probe, n_cent))))
        .select("qid", "qv", F.col("pd.j").cast("int").alias("cid"))
    )
    cands = assigned.join(probes, "cid").select("qid", "qv", "vec_id", "v")
    scored = cands.withColumn("cos", _dot("v", "qv") / (_norm("v") * _norm("qv"))).select("qid", "vec_id", "cos")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale`` =
    max(|x|)/127, ``qvec[i]`` = round(x_i/scale) ∈ [-127, 127]. Pure
    Catalyst expressions (transform/aggregate), no UDF. At 10^12 vectors
    this is the 4× storage/bandwidth cut that makes the embedding column
    shippable — dequantize with ``x = q·scale``, or score directly as
    ``dot(q1,q2)·s1·s2``. All-zero vectors quantize to zeros with scale 0
    (guarded division). Returns (id, scale, qvec array<tinyint>)."""
    v = F.col(vec_col)
    max_abs = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))), F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = (max_abs / F.lit(127.0)).alias("scale")
    qvec = F.when(max_abs == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(v, lambda x: F.round(x.cast("double") * F.lit(127.0) / max_abs).cast("tinyint"))
    )
    return corpus.select(F.col(id_col).alias("vec_id"), scale, qvec.alias("qvec"))


def near_duplicate_pairs_exact(
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-dup pairs (id_a < id_b, cos ≥ threshold) by self-crossJoin,
    O(N²). Oracle-checkable because it has no hashing."""
    # norm hoisted below the self-crossJoin (round-6): once per vector, not
    # once per O(N²) pair; cos still divides by norm(l)·norm(r) → identical
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "nrm", _norm("v")
    )
    pairs = (
        c.alias("l")
        .crossJoin(c.alias("r"))
        .filter(F.col("l.id") < F.col("r.id"))
        .withColumn(
            "cos",
            _dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm")),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), "cos")
    )
    return pairs

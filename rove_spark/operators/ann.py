"""Similarity search over embedding columns (array<float>).

Engine extras for training-data pipelines:
- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the vector table; dot products are JVM-side
  ``zip_with``/``aggregate`` expressions; per-query rank via window.
  The correctness baseline, and the right plan whenever |queries| is small
  (the table side streams once, no shuffle of vectors).
- ``ivf_topk``: IVF-style scale path — deterministic coarse centroids,
  vectors assigned to their nearest centroid once (inverted lists), a
  query probes only the ``n_probe`` closest lists. Turns the scan side
  from |table| into |table|·n_probe/n_centroids.

Recall note: IVF is approximate — tests measure recall vs brute force and
assert ≥0.8 at n_probe=4 of 8 lists on the testdata embeddings; probing
all lists reproduces brute force exactly (asserted, and the driver query
runs full-probe against the exact-KNN DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_queries: int | None = 1024,
) -> DataFrame:
    """Exact cosine top-k for each query. Queries are broadcast — the big
    vector table never shuffles; ranking shuffles only (query, id, score)
    triples.

    The pre-rank row count is |vectors|·|queries|, which is the RIGHT
    plan only for small query batches — ``max_queries`` makes that
    contract explicit (eagerly counted; the count is one tiny job against
    what is by assumption a small frame). Larger batches should go to
    ``ivf_topk``, whose probed lists keep the scored row count
    sub-linear in |vectors|·|queries|. Raise the bound deliberately if a
    wide brute-force sweep is really intended, or pass
    ``max_queries=None`` to skip the guard (and its eager count job)
    entirely."""
    if max_queries is not None and queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"brute_force_topk got more than max_queries={max_queries} queries; "
            f"the crossJoin would score |vectors|x|queries| rows — route large "
            f"batches to ivf_topk, or raise max_queries explicitly"
        )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(query_vec_col).alias("_qv"),
            _norm(F.col(query_vec_col)).alias("_qn"),
        )
    )
    v = vectors.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vv"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    scored = v.crossJoin(q).select(
        F.col("_qid").alias(query_id_col),
        F.col("_vid").alias(id_col),
        (_dot(F.col("_vv"), F.col("_qv")) / (F.col("_vn") * F.col("_qn"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def build_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    lloyd_iters: int = 5,
    seed: int = 17,
) -> DataFrame:
    """Deterministic spherical k-means quantizer, trained on a bounded
    hash-ordered sample.

    Round-1 version averaged hash-RANDOM buckets once — every centroid
    landed near the global mean and list assignment was arbitrary. Now:
    k-means++ D²-seeding + ``lloyd_iters`` Lloyd rounds (cosine metric,
    centroids renormalized each round; empty clusters reseeded from the
    worst-served point), all on a driver-side numpy sample.

    Scale shape: the sample is a TakeOrdered over xxhash64(id) — a
    bounded, deterministic ~sample_size·dim·8-byte pull regardless of
    table size (the standard way IVF quantizers are trained: on a sample,
    not the corpus). Everything downstream (assignment, probing) stays
    distributed. Determinism: seeded RNG + hash-ordered sample with id
    tiebreak — identical centroids across runs and cluster sizes."""
    import numpy as np

    rows = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
        .orderBy("_h", "_id")
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([list(r._v) for r in rows], dtype=np.float64)
    if len(X) < n_centroids:
        raise ValueError(f"need ≥ {n_centroids} vectors to build {n_centroids} centroids")
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    rng = np.random.default_rng(seed)
    # k-means++ seeding on the unit sphere (D² = 1 - cosine)
    first = int(rng.integers(len(Xn)))
    C = [Xn[first]]
    d2 = 1.0 - Xn @ C[0]
    for _ in range(1, n_centroids):
        p = np.maximum(d2, 0.0)
        tot = float(p.sum())
        nxt = int(np.argmax(p)) if tot <= 0 else int(rng.choice(len(Xn), p=p / tot))
        C.append(Xn[nxt])
        d2 = np.minimum(d2, 1.0 - Xn @ C[-1])
    C = np.stack(C)

    for _ in range(max(0, lloyd_iters)):
        sims = Xn @ C.T
        assign = sims.argmax(axis=1)
        newC = np.zeros_like(C)
        for c in range(n_centroids):
            members = Xn[assign == c]
            if len(members) == 0:
                # reseed from the globally worst-served point
                worst = int(np.argmin(sims.max(axis=1)))
                newC[c] = Xn[worst]
            else:
                m = members.mean(axis=0)
                newC[c] = m / max(float(np.linalg.norm(m)), 1e-12)
        if np.allclose(newC, C):
            C = newC
            break
        C = newC

    spark = vectors.sparkSession
    data = [(i, [float(x) for x in C[i]]) for i in range(n_centroids)]
    return spark.createDataFrame(data, "centroid_id int, centroid array<double>")


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted lists: each vector joins its max-cosine centroid.
    Centroids are tiny → broadcast; one narrow pass over the table."""
    c = F.broadcast(centroids)
    scored = vectors.crossJoin(c).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        cosine(F.col(vec_col), F.col("centroid")).alias("_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.asc("centroid_id"))
    return scored.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1).drop("_r", "_sim")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the n_probe nearest inverted lists per query,
    exact cosine within the probed lists. Pass precomputed ``centroids``
    to skip training the quantizer."""
    if centroids is None:
        centroids = build_ivf_centroids(vectors, n_centroids, id_col, vec_col)
    assigned = assign_to_centroids(vectors, centroids, id_col, vec_col)

    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(query_vec_col).alias("_qv"))
    qc = q.crossJoin(F.broadcast(centroids)).select(
        "_qid", "_qv", "centroid_id", cosine(F.col("_qv"), F.col("centroid")).alias("_sim")
    )
    wq = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("centroid_id"))
    probes = qc.withColumn("_r", F.row_number().over(wq)).filter(F.col("_r") <= n_probe)

    cand = probes.select("_qid", "_qv", "centroid_id").join(
        assigned, on="centroid_id"
    )
    scored = cand.select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qv")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )

"""Similarity search: brute-force exactness (vs numpy), IVF recall vs
brute force, determinism, broadcast plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rove_spark.operators import ann


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _queries(spark, vecs, n=5):
    return (
        vecs.filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


def test_brute_force_matches_numpy(spark, vecs):
    q = _queries(spark, vecs, n=3)
    got = ann.brute_force_topk(vecs, q, k=5).collect()
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in vecs.collect()}
    ids = sorted(V)
    M = np.stack([V[i] / np.linalg.norm(V[i]) for i in ids])
    for qid in range(3):
        qv = V[qid] / np.linalg.norm(V[qid])
        sims = M @ qv
        order = sorted(zip(-sims, ids))[:5]
        expected = [i for _s, i in order]
        mine = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert mine == expected, qid


def test_self_is_top1(spark, vecs):
    q = _queries(spark, vecs, n=5)
    top1 = {r.query_id: r.vec_id for r in ann.brute_force_topk(vecs, q, k=1).collect()}
    assert top1 == {i: i for i in range(5)}


def test_ivf_recall(spark, vecs):
    q = _queries(spark, vecs, n=5)
    bf = ann.brute_force_topk(vecs, q, k=10).collect()
    ivf = ann.ivf_topk(vecs, q, k=10, n_centroids=8, n_probe=4).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(bf_sets[q_] & ivf_sets.get(q_, set())) / 10 for q_ in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.8  # k-means quantizer, half probed
    # probing all lists ⇒ exact
    ivf_all = ann.ivf_topk(vecs, q, k=10, n_centroids=8, n_probe=8).collect()
    all_sets = {}
    for r in ivf_all:
        all_sets.setdefault(r.query_id, set()).add(r.vec_id)
    assert all_sets == bf_sets


def test_broadcast_in_plan(spark, vecs):
    q = _queries(spark, vecs)
    plan = ann.brute_force_topk(vecs, q, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # query side must broadcast, never shuffle vectors


def test_deterministic(spark, vecs):
    q = _queries(spark, vecs)
    a = sorted(map(tuple, ann.ivf_topk(vecs, q, k=5).collect()))
    b = sorted(map(tuple, ann.ivf_topk(vecs, q, k=5).collect()))
    assert a == b


def test_brute_force_guards_large_query_batches(spark):
    """round-2 verdict item 6: the |vectors|x|queries| crossJoin contract
    is enforced, with an explicit opt-out."""
    import pytest
    from pyspark.sql import functions as F

    from rove_spark.operators.ann import brute_force_topk

    vecs = spark.range(5).select(
        F.col("id").alias("vec_id"), F.array(F.rand(1), F.rand(2)).alias("embedding")
    )
    qs = spark.range(40).select(
        F.col("id").alias("query_id"), F.array(F.rand(3), F.rand(4)).alias("query_vec")
    )
    with pytest.raises(ValueError, match="max_queries"):
        brute_force_topk(vecs, qs, k=2, max_queries=10)
    assert brute_force_topk(vecs, qs, k=2, max_queries=100).count() == 80

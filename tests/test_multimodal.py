"""Multimodal plumbing: synthetic assets, deterministic stub features,
integration with ANN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rove_spark.operators import ann, multimodal


@pytest.fixture(scope="module")
def assets(spark):
    return multimodal.synthetic_assets(spark, n=60).cache()


def test_schema_and_determinism(spark, assets):
    kinds = {r.kind for r in assets.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    a = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    b = {
        r.asset_id: bytes(r.payload)
        for r in multimodal.synthetic_assets(spark, n=60).collect()
    }
    assert a == b
    assert all(len(p) == 256 for p in a.values())


def test_features_unit_norm_and_ann_integration(spark, assets):
    feats = multimodal.extract_features(assets)
    rows = feats.collect()
    norms = [float(np.linalg.norm(r.feature)) for r in rows]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)
    # feature table plugs into the ANN operator
    vec_tbl = feats.select(F.col("asset_id").alias("vec_id"), F.col("feature").alias("embedding"))
    q = vec_tbl.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = ann.brute_force_topk(vec_tbl, q, k=1, id_col="vec_id")
    got = {r.query_id: r.vec_id for r in top.collect()}
    assert all(qid == vid for qid, vid in got.items())  # self is nearest

"""Salting: salted two-phase aggregation exactness, and salt spread on
the named hot keys only."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rove_spark.operators.salt import salted_agg, with_salt
from rove_spark.sources.synthetic import synthetic_transcripts


# the two conversations ``_skewed`` makes hot (hot_frac=0.02 of 100)
HOT = ["conv-0", "conv-1"]


def _skewed(spark):
    return synthetic_transcripts(
        spark, n_conv=100, avg_turns=20, hot_frac=0.02, hot_multiplier=60
    )


def test_salted_agg_exact(spark):
    df = _skewed(spark).withColumn("text_len", F.length("text").cast("long"))
    aggs = {
        "n": ("text_len", "count"),
        "s": ("text_len", "sum"),
        "mn": ("text_len", "min"),
        "mx": ("text_len", "max"),
    }
    salted = salted_agg(df, ["conv_id"], aggs, n_salt=8, hot_keys=HOT, sub_key="turn_idx")
    direct = df.groupBy("conv_id").agg(
        F.count("text_len").alias("n"),
        F.sum("text_len").alias("s"),
        F.min("text_len").alias("mn"),
        F.max("text_len").alias("mx"),
    )
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_salt_spreads_hot_only(spark):
    df = _skewed(spark)
    salted = with_salt(df, "conv_id", n_salt=8, hot_keys=HOT, sub_key="turn_idx")
    per = salted.groupBy("conv_id").agg(F.countDistinct("salt").alias("k")).collect()
    got = {r.conv_id: r.k for r in per}
    for h in HOT:
        assert got[h] > 1, h
    assert all(k == 1 for c, k in got.items() if c not in HOT)


def test_with_salt_rejects_missing_sub_key(spark):
    """Non-deterministic default salts (monotonically_increasing_id) are a
    row-loss hazard under task retry — sub_key is now mandatory."""
    df = spark.createDataFrame([("a", 1)], "conv_id string, turn_idx int")
    with pytest.raises(ValueError, match="deterministic sub_key"):
        with_salt(df, "conv_id", n_salt=4, sub_key=None)

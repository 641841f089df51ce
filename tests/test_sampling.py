"""Deterministic sampling: stability across partitioning, fraction
accuracy, stratified fractions, mixture provenance."""

from __future__ import annotations

from pyspark.sql import functions as F

from rove_spark.operators.sampling import hash_sample, stratified_sample


def test_stable_across_partitioning(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    a = {r.event_id for r in hash_sample(ev, ["event_id"], 0.2).select("event_id").collect()}
    b = {
        r.event_id
        for r in hash_sample(ev.repartition(17), ["event_id"], 0.2).select("event_id").collect()
    }
    assert a == b and len(a) > 0


def test_fraction_accuracy(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    n = ev.count()
    k = hash_sample(ev, ["event_id"], 0.25).count()
    assert abs(k / n - 0.25) < 0.02


def test_nested_samples(spark):
    """Same salt ⇒ smaller fraction is a subset (coherent sampling)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    small = {r.event_id for r in hash_sample(ev, ["event_id"], 0.1).collect()}
    big = {r.event_id for r in hash_sample(ev, ["event_id"], 0.3).collect()}
    assert small <= big


def test_stratified(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    out = stratified_sample(
        ev, "event_type", {"error": 1.0, "purchase": 0.1}, key_cols=["event_id"]
    )
    counts = {r.event_type: r.n for r in out.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    orig = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert counts["error"] == orig["error"]  # kept fully
    assert 0.05 < counts["purchase"] / orig["purchase"] < 0.16
    assert set(counts) == {"error", "purchase"}  # default 0 drops the rest

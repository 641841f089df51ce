"""Text-equality digests: equal across the real pipeline; a mutation,
loss, duplication or cross-turn text swap changes the digest of exactly
the conversation it touches."""

from __future__ import annotations

from pyspark.sql import functions as F

from rove_spark.operators.verify import text_checksums
from rove_spark.sources.synthetic import synthetic_transcripts


def _df(spark):
    return synthetic_transcripts(spark, n_conv=15, avg_turns=30)


def _offenders(a, b) -> set[str]:
    """Conversations whose ``text_checksums`` row differs between a and b
    (present on one side only counts as differing)."""
    da = {r.conv_id: tuple(r) for r in text_checksums(a).collect()}
    db = {r.conv_id: tuple(r) for r in text_checksums(b).collect()}
    return {c for c in da.keys() | db.keys() if da.get(c) != db.get(c)}


def test_invariant_holds_through_pipeline(spark):
    from rove_spark.operators import checks
    from rove_spark.operators.signals import derive_signals

    df = _df(spark)
    out = derive_signals(df)
    out = checks.step_check(out, "text_len", max_=500.0)
    out = checks.spike_check(out, "text_len", max_=400.0)
    out = checks.range_check(out, "text_len", min_=0.0, max_=5000.0)
    assert _offenders(df, out) == set()


def test_detects_mutation(spark):
    df = _df(spark)
    bad = df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv-2") & (F.col("turn_idx") == 3),
            F.concat(F.col("text"), F.lit("!")),
        ).otherwise(F.col("text")),
    )
    assert _offenders(df, bad) == {"conv-2"}


def test_detects_row_loss_and_duplication(spark):
    df = _df(spark)
    lost = df.filter(~((F.col("conv_id") == "conv-3") & (F.col("turn_idx") == 5)))
    assert _offenders(df, lost) == {"conv-3"}
    duped = df.unionByName(df.filter((F.col("conv_id") == "conv-4") & (F.col("turn_idx") == 2)))
    assert _offenders(df, duped) == {"conv-4"}


def test_detects_cross_turn_swap(spark):
    schema = "conv_id string, turn_idx int, text string"
    a = spark.createDataFrame([("c", 0, "alpha"), ("c", 1, "beta")], schema)
    b = spark.createDataFrame([("c", 0, "beta"), ("c", 1, "alpha")], schema)
    (ra,), (rb,) = text_checksums(a).collect(), text_checksums(b).collect()
    assert ra.n_turns == rb.n_turns
    assert ra.seq_digest != rb.seq_digest


def test_row_order_of_dataframe_is_irrelevant(spark):
    df = _df(spark)
    shuffled = df.orderBy(F.rand(7))
    assert _offenders(df, shuffled) == set()

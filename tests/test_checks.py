"""Golden per-check fixtures: tiny hand-computed series with expected flag
vectors — the analog of the reference's golden-JSON connector tests
(``/root/reference/met_connectors/src/frost/fetch.rs:231-361``) applied to
check semantics (which rove itself leaves to olympian's out-of-tree suite;
SPEC.md owns the formulas, these tests pin them)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rove_spark.model import Flag
from rove_spark.operators import checks

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _series(spark, values, series="s1"):
    rows = [
        (series, T0 + dt.timedelta(minutes=i), float(v) if v is not None else None)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "conv_id string, ts timestamp, value float")


def _flags(df, col):
    return [r[col] for r in df.orderBy("ts").collect()]


def _with_zeros(df):
    """A second value column, ``zero``, constant 0.0. The checks build
    their expressions once per argument set, so each golden test below
    also checks its frame with a second threshold and on ``zero`` in the
    same plan: a cache key missing an argument would hand one of those
    calls another call's flags."""
    return df.withColumn("zero", F.lit(0.0))


def test_step_check_golden(spark):
    df = _with_zeros(_series(spark, [10.0, 10.5, 13.0, 20.0, None, 8.0]))
    out = checks.step_check(df, "value", max_=5.0, high=2.0)
    out = checks.step_check(out, "value", max_=2.4, high=2.0, out_col="tight")
    out = checks.step_check(out, "zero", max_=5.0, high=2.0, out_col="zero_flag")
    assert _flags(out, "tight") == [
        Flag.INCONCLUSIVE, Flag.PASS, Flag.FAIL, Flag.FAIL, Flag.DATA_MISSING, Flag.DATA_MISSING
    ]
    assert _flags(out, "zero_flag") == [Flag.INCONCLUSIVE] + [Flag.PASS] * 5
    assert _flags(out, "flag_step_check") == [
        Flag.INCONCLUSIVE,  # no previous row
        Flag.PASS,  # |0.5|
        Flag.WARN,  # |2.5| >= high
        Flag.FAIL,  # |7.0| >= max
        Flag.DATA_MISSING,  # value NULL
        Flag.DATA_MISSING,  # previous value NULL
    ]


def test_spike_check_golden(spark):
    df = _with_zeros(_series(spark, [10, 10, 20, 10, 10, 12, 10, None, 10]))
    out = checks.spike_check(df, "value", max_=4.0, high=2.0)
    out = checks.spike_check(out, "value", max_=1.5, high=1.0, out_col="tight")
    out = checks.spike_check(out, "zero", max_=4.0, high=2.0, out_col="zero_flag")
    assert _flags(out, "tight") == [
        Flag.INCONCLUSIVE, Flag.PASS, Flag.FAIL, Flag.PASS, Flag.PASS, Flag.FAIL,
        Flag.DATA_MISSING, Flag.DATA_MISSING, Flag.INCONCLUSIVE,
    ]
    assert _flags(out, "zero_flag") == [Flag.INCONCLUSIVE] + [Flag.PASS] * 7 + [
        Flag.INCONCLUSIVE
    ]
    assert _flags(out, "flag_spike_check") == [
        Flag.INCONCLUSIVE,  # no prev row
        Flag.PASS,  # d1=0 → not a local extremum
        Flag.FAIL,  # deviates ±10 from both neighbors
        Flag.PASS,  # d2=0
        Flag.PASS,
        Flag.WARN,  # ±2 from both neighbors ≥ high
        Flag.DATA_MISSING,  # next value NULL
        Flag.DATA_MISSING,  # value NULL
        Flag.INCONCLUSIVE,  # no next row
    ]


def test_flatline_check_golden(spark):
    df = _with_zeros(_series(spark, [5, 5, 5, 5, 7, 7, 7, 7, None, 7, 7]))
    out = checks.flatline_check(df, "value", max_=3)
    out = checks.flatline_check(out, "value", max_=1, out_col="tight")
    out = checks.flatline_check(out, "zero", max_=3, out_col="zero_flag")
    assert _flags(out, "tight") == [
        Flag.INCONCLUSIVE, Flag.FAIL, Flag.FAIL, Flag.FAIL, Flag.PASS, Flag.FAIL,
        Flag.FAIL, Flag.FAIL, Flag.DATA_MISSING, Flag.PASS, Flag.FAIL,
    ]
    assert _flags(out, "zero_flag") == [Flag.INCONCLUSIVE] * 3 + [Flag.FAIL] * 8
    assert _flags(out, "flag_flatline_check") == [
        Flag.INCONCLUSIVE,  # fewer than max_ preceding rows
        Flag.INCONCLUSIVE,
        Flag.INCONCLUSIVE,
        Flag.FAIL,  # 4th equal value in a row
        Flag.PASS,
        Flag.PASS,
        Flag.PASS,
        Flag.FAIL,
        Flag.DATA_MISSING,  # NULL breaks the run
        Flag.PASS,  # run restarts after NULL
        Flag.PASS,
    ]


def test_range_check_golden(spark):
    df = _with_zeros(_series(spark, [-1, 0, 25, 50, 51, None]))
    out = checks.range_check(df, "value", min_=0.0, max_=50.0)
    out = checks.range_check(out, "value", min_=-5.0, max_=60.0, out_col="wide")
    out = checks.range_check(out, "zero", min_=0.0, max_=50.0, out_col="zero_flag")
    assert _flags(out, "wide") == [Flag.PASS] * 5 + [Flag.DATA_MISSING]
    assert _flags(out, "zero_flag") == [Flag.PASS] * 6
    assert _flags(out, "flag_range_check") == [
        Flag.FAIL,
        Flag.PASS,
        Flag.PASS,
        Flag.PASS,  # bounds inclusive
        Flag.FAIL,
        Flag.DATA_MISSING,
    ]


def test_special_value_check_golden(spark):
    df = _with_zeros(_series(spark, [1.0, -999.0, 0.0, None]))
    out = checks.special_value_check(df, "value", special_values=[-999.0, 0.0])
    out = checks.special_value_check(out, "value", special_values=[1.0], out_col="ones")
    out = checks.special_value_check(
        out, "zero", special_values=[-999.0, 0.0], out_col="zero_flag"
    )
    assert _flags(out, "ones") == [Flag.FAIL, Flag.PASS, Flag.PASS, Flag.DATA_MISSING]
    assert _flags(out, "zero_flag") == [Flag.FAIL] * 4
    assert _flags(out, "flag_special_value_check") == [
        Flag.PASS,
        Flag.FAIL,
        Flag.FAIL,
        Flag.DATA_MISSING,
    ]


def test_range_check_dynamic_golden(spark):
    df = _series(spark, [10.0, 100.0, 50.0]).withColumn(
        "month", __import__("pyspark.sql.functions", fromlist=["month"]).month("ts")
    )
    bounds = spark.createDataFrame([(1, 0.0, 60.0)], "month int, lo double, hi double")
    out = checks.range_check_dynamic(df, "value", bounds, on=["month"])
    assert _flags(out, "flag_range_check_dynamic") == [Flag.PASS, Flag.FAIL, Flag.PASS]
    # missing bounds key → INCONCLUSIVE
    bounds2 = spark.createDataFrame([(2, 0.0, 60.0)], "month int, lo double, hi double")
    out2 = checks.range_check_dynamic(df, "value", bounds2, on=["month"])
    assert _flags(out2, "flag_range_check_dynamic") == [Flag.INCONCLUSIVE] * 3


def test_model_consistency_golden(spark):
    df = _series(spark, [10.0, 20.0, 30.0])
    model = spark.createDataFrame(
        [
            ("s1", T0, 11.0),
            ("s1", T0 + dt.timedelta(minutes=1), 28.0),
        ],
        "conv_id string, ts timestamp, model_value double",
    )
    out = checks.model_consistency_check(
        df, "value", model, on=["conv_id", "ts"], threshold=5.0
    )
    assert _flags(out, "flag_model_consistency_check") == [
        Flag.PASS,  # |10−11| ≤ 5
        Flag.FAIL,  # |20−28| > 5
        Flag.INCONCLUSIVE,  # no model value
    ]


def test_dummy_check(spark):
    df = _series(spark, [1.0, 2.0])
    out = checks.dummy_check(df)
    assert _flags(out, "flag_dummy") == [Flag.INCONCLUSIVE] * 2


def test_constant_data_all_pass(spark):
    """Reference integration-test invariant: constant data ⇒ uniformly PASS
    for every point with full context (``/root/reference/tests/
    integration_test.rs:105-114`` with constant TestDataSource,
    ``src/lib.rs:144-213``)."""
    df = _series(spark, [7.0] * 20)
    out = checks.step_check(df, "value", max_=5.0)
    out = checks.spike_check(out, "value", max_=5.0)
    out = checks.range_check(out, "value", min_=0.0, max_=50.0)
    rows = out.orderBy("ts").collect()
    assert all(r.flag_step_check == Flag.PASS for r in rows[1:])
    assert all(r.flag_spike_check == Flag.PASS for r in rows[1:-1])
    assert all(r.flag_range_check == Flag.PASS for r in rows)

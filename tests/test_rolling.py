"""Rolling z-score check: hand-computed goldens, self-exclusion, and edge
semantics."""

from __future__ import annotations

import datetime as dt

from rove_spark.model import Flag
from rove_spark.operators.rolling import zscore_check

T0 = dt.datetime(2024, 1, 1)


def _series(spark, values, series="s1"):
    rows = [
        (series, T0 + dt.timedelta(minutes=i), float(v) if v is not None else None)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")


def test_zscore_flags_outlier(spark):
    vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 50.0, 10.0]
    df = _series(spark, vals)
    out = zscore_check(df, "value", window_rows=5, threshold=6.0, min_history=3)
    flags = [r.flag_zscore_check for r in out.orderBy("ts").collect()]
    assert flags[6] == Flag.FAIL  # 50.0 vs trailing history
    assert flags[0] == Flag.INCONCLUSIVE and flags[1] == Flag.INCONCLUSIVE
    assert flags[4] == Flag.PASS
    # the point after the spike compares against a window CONTAINING the
    # spike — inflated std means it must not cascade into false FAILs
    assert flags[7] != Flag.FAIL


def test_zscore_null_and_constant(spark):
    df = _series(spark, [5.0, 5.0, 5.0, 5.0, None, 5.0])
    out = zscore_check(df, "value", window_rows=3, threshold=3.0, min_history=2)
    flags = [r.flag_zscore_check for r in out.orderBy("ts").collect()]
    assert flags[4] == Flag.DATA_MISSING
    # constant history → zero variance floored by min_std; equal value → PASS
    assert flags[3] == Flag.PASS


def test_plan_jvm_side(spark):
    df = _series(spark, [1.0, 2.0, 3.0])
    out = zscore_check(df, "value", window_rows=3, threshold=3.0)
    assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()


def test_zscore_large_values_no_ansi_overflow(spark):
    """|value| ~ 3e7 squares past Long.MAX at scale=100 — the decimal
    accumulation domain must stay exact instead of throwing (ANSI mode)."""
    rows = [("s", i, 3.0e7 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "conv_id string, ts long, value double")
    out = zscore_check(
        df, "value", window_rows=8, threshold=4.0, series_col="conv_id", order_cols=("ts",)
    ).collect()
    assert len(out) == 20
    flags = {r.ts: r.flag_zscore_check for r in out}
    assert flags[19] in (0, 1)  # decided, not an exception

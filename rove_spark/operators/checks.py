"""Temporal QC checks — pure Window/column expressions (zero UDFs).

Re-expresses the reference's per-series sliding-window checks
(``/root/reference/src/harness.rs:26-177``) as ``pyspark.sql.Window`` lag/
lead expressions. The reference hand-slices each series and calls olympian
kernels on 2- or 3-point windows (``harness.rs:43-45,70-73``); in Spark the
same semantics are a partitionBy(series).orderBy(ts) window — fully inside
whole-stage codegen, map-side only after one shuffle that all checks share.

Flag attachment follows the reference exactly:
- step_check: window of 2, flag on the *later* point (``harness.rs:58-84``,
  STEP_LEADING_PER_RUN=1/TRAILING=0 at ``harness.rs:12-13``);
- spike_check: window of 3, flag on the *middle* point (``harness.rs:29-57``,
  SPIKE_LEADING=1/TRAILING=1 at ``harness.rs:10-11``);
- threshold pair (high, max): the harness hardcodes ``high = 2.0`` with a
  TODO to make it configurable (``harness.rs:47-48``); we default it to 2.0
  and expose it.

Exact per-point formulas live in olympian (out of tree); SPEC.md §checks
pins our owned semantics, and tests/fixtures encode them as goldens
(SURVEY §2.4 confidence note).

Edge semantics (SPEC.md): a point whose required context *rows* fall outside
the series ⇒ INCONCLUSIVE (the reference simply emits no flag for context
points — batch output keeps the row, so the gap in coverage is explicit);
context row present but value NULL ⇒ DATA_MISSING.

The five window and projection checks build their flag ``Column`` once
per argument set (``operators.util.built_once``); each call only
attaches it to the frame, so planning a pipeline costs a few py4j round
trips per step instead of dozens.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rove_spark.model import Flag, flag_col
from rove_spark.operators.util import built_once

DEFAULT_HIGH = 2.0  # harness.rs:47-48 hardcoded "high" threshold


def _series_window(series_col: str, order_cols: Sequence[str]) -> Window:
    return Window.partitionBy(series_col).orderBy(*order_cols)


def _flag(*branches: tuple[Column, Flag], default: Flag = Flag.PASS) -> Column:
    expr = None
    for cond, fl in branches:
        expr = F.when(cond, F.lit(int(fl))) if expr is None else expr.when(cond, F.lit(int(fl)))
    expr = expr.otherwise(F.lit(int(default))) if expr is not None else F.lit(int(default))
    return expr.cast("tinyint")


def step_check(
    df: DataFrame,
    value_col: str,
    max_: float,
    high: float = DEFAULT_HIGH,
    series_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts",),
    out_col: str | None = None,
) -> DataFrame:
    """|v[i] − v[i−1]| thresholds; flag on the later point.

    FAIL if ≥ max_, WARN if ≥ high, PASS otherwise; INCONCLUSIVE at the
    series head (no previous row); DATA_MISSING if either value is NULL.
    Reference: ``harness.rs:58-84`` (slice 70-71, window of 2 at 73).
    """
    return df.withColumn(
        out_col or flag_col("step_check"),
        _step_flag(value_col, max_, high, series_col, tuple(order_cols)),
    )


@built_once
def _step_flag(value_col, max_, high, series_col, order_cols) -> Column:
    w = _series_window(series_col, order_cols)
    v, pv = F.col(value_col), F.lag(value_col, 1).over(w)
    prev_exists = F.lag(order_cols[0], 1).over(w).isNotNull()
    diff = F.abs(v - pv)
    return _flag(
        (~prev_exists, Flag.INCONCLUSIVE),
        (v.isNull() | pv.isNull(), Flag.DATA_MISSING),
        (diff >= max_, Flag.FAIL),
        (diff >= high, Flag.WARN),
    )


def spike_check(
    df: DataFrame,
    value_col: str,
    max_: float,
    high: float = DEFAULT_HIGH,
    series_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts",),
    out_col: str | None = None,
) -> DataFrame:
    """Local-extremum (dip/spike) check; flag on the middle point of each
    3-window. The point must deviate from BOTH neighbors in the same
    direction: with d1 = v−prev, d2 = v−next, flag when sign(d1)=sign(d2)
    and min(|d1|,|d2|) ≥ threshold. Reference: ``harness.rs:29-57`` (slice
    43-44, window of 3 at 45; olympian calls it dip_check).
    """
    return df.withColumn(
        out_col or flag_col("spike_check"),
        _spike_flag(value_col, max_, high, series_col, tuple(order_cols)),
    )


@built_once
def _spike_flag(value_col, max_, high, series_col, order_cols) -> Column:
    w = _series_window(series_col, order_cols)
    v = F.col(value_col)
    pv, nv = F.lag(value_col, 1).over(w), F.lead(value_col, 1).over(w)
    prev_exists = F.lag(order_cols[0], 1).over(w).isNotNull()
    next_exists = F.lead(order_cols[0], 1).over(w).isNotNull()
    d1, d2 = v - pv, v - nv
    same_sign = (d1 * d2) > 0
    m = F.least(F.abs(d1), F.abs(d2))
    return _flag(
        (~prev_exists | ~next_exists, Flag.INCONCLUSIVE),
        (v.isNull() | pv.isNull() | nv.isNull(), Flag.DATA_MISSING),
        (same_sign & (m >= max_), Flag.FAIL),
        (same_sign & (m >= high), Flag.WARN),
    )


def flatline_check(
    df: DataFrame,
    value_col: str,
    max_: int,
    series_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts",),
    out_col: str | None = None,
) -> DataFrame:
    """Flag a point equal to its preceding ``max_`` consecutive values
    (run length ≥ max_+1 ending at the point). Config exists in the
    reference (``pipeline.rs:91-94``; leading requirement = conf.max,
    ``pipeline.rs:60``) but dispatch falls through (``harness.rs:169-177``)
    — semantics per SPEC.md.

    Run-length via two stacked windows: a change-marker cumulative sum
    assigns run group ids, then row_number within the run = run length.
    NULL breaks a run and flags DATA_MISSING; a point with fewer than
    ``max_`` preceding rows in the series can never FAIL and flags
    INCONCLUSIVE.
    """
    run_grp, run_len, rn, flag = _flatline_stages(value_col, max_, series_col, tuple(order_cols))
    out = (
        df.withColumn("_run_grp", run_grp)
        .withColumn("_run_len", run_len)
        .withColumn("_rn", rn)
        .withColumn(out_col or flag_col("flatline_check"), flag)
    )
    return out.drop("_run_grp", "_run_len", "_rn")


@built_once
def _flatline_stages(value_col, max_, series_col, order_cols) -> tuple[Column, ...]:
    """The three staged columns (run group id, run length, row number),
    then the flag that reads them."""
    w = _series_window(series_col, order_cols)
    v, pv = F.col(value_col), F.lag(value_col, 1).over(w)
    changed = (~v.eqNullSafe(pv)).cast("int")  # IS DISTINCT FROM
    run_grp = F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    wr = Window.partitionBy(series_col, "_run_grp").orderBy(*order_cols)
    flag = _flag(
        (v.isNull(), Flag.DATA_MISSING),
        (F.col("_run_len") >= max_ + 1, Flag.FAIL),
        (F.col("_rn") <= max_, Flag.INCONCLUSIVE),
    )
    return run_grp, F.row_number().over(wr), F.row_number().over(w), flag


def range_check(
    df: DataFrame,
    value_col: str,
    min_: float,
    max_: float,
    out_col: str | None = None,
) -> DataFrame:
    """Stateless bounds check (``pipeline.rs:70-74``; sample [−55, 50] at
    ``sample_pipelines/fresh/TA_PT1H.toml:13-17``). Pure projection — no
    shuffle, fully pushdown-friendly."""
    return df.withColumn(out_col or flag_col("range_check"), _range_flag(value_col, min_, max_))


@built_once
def _range_flag(value_col, min_, max_) -> Column:
    v = F.col(value_col)
    return _flag(
        (v.isNull(), Flag.DATA_MISSING),
        ((v < min_) | (v > max_), Flag.FAIL),
    )


def special_value_check(
    df: DataFrame,
    value_col: str,
    special_values: Sequence[float],
    out_col: str | None = None,
) -> DataFrame:
    """Flag exact sentinel values (``pipeline.rs:65-68``; sample list at
    ``TA_PT1H.toml:8-11``). Stateless projection."""
    return df.withColumn(
        out_col or flag_col("special_value_check"),
        _special_value_flag(value_col, tuple(special_values)),
    )


@built_once
def _special_value_flag(value_col, special_values) -> Column:
    v = F.col(value_col)
    return _flag(
        (v.isNull(), Flag.DATA_MISSING),
        (v.isin(list(special_values)), Flag.FAIL),
    )


def range_check_dynamic(
    df: DataFrame,
    value_col: str,
    bounds: DataFrame,
    on: Sequence[str],
    lo_col: str = "lo",
    hi_col: str = "hi",
    out_col: str | None = None,
) -> DataFrame:
    """Bounds from an external table (climatology analog,
    ``pipeline.rs:76-79``): broadcast-join ``bounds`` on ``on`` keys, then
    range-check against per-key [lo, hi]. Missing bounds ⇒ INCONCLUSIVE.

    The bounds table is small by construction (per series / calendar slot)
    ⇒ explicit ``broadcast()`` so a 100 TB fact side never shuffles."""
    v = F.col(value_col)
    joined = df.join(F.broadcast(bounds), on=list(on), how="left")
    out = joined.withColumn(
        out_col or flag_col("range_check_dynamic"),
        _flag(
            (F.col(lo_col).isNull() | F.col(hi_col).isNull(), Flag.INCONCLUSIVE),
            (v.isNull(), Flag.DATA_MISSING),
            ((v < F.col(lo_col)) | (v > F.col(hi_col)), Flag.FAIL),
        ),
    )
    return out.drop(lo_col, hi_col)


def model_consistency_check(
    df: DataFrame,
    value_col: str,
    model: DataFrame,
    on: Sequence[str],
    threshold: float,
    model_col: str = "model_value",
    out_col: str | None = None,
    broadcast_model: bool = False,
) -> DataFrame:
    """Compare obs against a model field within a threshold
    (``pipeline.rs:124-129``): equi-join on ``on`` (typically series+ts),
    FAIL when |obs − model| > threshold. Model missing ⇒ INCONCLUSIVE.

    The model table is fact-sized (one row per obs slot) ⇒ sort-merge join
    on the shared (series, ts) keys by default; pass broadcast_model=True
    for small models."""
    m = F.broadcast(model) if broadcast_model else model
    v = F.col(value_col)
    joined = df.join(m, on=list(on), how="left")
    out = joined.withColumn(
        out_col or flag_col("model_consistency_check"),
        _flag(
            (F.col(model_col).isNull(), Flag.INCONCLUSIVE),
            (v.isNull(), Flag.DATA_MISSING),
            (F.abs(v - F.col(model_col)) > threshold, Flag.FAIL),
        ),
    )
    return out.drop(model_col)


def dummy_check(df: DataFrame, out_col: str | None = None) -> DataFrame:
    """Pipeline-plumbing check: unconditionally INCONCLUSIVE (the
    reference's ``test*`` hook, ``harness.rs:169-175``)."""
    return df.withColumn(
        out_col or flag_col("dummy"), F.lit(int(Flag.INCONCLUSIVE)).cast("tinyint")
    )

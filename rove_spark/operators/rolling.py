"""Rolling per-series statistics + z-score anomaly check.

Engine extra: the reference's checks compare to fixed thresholds or
spatial neighbors; a rolling z-score compares each point to its own
recent history — the standard self-adaptive variant. Pure window
expressions over a bounded ROWS frame.

Exactness design (same philosophy as rollup.py): the rolling moments are
accumulated in an exact integer domain (configurable fixed-point scale),
so mean/variance derive from integers via one fixed double formula —
bit-identical across engines and partitionings, hence DuckDB-oracle-able.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rove_spark.model import Flag


def _window_moments(df, value_col, frame_lo, frame_hi, series_col, order_cols, scale):
    """Shared exact-integer rolling moments over a ROWS frame: returns
    (df_with_cents, n, mean, var) — the single source of the cross-engine
    exactness-critical arithmetic."""
    w = Window.partitionBy(series_col).orderBy(*order_cols).rowsBetween(frame_lo, frame_hi)
    cents = F.round(F.col(value_col) * scale).cast("long")
    df2 = df.withColumn("_c", cents)
    n = F.count("_c").over(w)
    s = F.sum("_c").over(w)
    # squares accumulate in decimal(38,0): long·long overflows at
    # |value| ≳ 3e7 with scale=100 (Spark 4 ANSI mode throws) while the
    # decimal domain stays EXACT — same integers as DuckDB's HUGEINT, so
    # the double cast below is still bit-identical cross-engine. Bound:
    # exact up to |scaled value| < ~1e18 per point (square < 1e37, well
    # inside 38 digits with headroom for any sane window length).
    sq = F.col("_c").cast("decimal(19,0)") * F.col("_c").cast("decimal(19,0)")
    s2 = F.sum(sq).over(w)
    mean = s.cast("double") / n / scale
    var = (
        (s2.cast("double") - s.cast("double") * s.cast("double") / n)
        / n
        / (scale * scale)
    )
    return df2, n, mean, var


def zscore_check(
    df: DataFrame,
    value_col: str,
    window_rows: int,
    threshold: float,
    min_history: int | None = None,
    min_std: float = 1e-9,
    series_col: str = "conv_id",
    order_cols: Sequence[str] = ("ts",),
    out_col: str = "flag_zscore_check",
) -> DataFrame:
    """Flag points deviating > threshold·σ from their trailing-window mean
    (window EXCLUDES the current point, so the point can't mask itself).
    Fewer than ``min_history`` predecessors ⇒ INCONCLUSIVE; NULL ⇒
    DATA_MISSING."""
    min_history = min_history if min_history is not None else max(2, window_rows // 2)
    df2, n, mean, var = _window_moments(
        df, value_col, -window_rows, -1, series_col, order_cols, scale=100
    )
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.abs(F.col(value_col) - mean) / F.greatest(std, F.lit(min_std))
    flag = (
        F.when(F.col(value_col).isNull(), F.lit(int(Flag.DATA_MISSING)))
        .when((n.isNull()) | (n < min_history), F.lit(int(Flag.INCONCLUSIVE)))
        .when(z > threshold, F.lit(int(Flag.FAIL)))
        .otherwise(F.lit(int(Flag.PASS)))
        .cast("tinyint")
    )
    return df2.withColumn(out_col, flag).drop("_c")

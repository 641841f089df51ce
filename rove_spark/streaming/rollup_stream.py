"""Structured Streaming: continuous tier rollup + stateful streaming QC.

The reference is request-driven batch over "real-time" data — no streaming
operators at all (SURVEY §2.7; Kafka triggering was out-of-scope,
``docs/requirements.md:5``). The engine adds the streaming shape the
production target describes (~35k obs/min, flag latency < 5 min,
``docs/requirements.md:17,24``):

- ``stream_rollup``: readStream → watermark → tumbling-window aggregate
  with the SAME integer-domain stat columns as the batch 1m tier, so a
  streaming 1m tier cascades into the batch 1h/1d tiers unchanged. Late
  data within the watermark updates its window; windows close when the
  watermark passes (append mode = finalized-window semantics).
- ``stream_step_check``, ``stream_spike_check``, ``stream_flatline_check``:
  custom stateful operators on one driver, ``_stream_check``. It sets the
  watermark, projects ``(_sid, _epoch, _v)``, groups by series and runs
  ``applyInPandasWithState``; per call it concatenates the series'
  micro-batch rows, sorts them by ts and hands them, with the series'
  state, to the check's numpy step ``(T, V, state) -> (ts, values,
  flags, new_state)``. State is a few scalars per series (the last row,
  the buffered lookahead pair, the current run), so the first row of a
  micro-batch is checked against the previous batch's rows exactly like
  the batch operator checks against ``lag(1)``. State is partitioned by
  series key — it scales with #series, not rows.

Stream and batch flags agree when each series' rows arrive in ts order
across micro-batches. A row that arrives behind its series' state (late
but inside the watermark) is sorted only within its own micro-batch, so
it is flagged against the later neighbour the state holds, and its
stream flag can differ from the batch flag for that row.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rove_spark.model import Flag
from rove_spark.operators.rollup import _base_aggs, _is_string, _text_len


def stream_rollup(
    stream_df: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    series_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str | None = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    aggs: list | None = None,
) -> DataFrame:
    """Streaming 1m-tier aggregate (schema-compatible with the batch tier:
    same stat columns, ``bucket_ts`` = window start).

    ``aggs`` overrides the transcript-shaped stat columns with caller
    aggregate expressions (aliased Columns) — the streaming machinery
    (watermark, tumbling window, incremental group state) is identical
    for any mergeable aggregate set, which is what lets the driver's
    stream≡batch query reuse the batch 1m oracle's value stats."""
    keys = [F.col(series_col), F.window(F.col(ts_col), window).alias("w")]
    if role_col:
        keys.append(F.col(role_col))
    src = stream_df.withWatermark(ts_col, watermark)
    if aggs is None:  # the batch tier's stats, one definition
        src = src.withColumn("_tl", _text_len(text_col, _is_string(src, text_col)))
        aggs = _base_aggs("_tl", tool_col)
    agg = src.groupBy(*keys).agg(*aggs)
    out_cols = [F.col(series_col), F.col("w.start").alias("bucket_ts")]
    if role_col:
        out_cols.append(F.col(role_col))
    stat_cols = [c for c in agg.columns if c not in {series_col, "w", role_col}]
    return agg.select(*out_cols, *stat_cols)


_STEP_STATE = "last_ts double, last_value double"
# spike needs one row of lookahead: state buffers the not-yet-emittable
# latest point (cur) plus its predecessor (prev)
_SPIKE_STATE = "prev_ts double, prev_value double, cur_ts double, cur_value double"
_FLAT_STATE = "last_value double, run_len long, rn long"


def _present(x) -> bool:
    return x is not None and not math.isnan(x)


def _stream_check(
    stream_df: DataFrame,
    step,
    flag_name: str,
    state_schema: str,
    value_col: str,
    series_col: str,
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """The shared driver of the stateful stream checks. ``step(T, V,
    state)`` gets one series' micro-batch rows sorted by ts (epoch
    seconds ``T``, values ``V`` with NaN for NULL) and the series' state
    tuple (None before its first batch); it returns the rows to emit as
    ``(ts, values, flags)`` arrays plus the state to keep. Flags are
    computed with the same vector arithmetic as the batch check's
    lag/lead frame — no per-row Python (guide §4)."""
    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        chunks = [c for c in pdf_iter if len(c)]
        if not chunks:
            return
        batch = pd.concat(chunks).sort_values("_epoch")
        T = batch["_epoch"].to_numpy(float)
        V = batch["_v"].to_numpy(float)
        ts, values, flags, new_state = step(T, V, state.get if state.exists else None)
        state.update(new_state)
        yield pd.DataFrame(
            {
                "series_id": key[0],
                "ts": pd.to_datetime((ts * 1e6).round().astype("int64"), unit="us"),
                "value": values,
                flag_name: flags.astype(np.int64),
            }
        )

    prepped = (
        stream_df.withWatermark(ts_col, watermark)
        .filter(F.col(ts_col).isNotNull())  # unordered rows cannot be checked
        .select(
            F.col(series_col).cast("string").alias("_sid"),
            (F.unix_micros(F.col(ts_col).cast("timestamp")).cast("double") / 1e6).alias("_epoch"),
            F.col(value_col).cast("double").alias("_v"),
        )
    )
    out_schema = f"series_id string, ts timestamp, value double, {flag_name} long"
    return prepped.groupBy("_sid").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_step_check(
    stream_df: DataFrame,
    value_col: str,
    max_: float,
    high: float = 2.0,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming step_check: SPEC.md semantics, state = the last
    (ts, value) per series, so the first row of a micro-batch is checked
    against the last row of the previous one."""

    def step(T, V, state):
        has_prev = state is not None and state[0] is not None
        prev = np.empty(len(V))
        prev[0] = state[1] if has_prev and state[1] is not None else np.nan
        prev[1:] = V[:-1]
        no_prev = np.zeros(len(V), dtype=bool)
        no_prev[0] = not has_prev
        with np.errstate(invalid="ignore"):
            d = np.abs(V - prev)
            flags = np.select(
                [no_prev, np.isnan(V) | np.isnan(prev), d >= max_, d >= high],
                [
                    int(Flag.INCONCLUSIVE),
                    int(Flag.DATA_MISSING),
                    int(Flag.FAIL),
                    int(Flag.WARN),
                ],
                default=int(Flag.PASS),
            )
        return T, V, flags, (float(T[-1]), float(V[-1]))

    return _stream_check(
        stream_df, step, "flag_step_check", _STEP_STATE, value_col, series_col, ts_col, watermark
    )


def stream_spike_check(
    stream_df: DataFrame,
    value_col: str,
    max_: float,
    high: float = 2.0,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming spike_check: the 3-point window needs one row of
    LOOKAHEAD, so each point is emitted when its successor arrives; state
    buffers (prev, cur) per series across micro-batches. The stream's
    final point stays pending until more data arrives — exactly the batch
    operator's trailing-context INCONCLUSIVE, deferred instead of
    emitted."""

    def step(T, V, state):
        # stitch the buffered (prev, cur) in front of the sorted batch
        p_ts, p_v, c_ts, c_v = state if state is not None else (None,) * 4
        pre = [(t, v) for t, v in ((p_ts, p_v), (c_ts, c_v)) if _present(t)]
        T = np.concatenate([np.asarray([t for t, _ in pre], float), T])
        V = np.concatenate([np.asarray([np.nan if v is None else v for _, v in pre], float), V])
        n = len(T)
        a, b, c = V[:-2], V[1:-1], V[2:]
        missing = np.isnan(a) | np.isnan(b) | np.isnan(c)
        d1, d2 = b - a, b - c
        with np.errstate(invalid="ignore"):
            same_side = d1 * d2 > 0
            m = np.minimum(np.abs(d1), np.abs(d2))
            flags = np.select(
                [missing, same_side & (m >= max_), same_side & (m >= high)],
                [int(Flag.DATA_MISSING), int(Flag.FAIL), int(Flag.WARN)],
                default=int(Flag.PASS),
            )
        # the series' first-ever point has no predecessor: INCONCLUSIVE,
        # emitted once its successor has arrived
        lo = 1
        if n >= 2 and not _present(p_ts):
            lo = 0
            flags = np.concatenate([[int(Flag.INCONCLUSIVE)], flags])
        new_state = (
            float(T[-2]) if n >= 2 else math.nan,
            float(V[-2]) if n >= 2 else math.nan,
            float(T[-1]),
            float(V[-1]),
        )
        return T[lo:-1], V[lo:-1], flags, new_state

    return _stream_check(
        stream_df, step, "flag_spike_check", _SPIKE_STATE, value_col, series_col, ts_col, watermark
    )


def stream_flatline_check(
    stream_df: DataFrame,
    value_col: str,
    max_: int,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming flatline_check (SPEC.md semantics): state carries
    (last_value, current run length, rows seen) per series — constant
    memory, exact continuity across micro-batches. Run lengths are
    computed vectorized (new-run boundaries → running-max start index →
    position in run)."""

    def step(T, V, state):
        last, run0, rn0 = state if state is not None else (None, 0, 0)
        run0, rn0 = int(run0), int(rn0)
        n = len(V)
        prev = np.empty(n)
        prev[0] = last if _present(last) else np.nan
        prev[1:] = V[:-1]
        # a run continues only when both sides are present and equal
        # (NaN != x covers missing rows and the no-last-value start)
        with np.errstate(invalid="ignore"):
            continues = (V == prev) & ~np.isnan(V) & ~np.isnan(prev)
        idx = np.arange(n)
        starts = np.maximum.accumulate(np.where(~continues, idx, -1))
        # starts == -1: still inside the run carried over from state
        run_len = np.where(starts == -1, run0 + idx + 1, idx - starts + 1)
        flags = np.select(
            [np.isnan(V), run_len >= max_ + 1, rn0 + idx + 1 <= max_],
            [int(Flag.DATA_MISSING), int(Flag.FAIL), int(Flag.INCONCLUSIVE)],
            default=int(Flag.PASS),
        )
        final_run = 0 if np.isnan(V[-1]) else int(run_len[-1])
        return T, V, flags, (float(V[-1]), final_run, rn0 + n)

    return _stream_check(
        stream_df,
        step,
        "flag_flatline_check",
        _FLAT_STATE,
        value_col,
        series_col,
        ts_col,
        watermark,
    )

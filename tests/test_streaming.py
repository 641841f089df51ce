"""Structured Streaming: file-source micro-batches with availableNow —
windowed rollup matches the batch tier for finalized windows; stateful
step_check carries state across restarts (cross-batch lag continuity)."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from rove_spark.model import Flag
from rove_spark.operators.rollup import rollup_from_raw
from rove_spark.sources.synthetic import synthetic_transcripts
from rove_spark.streaming.rollup_stream import stream_rollup, stream_step_check

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _run_stream(sdf, out_dir, ckpt):
    """Run to completion; returns the last micro-batch's progress."""
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q.lastProgress


def _state_ops(progress, key: str) -> int:
    return sum(int(op[key]) for op in progress["stateOperators"])


def test_stream_rollup_matches_batch(tmp_path, spark):
    src = tmp_path / "src"
    df = synthetic_transcripts(spark, n_conv=20, avg_turns=40)
    df.write.parquet(str(src))

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    rolled = stream_rollup(stream, watermark="5 minutes")
    _run_stream(rolled, tmp_path / "out", tmp_path / "ckpt")

    got = spark.read.parquet(str(tmp_path / "out"))
    batch = rollup_from_raw(df, "1m")
    # every emitted (finalized) window must equal the batch tier row
    keys = ["conv_id", "bucket_ts", "role"]
    joined = got.alias("s").join(batch.alias("b"), on=keys, how="left")
    n = got.count()
    assert n > 0
    mismatches = joined.filter(
        (F.col("s.n_turns") != F.col("b.n_turns"))
        | (F.col("s.text_len_sum") != F.col("b.text_len_sum"))
        | (F.col("s.text_len_min") != F.col("b.text_len_min"))
        | (F.col("s.text_len_max") != F.col("b.text_len_max"))
        | (F.col("s.n_tool_calls") != F.col("b.n_tool_calls"))
        | F.col("b.n_turns").isNull()
    ).count()
    assert mismatches == 0
    # append mode withholds only windows newer than the watermark
    assert n <= batch.count()


def test_stream_step_check_state_across_restarts(tmp_path, spark):
    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    rows1 = [("c1", t0 + dt.timedelta(minutes=i), 10.0) for i in range(3)]
    rows2 = [
        ("c1", t0 + dt.timedelta(minutes=3), 100.0),  # big step vs batch-1 tail
        ("c1", t0 + dt.timedelta(minutes=4), 100.5),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")  # noqa: E731

    def run_batch(rows, out):
        mk(rows).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema("conv_id string, ts timestamp, value double").parquet(
            str(src)
        )
        flagged = stream_step_check(stream, "value", max_=50.0, high=10.0)
        _run_stream(flagged, out, tmp_path / "ckpt")

    run_batch(rows1, tmp_path / "out")
    run_batch(rows2, tmp_path / "out")

    got = {
        r.ts: r.flag_step_check
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert len(got) == 5
    assert got[t0] == Flag.INCONCLUSIVE  # stream head
    assert got[t0 + dt.timedelta(minutes=1)] == Flag.PASS
    assert got[t0 + dt.timedelta(minutes=2)] == Flag.PASS
    # first row of batch 2 compared against last row of batch 1 via state
    assert got[t0 + dt.timedelta(minutes=3)] == Flag.FAIL
    assert got[t0 + dt.timedelta(minutes=4)] == Flag.PASS


def test_stream_rollup_append_evicts_windows(tmp_path, spark):
    """Append mode closes windows as the watermark passes: over time-ordered
    files read one per micro-batch, evicted + still-held windows equal the
    distinct windows, no row is dropped late, and peak state stays well
    below the window total (state tracks the watermark horizon, not
    history)."""
    n_series, minutes, n_files = 3, 60, 6
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (f"s{k}", t0 + dt.timedelta(minutes=m, seconds=sec), float(m))
        for k in range(n_series)
        for m in range(minutes)
        for sec in (10, 40)
    ]
    schema = "series string, ts timestamp, value double"
    src = tmp_path / "src"
    spark.createDataFrame(rows, schema).repartitionByRange(n_files, "ts").write.parquet(str(src))
    # the file source takes the oldest files first: stamp strictly
    # increasing mtimes in part-index (= time-range) order
    parts = sorted(src.glob("part-*.parquet"))
    base = time.time() - 3600
    for k, f in enumerate(parts):
        os.utime(f, (base + k, base + k))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    tier = stream_rollup(
        stream,
        series_col="series",
        role_col=None,
        watermark="2 minutes",
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum")],
    )
    q = tier.writeStream.format("noop").outputMode("append").trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    progress = q.recentProgress
    assert len(progress) == int(q.lastProgress["batchId"]) + 1  # every batch seen
    assert sum(p["numInputRows"] for p in progress) == len(rows)
    assert sum(p["numInputRows"] > 0 for p in progress) == len(parts)

    windows = n_series * minutes
    held = [_state_ops(p, "numRowsTotal") for p in progress]
    assert sum(_state_ops(p, "numRowsDroppedByWatermark") for p in progress) == 0
    assert sum(_state_ops(p, "numRowsRemoved") for p in progress) + held[-1] == windows
    assert max(held) < windows / 2, held


@pytest.mark.parametrize("mode", ["append"])
def test_stream_rollup_is_streaming_plan(spark, tmp_path, mode):
    df = synthetic_transcripts(spark, n_conv=2, avg_turns=5)
    src = tmp_path / "s"
    df.write.parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    rolled = stream_rollup(stream)
    assert rolled.isStreaming


def test_stream_spike_check_lookahead_across_restarts(tmp_path, spark):
    """Spike needs one row of lookahead: a point is emitted when its
    successor arrives — even when the successor comes in a later
    micro-batch run (state carries prev+cur)."""
    from rove_spark.streaming.rollup_stream import stream_spike_check

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")  # noqa: E731

    def run(rows):
        mk(rows).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema("conv_id string, ts timestamp, value double").parquet(str(src))
        flagged = stream_spike_check(stream, "value", max_=50.0, high=10.0)
        q = (
            flagged.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run([("c1", t0 + dt.timedelta(minutes=i), 10.0) for i in range(3)])  # batch 1
    # batch 2: big spike at minute 3, successor at minute 4 in batch 3
    run([("c1", t0 + dt.timedelta(minutes=3), 100.0)])
    run([("c1", t0 + dt.timedelta(minutes=4), 10.5)])

    got = {r.ts: r.flag_spike_check for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    # minutes 0..3 emitted (4 stays pending until a successor arrives)
    assert set(got) == {t0 + dt.timedelta(minutes=i) for i in range(4)}
    assert got[t0] == Flag.INCONCLUSIVE  # stream head: no predecessor
    assert got[t0 + dt.timedelta(minutes=1)] == Flag.PASS
    assert got[t0 + dt.timedelta(minutes=2)] == Flag.PASS
    assert got[t0 + dt.timedelta(minutes=3)] == Flag.FAIL  # deviates from both


def test_stream_flatline_check(tmp_path, spark):
    from rove_spark.streaming.rollup_stream import stream_flatline_check

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")  # noqa: E731

    def run(rows):
        mk(rows).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema("conv_id string, ts timestamp, value double").parquet(str(src))
        flagged = stream_flatline_check(stream, "value", max_=3)
        q = (
            flagged.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run of 5s split across two batches: the FAIL threshold (run ≥ 4)
    # is crossed by a row in the SECOND batch via carried state
    run([("c1", t0 + dt.timedelta(minutes=i), 5.0) for i in range(3)])
    run([("c1", t0 + dt.timedelta(minutes=3), 5.0), ("c1", t0 + dt.timedelta(minutes=4), 7.0)])

    got = {r.ts: r.flag_flatline_check for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got[t0] == Flag.INCONCLUSIVE
    assert got[t0 + dt.timedelta(minutes=2)] == Flag.INCONCLUSIVE  # rn <= max
    assert got[t0 + dt.timedelta(minutes=3)] == Flag.FAIL  # 4th equal value
    assert got[t0 + dt.timedelta(minutes=4)] == Flag.PASS  # run broken


def test_stream_checks_null_at_batch_boundary_match_batch(tmp_path, spark):
    """A NULL value as the last row of one micro-batch and the first row of
    the next: each stream check's flags over three micro-batches equal
    the batch check's flags on the union of the rows (spike's last row
    per series stays pending, so it is left out). At 1x and 10x rows per
    series, each check's state store holds exactly one row per series
    after the last micro-batch: check state is O(series), not O(rows)."""
    from rove_spark.operators import checks
    from rove_spark.streaming.rollup_stream import stream_flatline_check, stream_spike_check

    t0 = dt.datetime(2024, 1, 1)
    base = {
        "c1": [
            [10.0, 10.0, 10.0, None],
            [None, 10.0, 10.0, 100.0, 10.0, 10.0, None],
            [None, 10.0, 10.0, 10.0, 10.0, 40.0, 10.0],
        ],
        "c2": [[1.0, 1.0, None], [None, 1.0, 20.0, 1.0], [1.0, 1.0, 1.0]],
    }
    schema = "conv_id string, ts timestamp, value double"
    stream_checks = {
        "step_check": lambda s: stream_step_check(s, "value", max_=50.0, high=10.0),
        "spike_check": lambda s: stream_spike_check(s, "value", max_=50.0, high=10.0),
        "flatline_check": lambda s: stream_flatline_check(s, "value", max_=2),
    }
    for scale in (1, 10):
        root = tmp_path / f"x{scale}"
        values = {sid: [part * scale for part in parts] for sid, parts in base.items()}
        batches = [[] for _ in range(3)]
        for sid, parts in values.items():
            i = 0
            for b, part in enumerate(parts):
                for v in part:
                    batches[b].append((sid, t0 + dt.timedelta(minutes=i), v))
                    i += 1
        src = root / "src"
        state_rows = {}
        for rows in batches:
            spark.createDataFrame(rows, schema).write.mode("append").parquet(str(src))
            for name, check in stream_checks.items():
                stream = spark.readStream.schema(schema).parquet(str(src))
                progress = _run_stream(check(stream), root / name, root / f"ckpt_{name}")
                state_rows[name] = _state_ops(progress, "numRowsTotal")
        assert state_rows == dict.fromkeys(stream_checks, len(values)), scale

        union = spark.createDataFrame([r for rows in batches for r in rows], schema)
        batch_checks = {
            "step_check": checks.step_check(union, "value", max_=50.0, high=10.0),
            "spike_check": checks.spike_check(union, "value", max_=50.0, high=10.0),
            "flatline_check": checks.flatline_check(union, "value", max_=2),
        }
        last = {sid: max(ts for s, ts, _ in batches[2] if s == sid) for sid in values}
        for name, out in batch_checks.items():
            want = {
                (r.conv_id, r.ts): (r.value, r[f"flag_{name}"])
                for r in out.collect()
                if name != "spike_check" or r.ts != last[r.conv_id]
            }
            got = {
                (r.series_id, r.ts): (r.value, r[f"flag_{name}"])
                for r in spark.read.parquet(str(root / name)).collect()
            }
            assert got == want, (scale, name)
            assert Flag.DATA_MISSING in {f for _, f in want.values()}, name

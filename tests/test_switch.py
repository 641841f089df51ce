"""DataSwitch routing + spec pushdown; point-in-polygon goldens and
plan-quality assertions (pushdown reaches the parquet scan)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from rove_spark.functions.durations import parse_iso8601
from rove_spark.functions.geo import point_in_polygon
from rove_spark.sources.switch import DataSwitch, SpaceSpec, TimeSpec
from rove_spark.sources.synthetic import synthetic_transcripts

SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
TRIANGLE = [(0.0, 0.0), (4.0, 0.0), (0.0, 4.0)]


def test_point_in_polygon_golden(spark):
    pts = [
        (1, 5.0, 5.0, True),  # center
        (2, 15.0, 5.0, False),  # right of square
        (3, -1.0, 5.0, False),
        (4, 9.999, 9.999, True),
        (5, 5.0, 10.5, False),
    ]
    df = spark.createDataFrame([(i, x, y) for i, x, y, _ in pts], "id int, x double, y double")
    got = {r.id: r.inside for r in df.withColumn("inside", point_in_polygon("x", "y", SQUARE)).collect()}
    assert got == {i: e for i, x, y, e in pts}
    # triangle: hypotenuse boundary behavior is half-open but interior exact
    df2 = spark.createDataFrame([(1, 1.0, 1.0), (2, 3.0, 3.0)], "id int, x double, y double")
    got2 = {r.id: r.inside for r in df2.withColumn("inside", point_in_polygon("x", "y", TRIANGLE)).collect()}
    assert got2 == {1: True, 2: False}


def test_switch_routing_and_specs(spark):
    sw = DataSwitch()
    sw.register("transcripts", lambda: synthetic_transcripts(spark, n_conv=10, avg_turns=30))
    with pytest.raises(KeyError, match="InvalidDataSource"):
        sw.fetch("nope")

    full = sw.fetch("transcripts")
    ids = sw.fetch("transcripts", space_spec=SpaceSpec.one("conv-1", "conv-2"))
    assert {r.conv_id for r in ids.select("conv_id").distinct().collect()} == {"conv-1", "conv-2"}

    lo = dt.datetime(2024, 1, 2)
    hi = dt.datetime(2024, 1, 3)
    tfilt = sw.fetch("transcripts", time_spec=TimeSpec(lo, hi))
    rows = tfilt.agg(F.min("ts"), F.max("ts")).first()
    assert rows[0] >= lo and rows[1] <= hi
    assert tfilt.count() < full.count()


def test_switch_context_widening(spark):
    """Leading/trailing context widens the fetched range by k·resolution
    (fetch.rs:199-209 analog)."""
    src = synthetic_transcripts(spark, n_conv=5, avg_turns=50)
    sw = DataSwitch()
    sw.register("t", lambda: src)
    t0 = src.agg(F.min("ts")).first()[0]
    lo = t0 + dt.timedelta(minutes=10)
    hi = t0 + dt.timedelta(minutes=20)
    base = sw.fetch("t", time_spec=TimeSpec(lo, hi, parse_iso8601("PT1M")))
    widened = sw.fetch(
        "t", time_spec=TimeSpec(lo, hi, parse_iso8601("PT1M")), num_leading=10, num_trailing=5
    )
    bmin, bmax = base.agg(F.min("ts"), F.max("ts")).first()
    wmin, wmax = widened.agg(F.min("ts"), F.max("ts")).first()
    assert wmin < bmin and wmin >= lo - dt.timedelta(minutes=10)
    assert wmax >= bmax


def test_polygon_spec(spark):
    from rove_spark.operators.spatial import with_synthetic_coords_portable

    sw = DataSwitch()
    sw.register(
        "t",
        lambda: with_synthetic_coords_portable(
            synthetic_transcripts(spark, n_conv=50, avg_turns=5)
        ),
    )
    box = [(8.0, 58.0), (9.5, 58.0), (9.5, 61.0), (8.0, 61.0)]  # (lon, lat)
    inside = sw.fetch("t", space_spec=SpaceSpec.poly(box))
    rows = inside.select("lon", "lat").collect()
    assert 0 < len(rows)
    assert all(8.0 <= r.lon <= 9.5 for r in rows)


def test_time_pushdown_reaches_parquet(tmp_path, spark):
    """P1 parity: the time predicate must appear in PushedFilters of the
    parquet scan, not as a post-scan filter only."""
    synthetic_transcripts(spark, n_conv=5, avg_turns=20).write.parquet(str(tmp_path / "t"))
    sw = DataSwitch()
    sw.register("t", lambda: spark.read.parquet(str(tmp_path / "t")))
    out = sw.fetch("t", time_spec=TimeSpec(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "ts" in plan.split("PushedFilters:")[1][:200]


def test_declared_resolution_filter(spark):
    """P4 (fetch.rs:31-37): series declaring a resolution different from
    the requested grid are dropped; equivalence is semantic (PT1H ==
    PT60M); unparseable or NULL declarations are mismatches; sources
    without the metadata column are untouched."""
    src = synthetic_transcripts(spark, n_conv=8, avg_turns=20)
    declared = (
        F.when(F.col("conv_id").isin("conv-0", "conv-1"), F.lit("PT1H"))
        .when(F.col("conv_id") == "conv-2", F.lit("PT60M"))  # equivalent
        .when(F.col("conv_id") == "conv-3", F.lit("PT10M"))  # mismatch
        .when(F.col("conv_id") == "conv-4", F.lit("garbage"))  # unparseable
        .otherwise(F.lit(None).cast("string"))  # undeclared
    )
    tagged = src.withColumn("declared_resolution", declared)
    sw = DataSwitch()
    sw.register("t", lambda: tagged)
    lo, hi = tagged.agg(F.min("ts"), F.max("ts")).first()
    spec = TimeSpec(lo, hi, parse_iso8601("PT1H"))
    got = {
        r.conv_id
        for r in sw.fetch("t", time_spec=spec).select("conv_id").distinct().collect()
    }
    assert got == {"conv-0", "conv-1", "conv-2"}
    # no resolution requested -> no filtering
    all_ids = sw.fetch("t", time_spec=TimeSpec(lo, hi)).select("conv_id").distinct().count()
    assert all_ids == 8
    # source without the metadata column -> untouched
    sw.register("bare", lambda: src)
    assert sw.fetch("bare", time_spec=spec).select("conv_id").distinct().count() == 8


def test_cold_source_routes_and_prunes(tmp_path, spark):
    """Spec-aware cold-tier source (round 6): a DataSwitch fetch over an
    aged window decodes EXACTLY the requested rows from the chunk table,
    and the day/series pruning happens on the CHUNK SCAN (before the
    Python decode — partition filters visible in the plan), mirroring
    the reference connectors' spec pushdown."""
    from rove_spark.operators.rollup import cold_source, retention_compact
    from rove_spark.operators.signals import derive_signals
    from rove_spark.sources.tables import PartitionedTable

    df = derive_signals(synthetic_transcripts(spark, n_conv=8, avg_turns=40))
    raw_df = df.select("conv_id", "ts", "text_len").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    raw = PartitionedTable(tmp_path / "raw", ["day"])
    raw.overwrite_partitions(raw_df)
    days = raw.partition_days()
    assert len(days) >= 3
    cutoff = days[-1]  # compact everything but the newest day
    expected = sorted(
        (r.conv_id, r.ts, float(r.text_len))
        for r in raw.read(spark)
        .filter(F.col("day") == days[0])
        .select("conv_id", F.date_trunc("second", "ts").cast("timestamp").alias("ts"), "text_len")
        .collect()
    )
    chunks = PartitionedTable(tmp_path / "cold", ["day"])
    retention_compact(spark, raw, chunks, cutoff, value_col="text_len")

    sw = DataSwitch()
    sw.register("cold_raw", cold_source(spark, chunks, value_col="text_len"))
    d0 = dt.datetime.strptime(days[0], "%Y-%m-%d")
    fetched = sw.fetch(
        "cold_raw",
        TimeSpec(d0, d0 + dt.timedelta(days=1) - dt.timedelta(seconds=1)),
        series_col="series_id",
    )
    got = sorted(
        (r.series_id, r.ts, float(r.text_len))
        for r in fetched.filter(~F.col("is_gap")).collect()
    )
    assert got == expected

    # pruning gate: the chunk scan must carry a day partition filter —
    # only ONE day partition is read, not the whole archive
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan

    # series pruning via a One-spec reaches the chunk scan too
    sid = expected[0][0]
    one = sw.fetch(
        "cold_raw",
        TimeSpec(d0, d0 + dt.timedelta(days=1) - dt.timedelta(seconds=1)),
        SpaceSpec.one(sid),
        series_col="series_id",
    )
    got_one = {r.series_id for r in one.collect()}
    assert got_one == {sid}


def test_cold_source_receives_widened_range(tmp_path, spark):
    """Context widening must reach the spec-aware source: a fetch whose
    leading context crosses a day boundary still gets the prior day's
    edge rows (the source prunes on the WIDENED spec)."""
    from rove_spark.functions.durations import parse_iso8601
    from rove_spark.operators.rollup import cold_source, retention_compact
    from rove_spark.operators.signals import derive_signals
    from rove_spark.sources.tables import PartitionedTable

    df = derive_signals(synthetic_transcripts(spark, n_conv=8, avg_turns=40))
    raw_df = df.select("conv_id", "ts", "text_len").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    raw = PartitionedTable(tmp_path / "raw", ["day"])
    raw.overwrite_partitions(raw_df)
    days = raw.partition_days()
    chunks = PartitionedTable(tmp_path / "cold", ["day"])
    retention_compact(spark, raw, chunks, days[-1], value_col="text_len")

    sw = DataSwitch()
    sw.register("cold_raw", cold_source(spark, chunks, value_col="text_len"))
    # window starts at midnight of day 2; 24 hours of leading context
    # belong to day 1 — only reachable if the widened spec prunes
    d1 = dt.datetime.strptime(days[1], "%Y-%m-%d")
    res = parse_iso8601("PT1H")
    wide = sw.fetch(
        "cold_raw",
        TimeSpec(d1, d1 + dt.timedelta(hours=2), resolution=res),
        num_leading=24,
        series_col="series_id",
    )
    prior_day_rows = wide.filter(F.col("ts") < F.lit(d1)).count()
    assert prior_day_rows > 0


def test_plain_variadic_source_never_receives_specs(spark):
    """Spec routing is an explicit opt-in: a plain source that happens to
    accept arguments (variadic lambda) must NOT be handed the specs."""
    df = synthetic_transcripts(spark, n_conv=2, avg_turns=5)
    seen = []

    def plain(*args, **kwargs):
        seen.append(args)
        return df

    sw = DataSwitch()
    sw.register("p", plain)
    t0 = dt.datetime(2024, 1, 1)
    sw.fetch("p", TimeSpec(t0, t0 + dt.timedelta(days=400))).count()
    assert seen == [()]  # called with no arguments

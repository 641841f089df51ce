"""Rollup tier tests: cascade exactness (1m→1h→1d ≡ direct-from-raw)
and retention expiry. north_rule: "matching the
reference's rolled-up points at each retention tier" — exactness is the
contract, achieved by keeping additive stats in the integer domain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rove_spark.operators.rollup import (
    build_tiers,
    retention_compact,
    rollup_from_raw,
)
from rove_spark.sources.synthetic import synthetic_transcripts
from rove_spark.sources.tables import PartitionedTable


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_cascade_equals_direct(spark):
    df = synthetic_transcripts(spark, n_conv=30, avg_turns=60, period_s=60)
    tiers = build_tiers(df)
    direct_1h = rollup_from_raw(df, "1h")
    direct_1d = rollup_from_raw(df, "1d")
    assert _canon(tiers["1h"]) == _canon(direct_1h)
    assert _canon(tiers["1d"]) == _canon(direct_1d)


def test_tier_totals_consistent(spark):
    df = synthetic_transcripts(spark, n_conv=20, avg_turns=40)
    tiers = build_tiers(df)
    n_raw = df.count()
    for name, t in tiers.items():
        assert t.agg(F.sum("n_turns")).first()[0] == n_raw, name


def test_flag_densities_rolled_up(spark):
    from rove_spark.operators import checks

    df = synthetic_transcripts(spark, n_conv=10, avg_turns=40)
    df = df.withColumn("text_len", F.length("text").cast("float"))
    df = checks.step_check(df, "text_len", max_=500.0, series_col="conv_id", order_cols=["ts"])
    tiers = build_tiers(df, checks=["step_check"])
    total_fail = tiers["1d"].agg(F.sum("n_fail_step_check")).first()[0]
    direct_fail = df.filter(F.col("flag_step_check") == 1).count()
    assert total_fail == direct_fail
    assert total_fail > 0  # synthetic anomalies must trip the check


def test_retention_expiry(tmp_path, spark):
    df = synthetic_transcripts(spark, n_conv=10, avg_turns=50)
    t1d = build_tiers(df)["1d"].withColumn("day", F.date_format("bucket_ts", "yyyy-MM-dd"))
    table = PartitionedTable(tmp_path / "tier_1d", ["day"])
    table.overwrite_partitions(t1d)
    days = sorted(r.day for r in t1d.select("day").distinct().collect())
    assert len(days) >= 2
    cutoff = days[1]
    dropped = table.expire_days_before(cutoff)
    assert dropped >= 1
    remaining = table.read(spark).select("day").distinct().collect()
    assert all(str(r.day) >= cutoff for r in remaining)
    # manifest recorded the expiry
    assert any(s["operation"] == "drop_partitions" for s in table.snapshots)


def test_retention_rejects_malformed_cutoff(tmp_path, spark):
    """Day partitions compare as strings, chronological only for
    YYYY-MM-DD: "2024-1-5" would expire every day up to 2024-09-30.
    Both retention entry points refuse such a cutoff and drop nothing."""
    df = synthetic_transcripts(spark, n_conv=5, avg_turns=20)
    t1d = build_tiers(df)["1d"].withColumn("day", F.date_format("bucket_ts", "yyyy-MM-dd"))
    table = PartitionedTable(tmp_path / "tier_1d", ["day"])
    table.overwrite_partitions(t1d)
    days = table.partition_days()
    for bad in ("2024-1-5", "2024-01-5", "2024-13-01", "2024-01-01T00:00", ""):
        with pytest.raises(ValueError, match="YYYY-MM-DD"):
            table.expire_days_before(bad)
        with pytest.raises(ValueError, match="YYYY-MM-DD"):
            retention_compact(
                spark, table, PartitionedTable(tmp_path / "cold", ["day"]), bad,
                value_col="n_turns",
            )
    assert table.partition_days() == days
    assert not (tmp_path / "cold").exists()


def test_hll_sketches_cascade(spark):
    """Mergeable distinct sketches: the 1d tier's unioned sketch estimates
    the same distinct count as direct aggregation from raw."""
    from rove_spark.operators.rollup import (
        rollup_cascade,
        rollup_from_raw,
        with_sketch_estimates,
    )

    df = synthetic_transcripts(spark, n_conv=40, avg_turns=60)
    t1m = rollup_from_raw(df, "1m", role_col=None, sketch_cols={"tools": "tool"})
    t1h = rollup_cascade(t1m, "1h", role_col=None)
    t1d = rollup_cascade(t1h, "1d", role_col=None)
    est = with_sketch_estimates(t1d).select("conv_id", "bucket_ts", "tools_distinct")
    direct = df.groupBy(
        "conv_id", F.date_trunc("day", "ts").alias("bucket_ts")
    ).agg(F.count_distinct("tool").alias("true_distinct"))
    joined = est.join(direct, on=["conv_id", "bucket_ts"])
    rows = joined.collect()
    assert rows
    # HLL is exact at these tiny cardinalities (≤ 8 tool names)
    assert all(r.tools_distinct == r.true_distinct for r in rows)


def test_histogram_merge_is_exact(spark):
    """Histogram tier stat: hourly histograms merged into daily equal the
    daily histogram built directly from raw — exact mergeable-sketch
    semantics; read-time quantile lands in the right bin."""
    from pyspark.sql import functions as F

    from rove_spark.operators.rollup import (
        histogram_agg,
        histogram_quantile,
        merge_histograms,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lo, hi, bins = 0.0, 160.0, 16
    h1h = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bts")).agg(
        histogram_agg("value", lo, hi, bins).alias("hist")
    )
    daily = h1h.withColumn("day", F.date_trunc("day", "bts")).drop("bts")
    merged = {
        (r.user_id, r.day): tuple(r.hist)
        for r in merge_histograms(daily, ["user_id", "day"], "hist").collect()
    }
    direct = {
        (r.user_id, r.day): tuple(r.hist)
        for r in ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(histogram_agg("value", lo, hi, bins).alias("hist"))
        .collect()
    }
    assert merged == direct

    q = (
        ev.groupBy("user_id")
        .agg(histogram_agg("value", lo, hi, bins).alias("hist"))
        .select("user_id", histogram_quantile("hist", 0.5, lo, hi, bins).alias("p50"))
        .collect()
    )
    import numpy as np

    vals = {}
    for r in ev.select("user_id", "value").collect():
        if r.value is not None:
            vals.setdefault(r.user_id, []).append(r.value)
    width = (hi - lo) / bins
    for r in q:
        true_med = float(np.median(vals[r.user_id]))
        assert abs(r.p50 - true_med) <= width, (r.user_id, r.p50, true_med)


def test_onepass_equals_cascade(spark):
    """GROUPING SETS one-pass strategy (round 6) must reproduce the
    cascade's tiers EXACTLY — per tier, per row, with flag counts."""
    from rove_spark.operators.checks import range_check, step_check
    from rove_spark.operators.rollup import build_tiers_onepass
    from rove_spark.operators.signals import derive_signals

    df = derive_signals(synthetic_transcripts(spark, n_conv=25, avg_turns=50))
    flagged = step_check(df, "text_len", max_=500.0)
    flagged = range_check(flagged, "text_len", min_=0.0, max_=5000.0)
    chk = ["step_check", "range_check"]
    tiers = build_tiers(
        flagged, checks=chk, text_len_source="text_len", tool_col="tool"
    )
    one = build_tiers_onepass(
        flagged, checks=chk, text_len_source="text_len", tool_col="tool"
    )
    for name in ("1m", "1h", "1d"):
        a = _canon(tiers[name])
        b = _canon(one.filter(F.col("tier") == name).drop("tier"))
        assert a == b, name
    tiers["1m"].unpersist()


def test_onepass_no_role_column(spark):
    from rove_spark.operators.rollup import build_tiers_onepass

    df = synthetic_transcripts(spark, n_conv=5, avg_turns=20)
    one = build_tiers_onepass(df, role_col=None, tool_col=None)
    tiers = build_tiers(df, role_col=None, tool_col=None)
    for name in ("1m", "1h", "1d"):
        assert _canon(tiers[name]) == _canon(
            one.filter(F.col("tier") == name).drop("tier")
        ), name
    tiers["1m"].unpersist()


def test_topk_merge_exact_under_cap(spark):
    """Heavy-hitters tier sketch: when no child bucket truncates
    (cardinality <= cap), merging hour summaries to a day equals the
    direct day summary EXACTLY — same contract as the histogram tier."""
    from rove_spark.operators.rollup import merge_topk, topk_summary

    df = synthetic_transcripts(spark, n_conv=12, avg_turns=50, period_s=60)
    hour = df.withColumn("h", F.date_trunc("hour", "ts")).withColumn(
        "d", F.date_trunc("day", "ts")
    )
    hourly = topk_summary(hour, ["conv_id", "d", "h"], "role", cap=8)
    merged = merge_topk(hourly, ["conv_id", "d"], cap=8)
    direct = topk_summary(hour, ["conv_id", "d"], "role", cap=8)

    def canon(frame):
        ex = frame.select(
            "conv_id", "d", F.posexplode("topk").alias("rank", "p")
        ).select("conv_id", "d", "rank", "p.k", "p.c")
        return sorted(tuple(r) for r in ex.collect())

    assert canon(merged) == canon(direct)


def test_topk_deterministic_tiebreak(spark):
    from rove_spark.operators.rollup import topk_summary

    df = spark.createDataFrame(
        [("g", "b"), ("g", "a"), ("g", "c"), ("g", "a")], "grp string, k string"
    )
    out = topk_summary(df, ["grp"], "k", cap=2).collect()[0]["topk"]
    assert [(p["k"], p["c"]) for p in out] == [("a", 2), ("b", 1)]  # count desc, key asc


def test_topk_truncation_undercount_bound(spark):
    """Planted overflow: a key absent from a truncated child summary
    under-counts by at most that child's smallest surviving count, and
    the dominant key always survives."""
    from rove_spark.operators.rollup import merge_topk, topk_summary

    # child A: big=5, x1..x3 = 2 each (cap 2 keeps big + x1);
    # child B: big=5, tail=2 (no truncation at cap 2)
    rows = [("A", "big")] * 5 + [("A", "x1")] * 2 + [("A", "x2")] * 2 + [("A", "x3")] * 2
    rows += [("B", "big")] * 5 + [("B", "tail")] * 2
    df = spark.createDataFrame(rows, "child string, k string")
    child = topk_summary(df, ["child"], "k", cap=2)
    merged = merge_topk(child.withColumn("all", F.lit(1)), ["all"], cap=4).collect()[0]["topk"]
    got = {p["k"]: p["c"] for p in merged}
    assert got["big"] == 10  # dominant key exact and present
    # surviving non-dominant counts under-count true counts by <= the
    # cap-th count of the child they were truncated from (here: exact
    # for x1/tail since they survived their own child)
    true = {"x1": 2, "x2": 2, "x3": 2, "tail": 2}
    for k, c in got.items():
        if k != "big":
            assert c <= true[k] and true[k] - c <= 2


def _vsum_pairs(frame, keys):
    ex = frame.select(*keys, F.posexplode("vsum").alias("pos", "p")).select(
        *keys, "pos", "p.v", "p.c"
    )
    return sorted(tuple(r) for r in ex.collect())


def test_value_summary_merge_exact_under_cap(spark):
    """Value-exact quantile tier sketch: when no group's distinct-value
    cardinality exceeds the cap, merging hour summaries to a day equals
    the direct day summary EXACTLY (identical support, integer count
    sums) — the histogram/top-k exactness contract."""
    from rove_spark.operators.rollup import merge_value_summaries, value_summary

    df = synthetic_transcripts(spark, n_conv=12, avg_turns=50, period_s=60)
    hour = (
        df.withColumn("h", F.date_trunc("hour", "ts"))
        .withColumn("d", F.date_trunc("day", "ts"))
        .withColumn("tl", F.length("text"))
    )
    hourly = value_summary(hour, ["conv_id", "d", "h"], "tl", cap=512)
    merged = merge_value_summaries(hourly, ["conv_id", "d"], cap=512)
    direct = value_summary(hour, ["conv_id", "d"], "tl", cap=512)
    assert _vsum_pairs(merged, ["conv_id", "d"]) == _vsum_pairs(direct, ["conv_id", "d"])


def test_summary_quantiles_equal_percentile_disc(spark):
    """In the exact regime, summary_quantiles ≡ percentile_disc over the
    raw rows (rank = ceil(p·n/100), smallest value with cum ≥ rank)."""
    from rove_spark.operators.rollup import summary_quantiles, value_summary

    df = synthetic_transcripts(spark, n_conv=8, avg_turns=40, period_s=60)
    raw = df.withColumn("d", F.date_trunc("day", "ts")).withColumn(
        "tl", F.length("text").cast("long")
    )
    vs = value_summary(raw, ["conv_id", "d"], "tl", cap=1024)
    got = {
        (r["conv_id"], r["d"]): (r["n_values"], r["p25"], r["p50"], r["p99"])
        for r in summary_quantiles(vs, ["conv_id", "d"], [25, 50, 99]).collect()
    }
    expect = {}
    for r in raw.select("conv_id", "d", "tl").collect():
        expect.setdefault((r["conv_id"], r["d"]), []).append(r["tl"])
    assert set(got) == set(expect)
    for k, vals in expect.items():
        vals.sort()
        n = len(vals)
        want = (n,) + tuple(vals[(n * p + 99) // 100 - 1] for p in (25, 50, 99))
        assert got[k] == want, (k, got[k], want)


def test_value_summary_compression_bounds(spark):
    """Planted overflow (m=20 distinct > cap=5): ≤ cap entries survive,
    total count is preserved, the maximum value survives, cumulative
    counts AT kept values equal the true raw CDF (rank queries never
    drift), and each kept value's absorbed span is one stride — so a
    quantile displaces upward by at most one kept-gap."""
    from rove_spark.operators.rollup import summary_quantiles, value_summary

    # values 0..19, value v occurring v+1 times (distinct counts, n=210)
    rows = [(("g",) + (v,)) for v in range(20) for _ in range(v + 1)]
    df = spark.createDataFrame(rows, "grp string, x long")
    vs = value_summary(df, ["grp"], "x", cap=5)
    pairs = [(p["v"], p["c"]) for p in vs.collect()[0]["vsum"]]
    assert len(pairs) == 5  # ceil(20/5)=4 stride -> positions 4,8,12,16,20
    assert pairs[-1][0] == 19  # max always survives
    assert sum(c for _, c in pairs) == 210  # total count preserved
    # cumulative counts at kept values == true CDF at those values
    true_cdf = {v: sum(w + 1 for w in range(v + 1)) for v in range(20)}
    cum = 0
    for v, c in pairs:
        cum += c
        assert cum == true_cdf[v], (v, cum, true_cdf[v])
    # rank-exact quantiles: reported value's CDF interval contains the
    # target rank, and displacement vs true disc quantile <= one kept-gap
    q = summary_quantiles(vs, ["grp"], [50, 90]).collect()[0]
    raw_sorted = sorted(x for _, x in rows)
    kept_vals = [v for v, _ in pairs]
    for p in (50, 90):
        target = (210 * p + 99) // 100
        got_v = q[f"p{p}"]
        true_v = raw_sorted[target - 1]
        assert got_v in kept_vals
        assert got_v >= true_v  # only upward displacement
        nxt = {kept_vals[i]: kept_vals[i + 1] for i in range(len(kept_vals) - 1)}
        prev = {kept_vals[i + 1]: kept_vals[i] for i in range(len(kept_vals) - 1)}
        # true value lies in (previous kept, got] — one kept-gap bound
        assert true_v > prev.get(got_v, -1)


def test_value_summary_merge_associative_total(spark):
    """Under compression, merging in any grouping preserves the total
    count and the surviving maximum (the invariants reads rely on)."""
    from rove_spark.operators.rollup import merge_value_summaries, value_summary

    rows = [("c%d" % (i % 4), i % 37) for i in range(400)]
    df = spark.createDataFrame(rows, "child string, x long")
    child = value_summary(df, ["child"], "x", cap=6)
    merged = merge_value_summaries(
        child.withColumn("all", F.lit(1)), ["all"], cap=6
    ).collect()[0]["vsum"]
    assert len(merged) <= 6
    assert sum(p["c"] for p in merged) == 400
    assert merged[-1]["v"] == 36


# ------------------------------------------------------- realtime view --


def _hour_floor(dt):
    return dt.replace(minute=0, second=0, microsecond=0)


def test_realtime_tier_equals_direct(spark):
    """The read-time freshness contract: materialized(< boundary) ∪
    fresh-from-raw(>= boundary) ≡ the tier built over ALL raw, bit-exact
    (integer-domain stats; an aligned boundary means no straddling
    bucket)."""
    from rove_spark.operators.rollup import realtime_tier, rollup_from_raw

    df = synthetic_transcripts(spark, n_conv=25, avg_turns=50, period_s=60)
    mn, mx = df.agg(F.min("ts"), F.max("ts")).first()
    b = _hour_floor(mn + (mx - mn) / 2)
    mat = rollup_from_raw(df.where(F.col("ts") < F.lit(b)), "1h")
    view = realtime_tier(mat, df, "1h", b)
    assert _canon(view) == _canon(rollup_from_raw(df, "1h"))


def test_realtime_tier_clips_overrun_materialization(spark):
    """A tier table that already ingested part of the tail must not
    double-count: the materialized side is clipped to < boundary, so
    even a FULLY materialized table composes exactly."""
    from rove_spark.operators.rollup import realtime_tier, rollup_from_raw

    df = synthetic_transcripts(spark, n_conv=15, avg_turns=40, period_s=60)
    mn, mx = df.agg(F.min("ts"), F.max("ts")).first()
    b = _hour_floor(mn + (mx - mn) / 2)
    mat_all = rollup_from_raw(df, "1h")  # overruns the watermark
    view = realtime_tier(mat_all, df, "1h", b)
    assert _canon(view) == _canon(mat_all)


def test_realtime_tier_rejects_unaligned_boundary(spark):
    """An unaligned boundary splits one bucket across both sides and
    double-counts it — named error, not silent wrongness."""
    import datetime

    import pytest

    from rove_spark.operators.rollup import realtime_tier, rollup_from_raw

    df = synthetic_transcripts(spark, n_conv=3, avg_turns=10, period_s=60)
    mn = df.agg(F.min("ts")).first()[0]
    b = _hour_floor(mn) + datetime.timedelta(seconds=30)
    mat = rollup_from_raw(df, "1h")
    with pytest.raises(ValueError, match="not aligned"):
        realtime_tier(mat, df, "1h", b)
    with pytest.raises(ValueError, match="unknown tier"):
        realtime_tier(mat, df, "5m", _hour_floor(mn))
    # a datetime.date is the natural daily watermark: day-aligned by
    # definition, accepted (not AttributeError'd) for every tier
    realtime_tier(mat, df, "1h", mn.date() + datetime.timedelta(days=1))
    with pytest.raises(TypeError, match="boundary"):
        realtime_tier(mat, df, "1h", "2025-01-01")


def test_realtime_tier_custom_rollup_fn(spark):
    """rollup_fn override: a caller-shaped tier frame (different keys /
    stats) composes through the same boundary split."""
    from rove_spark.operators.rollup import realtime_tier

    df = synthetic_transcripts(spark, n_conv=10, avg_turns=30, period_s=60)

    def agg_fn(frame):
        return frame.groupBy(
            "conv_id", F.date_trunc("minute", "ts").alias("bucket_ts")
        ).agg(F.count(F.lit(1)).alias("n"))

    mn, mx = df.agg(F.min("ts"), F.max("ts")).first()
    b = _hour_floor(mn + (mx - mn) / 2)
    mat = agg_fn(df.where(F.col("ts") < F.lit(b)))
    view = realtime_tier(mat, df, "1m", b, rollup_fn=agg_fn)
    assert _canon(view) == _canon(agg_fn(df))


# ---------------------------------------------------- tier-routed reads --


def test_route_range_cover_disjoint_aligned():
    """route_range's three invariants on a fully mixed range: segments
    are contiguous (disjoint + cover [start, end) in time order), every
    tier segment is aligned to its level's grid, and the cover is
    MAXIMAL (a coarser bucket never hides inside a finer segment)."""
    import datetime as dt

    from rove_spark.operators.rollup import _TIER_FLOORS, _TIER_WIDTHS, route_range

    start = dt.datetime(2025, 1, 3, 1, 1, 30)
    end = dt.datetime(2025, 1, 7, 2, 5, 15)
    segs = route_range(start, end)
    assert [lv for lv, *_ in segs] == ["raw", "1m", "1h", "1d", "1h", "1m", "raw"]
    cur = start
    for lv, a, b in segs:
        assert a == cur and a < b, (lv, a, b)
        cur = b
        if lv != "raw":
            assert _TIER_FLOORS[lv](a) == a and _TIER_FLOORS[lv](b) == b
        else:  # maximality: no whole aligned 1m bucket fits inside [a, b)
            lo = a if _TIER_FLOORS["1m"](a) == a else _TIER_FLOORS["1m"](a) + _TIER_WIDTHS["1m"]
            assert lo + _TIER_WIDTHS["1m"] > b, (a, b)
    assert cur == end
    # degenerate and single-level shapes
    assert route_range(start, start) == []
    assert [lv for lv, *_ in route_range(start, end, levels=("1m",))] == [
        "raw", "1m", "raw",
    ]
    aligned = route_range(dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 3))
    assert aligned == [("1d", dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 3))]


def test_range_aggregate_equals_direct(spark):
    """The routing contract: combining 1d-interior + 1h/1m-edge tier rows
    + raw slivers under the cascade's suffix rules ≡ the direct raw
    aggregate over [start, end), bit-exact."""
    import datetime as dt

    from rove_spark.operators.rollup import range_aggregate

    df = synthetic_transcripts(spark, n_conv=20, avg_turns=80, period_s=1800)
    tiers = build_tiers(df)
    mn, mx = df.agg(F.min("ts"), F.max("ts")).first()
    day0 = mn.replace(hour=0, minute=0, second=0, microsecond=0)
    start = day0 + dt.timedelta(days=1, hours=1, minutes=1, seconds=30)
    end = mx.replace(hour=0, minute=0, second=0, microsecond=0) + dt.timedelta(
        hours=2, minutes=5, seconds=15
    )
    assert start < end, "fixture must span enough days for a mixed route"
    got = range_aggregate(df, tiers, start, end)
    sliced = df.where((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
    want = (
        rollup_from_raw(sliced, "1d")
        .drop("bucket_ts")
        .groupBy("conv_id", "role")
        .agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("text_len_sum").alias("text_len_sum"),
            F.min("text_len_min").alias("text_len_min"),
            F.max("text_len_max").alias("text_len_max"),
            F.sum("n_tool_calls").alias("n_tool_calls"),
        )
    )
    assert _canon(got) == _canon(want)


def test_range_aggregate_partial_tiers_and_empty(spark):
    """A deployment with only a 1m tier routes over what it has (raw
    slivers widen); an empty range returns a typed empty frame; unknown
    tier keys raise."""
    import datetime as dt

    import pytest

    from rove_spark.operators.rollup import range_aggregate

    df = synthetic_transcripts(spark, n_conv=10, avg_turns=40, period_s=1800)
    tiers = build_tiers(df)
    mn, mx = df.agg(F.min("ts"), F.max("ts")).first()
    start = mn.replace(minute=0, second=0, microsecond=0) + dt.timedelta(
        hours=2, seconds=30
    )
    end = start + dt.timedelta(days=2, hours=3, minutes=7, seconds=45)
    only_1m = range_aggregate(df, {"1m": tiers["1m"]}, start, end)
    full = range_aggregate(df, tiers, start, end)
    assert _canon(only_1m) == _canon(full)
    assert range_aggregate(df, tiers, start, start).count() == 0
    with pytest.raises(ValueError, match="unknown tier keys"):
        range_aggregate(df, {"5m": tiers["1m"]}, start, end)


def test_route_range_property():
    """Property fuzz (hypothesis): for ANY range and ANY coarse→fine level
    subset, route_range returns a contiguous cover of [start, end) whose
    tier segments are grid-aligned and whose cover is maximal — no
    coarser whole bucket hides inside a finer segment or sliver."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rove_spark.operators.rollup import _TIER_FLOORS, _TIER_WIDTHS, route_range

    base = dt.datetime(2024, 1, 1)
    subsets = [s for i in range(8) if (s := tuple(
        lv for b, lv in zip((i & 4, i & 2, i & 1), ("1d", "1h", "1m")) if b
    )) or i == 0]

    @settings(max_examples=300, deadline=None)
    @given(
        a=st.integers(0, 40 * 86400 * 10**6),
        span=st.integers(0, 10 * 86400 * 10**6),
        levels=st.sampled_from(subsets),
    )
    def check(a, span, levels):
        start = base + dt.timedelta(microseconds=a)
        end = start + dt.timedelta(microseconds=span)
        segs = route_range(start, end, levels=levels)
        cur = start
        finest = levels[-1] if levels else None
        for lv, s, e in segs:
            assert s == cur and s < e
            cur = e
            if lv == "raw":
                if finest is not None:
                    w, fl = _TIER_WIDTHS[finest], _TIER_FLOORS[finest]
                    lo = s if fl(s) == s else fl(s) + w
                    assert lo + w > e, (s, e)  # no whole finest bucket inside
            else:
                fl = _TIER_FLOORS[lv]
                assert fl(s) == s and fl(e) == e
                # maximality upward: no whole coarser bucket inside this one
                idx = levels.index(lv)
                if idx > 0:
                    cw, cf = _TIER_WIDTHS[levels[idx - 1]], _TIER_FLOORS[levels[idx - 1]]
                    lo = s if cf(s) == s else cf(s) + cw
                    assert lo + cw > e, (lv, s, e)
        assert cur == end

    check()

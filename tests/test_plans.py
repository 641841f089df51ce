"""Physical-plan quality gates: the properties that keep the engine fast
at 100 TB, asserted on `.explain` output so regressions fail loudly.

- predicate pushdown + column pruning reach the parquet scan;
- checks/rollups stay inside whole-stage codegen (no Python eval);
- small dimension joins broadcast;
- the temporal check stack shares ONE sort/exchange;
- grouped-UDF stages keep explicit parallel partitioning;
- dedup and the tier sketches keep their shuffle and aggregate counts.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from rove_spark.operators import checks
from rove_spark.operators.rollup import rollup_from_raw
from rove_spark.sources.synthetic import synthetic_transcripts


@pytest.fixture(scope="module")
def parquet_transcripts(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "transcripts")
    synthetic_transcripts(spark, n_conv=20, avg_turns=30).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_drops_text(spark, parquet_transcripts):
    """A projection that only needs text_len must not read the text bytes:
    ReadSchema is the contract (length() is computed post-scan, so we
    project length at write... here: reading only 3 of 6 columns)."""
    df = spark.read.parquet(parquet_transcripts).select("conv_id", "ts", "role")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema
    assert "conv_id" in read_schema


def test_filter_pushdown_on_series(spark, parquet_transcripts):
    df = spark.read.parquet(parquet_transcripts).filter(F.col("conv_id") == "conv-3")
    plan = _plan(df)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "conv_id" in pushed and "EqualTo" in pushed


def test_check_stack_shares_one_sort(spark, parquet_transcripts):
    """step+spike+flatline all use partitionBy(conv_id).orderBy(ts) — the
    physical plan must contain exactly one exchange and one sort for the
    whole stack (flatline adds one more for its run-group window)."""
    df = spark.read.parquet(parquet_transcripts).withColumn(
        "v", F.length("text").cast("float")
    )
    out = checks.step_check(df, "v", max_=5.0)
    out = checks.spike_check(out, "v", max_=5.0)
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning(conv_id") == 1
    assert plan.count("Sort [") == 1


def test_checks_have_no_python_eval(spark, parquet_transcripts):
    df = spark.read.parquet(parquet_transcripts).withColumn("v", F.length("text").cast("float"))
    out = checks.step_check(df, "v", max_=5.0)
    out = checks.spike_check(out, "v", max_=5.0)
    out = checks.flatline_check(out, "v", max_=3)
    out = checks.range_check(out, "v", min_=0.0, max_=100.0)
    out = checks.special_value_check(out, "v", special_values=[1.0])
    assert "EvalPython" not in _plan(out)


def test_rollup_has_partial_aggregation(spark, parquet_transcripts):
    """Tier aggregation must be partial+final hash agg (map-side combine):
    two HashAggregate nodes around the exchange."""
    df = spark.read.parquet(parquet_transcripts)
    tier = rollup_from_raw(df, "1m")
    plan = _plan(tier)
    assert plan.count("HashAggregate") >= 2
    assert "EvalPython" not in plan


def test_dynamic_range_broadcasts_bounds(spark, parquet_transcripts):
    df = spark.read.parquet(parquet_transcripts).withColumn("v", F.length("text").cast("float"))
    bounds = spark.createDataFrame(
        [("user", 0.0, 100.0)], "role string, lo double, hi double"
    )
    out = checks.range_check_dynamic(df, "v", bounds, on=["role"])
    assert "BroadcastHashJoin" in _plan(out)


def test_grouped_udf_keeps_parallel_partitioning(spark, parquet_transcripts):
    """The explicit repartition before grouped pandas UDFs must survive in
    the plan (AQE byte-based coalescing would serialize the stage)."""
    from rove_spark.operators.gorilla import compress_series

    df = spark.read.parquet(parquet_transcripts).withColumn("v", F.length("text").cast("float"))
    chunks = compress_series(df, "v")
    plan = _plan(chunks)
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan or "hashpartitioning" in plan
    assert "FlatMapGroupsInPandas" in plan


def test_bucketed_layout_eliminates_exchange(spark, parquet_transcripts, tmp_path):
    """write_bucketed (Iceberg bucket+sort-order analog): per-series window
    checks on the bucketed table must have NO exchange, and flags must
    equal the plain-path flags exactly."""
    from rove_spark.sources.tables import write_bucketed

    df = spark.read.parquet(parquet_transcripts).withColumn(
        "v", F.length("text").cast("float")
    )
    spark.sql("DROP TABLE IF EXISTS t_bucketed_test")
    write_bucketed(df, "t_bucketed_test", n_buckets=4)
    bt = spark.table("t_bucketed_test")

    out_b = checks.step_check(bt, "v", max_=50.0)
    plan = _plan(out_b)
    assert "Exchange" not in plan

    out_p = checks.step_check(df, "v", max_=50.0)
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    got_b = {key(r): r.flag_step_check for r in out_b.collect()}
    got_p = {key(r): r.flag_step_check for r in out_p.collect()}
    assert got_b == got_p
    spark.sql("DROP TABLE IF EXISTS t_bucketed_test")


def test_onepass_tiers_plan_shape(spark, parquet_transcripts, tmp_path):
    """build_tiers_onepass on the bucketed layout (round 6): exactly ONE
    exchange — the tier-row partial shuffle after Expand (which hides
    the scan's partitioning from the planner) — a partial+final
    HashAggregate pair around it, and zero Python stages."""
    from rove_spark.operators.rollup import build_tiers_onepass
    from rove_spark.sources.tables import write_bucketed

    df = spark.read.parquet(parquet_transcripts).withColumn(
        "v", F.length("text").cast("float")
    )
    spark.sql("DROP TABLE IF EXISTS t_bucketed_onepass")
    write_bucketed(df, "t_bucketed_onepass", n_buckets=4)
    bt = spark.table("t_bucketed_onepass")
    flagged = checks.step_check(bt, "v", max_=50.0)
    one = build_tiers_onepass(flagged, checks=["step_check"], text_len_source="v")
    plan = _plan(one)
    # exactly ONE real shuffle (the docstring's contract): count shuffle
    # Exchange nodes precisely — \b excludes BroadcastExchange, and AQE
    # reads (AQEShuffleRead) don't match — so a regression that adds a
    # second repartition can't hide inside a loose <= bound
    shuffles = re.findall(
        r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
        plan,
    )
    assert len(shuffles) == 1, plan
    assert "Expand" in plan
    assert "partial" in plan  # map-side combine before the shuffle
    assert "FlatMapGroupsInPandas" not in plan and "BatchEvalPython" not in plan
    spark.sql("DROP TABLE IF EXISTS t_bucketed_onepass")


def test_tpch_shipping_join_shapes(spark):
    """With auto-broadcast OFF (as it effectively is when the tables are
    100 TB), the EXPLICIT broadcast hint on the customer dim must survive,
    and the large orders ⋈ lineitem join must be a shuffle join — i.e. we
    hinted the dim and correctly left the fact join to the planner."""
    from rove_spark.plans.driver_queries import q_tpch_shipping

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(q_tpch_shipping(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan  # explicit hint on customer
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_tpch_region_volume_all_dims_broadcast(spark):
    """Star rollup: every dim join broadcasts; the fact table never
    shuffles for a join (the only exchange is the final groupBy)."""
    from rove_spark.plans.driver_queries import q_tpch_region_volume

    plan = _plan(q_tpch_region_volume(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_skew_salted_agg_two_phase(spark):
    """Salted agg: phase 1 partial-aggregates on (key, salt) — the plan
    must show an exchange keyed by BOTH before the final de-salt agg."""
    from rove_spark.plans.driver_queries import q_skew_salted_agg

    plan = _plan(q_skew_salted_agg(spark, "/root/testdata/sf0.001"))
    assert "salt" in plan and plan.count("HashAggregate") >= 4  # partial+final × 2 phases


def test_realtime_tier_pushes_tail_filter_into_scan(spark, parquet_transcripts):
    """realtime_tier's fresh side filters raw on ts >= boundary with the
    literal cast to the column's type (not the column cast to the
    literal's): the predicate must reach the parquet scan as a
    GreaterThanOrEqual PushedFilter, so at 100 TB the tail aggregation
    reads only the unmaterialized suffix, never history."""
    from rove_spark.operators.rollup import realtime_tier, rollup_from_raw

    raw = spark.read.parquet(parquet_transcripts)
    mn = raw.agg(F.min("ts")).first()[0]
    boundary = mn.replace(minute=0, second=0, microsecond=0)
    mat = rollup_from_raw(raw.where(F.col("ts") < F.lit(boundary)), "1h")
    view = realtime_tier(mat, raw, "1h", boundary)
    plan = _plan(view)
    pushed = [
        line.split("PushedFilters:")[1]
        for line in plan.splitlines()
        if "PushedFilters:" in line
    ]
    assert any(
        "GreaterThanOrEqual(ts" in p for p in pushed
    ), f"tail predicate not pushed: {pushed}"


def test_range_aggregate_prunes_every_scan(spark, parquet_transcripts, tmp_path):
    """range_aggregate over PARQUET tier tables: every segment's bucket
    bounds must reach its tier scan as PushedFilters, and the raw scan
    must carry the sliver bounds — at 100 TB the interior days are read
    from O(days) 1d-tier rows while the raw table contributes only
    sub-minute edge slivers, never history."""
    import datetime as dt

    from rove_spark.operators.rollup import build_tiers, range_aggregate

    raw = spark.read.parquet(parquet_transcripts)
    paths = {}
    for lv, frame in build_tiers(raw).items():
        paths[lv] = str(tmp_path / f"tier_{lv}")
        frame.write.parquet(paths[lv])
    tiers = {lv: spark.read.parquet(p) for lv, p in paths.items()}
    mn, mx = raw.agg(F.min("ts"), F.max("ts")).first()
    start = mn.replace(hour=0, minute=0, second=0, microsecond=0) + dt.timedelta(
        days=1, hours=1, minutes=1, seconds=30
    )
    end = mx.replace(hour=0, minute=0, second=0, microsecond=0) + dt.timedelta(
        hours=2, minutes=5, seconds=15
    )
    assert start < end
    plan = _plan(range_aggregate(raw, tiers, start, end))
    pushed = [
        line.split("PushedFilters:")[1]
        for line in plan.splitlines()
        if "PushedFilters:" in line and "IsNotNull" in line
    ]
    bucket_scans = [p for p in pushed if "GreaterThanOrEqual(bucket_ts" in p]
    raw_scans = [p for p in pushed if "GreaterThanOrEqual(ts" in p]
    # 1d interior + 2×1h edges + 2×1m edges = 5 tier-scan segments, each
    # with BOTH bounds pushed; 2 raw slivers likewise
    assert len(bucket_scans) == 5, f"tier scans missing pushed bounds: {pushed}"
    assert all("LessThan(bucket_ts" in p for p in bucket_scans), bucket_scans
    assert len(raw_scans) == 2, f"raw slivers missing pushed bounds: {pushed}"
    assert all("LessThan(ts" in p for p in raw_scans), raw_scans


def test_relational_buddy_has_no_python_stages(spark, parquet_transcripts):
    """The single-iteration buddy path (round 5) is whole-JVM: no
    ArrowEval/FlatMapGroupsInPandas stages, and neighbor moments come
    from a hash aggregate over the pair join."""
    from rove_spark.operators.spatial import buddy_check, with_synthetic_coords_portable

    df = spark.read.parquet(parquet_transcripts).select(
        "conv_id", "ts", F.length("text").cast("double").alias("tl")
    )
    located = with_synthetic_coords_portable(df)
    out = buddy_check(
        located, "tl", radius=30000, num_min=2, threshold=3.0, cell_deg=0.5
    )
    plan = _plan(out)
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
    # the kernel path, by contrast, IS a grouped pandas stage
    kern = _plan(
        buddy_check(
            located, "tl", radius=30000, num_min=2, threshold=3.0,
            cell_deg=0.5, force_kernel=True,
        )
    )
    assert "FlatMapGroupsInPandas" in kern


SHUFFLE = r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)"
PYTHON = r"\b\w+(?:InPandas|EvalPython)\b"


def _minhash_lsh_join(spark, transcripts):
    """LSH candidates over stored signatures: banding is a narrow
    Generate, the self-join on (band, band-hash) shuffles the band rows,
    and the pair distinct adds one exchange on the pair keys."""
    from rove_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.createDataFrame(
        [(i, [(i * 7919 + k * 104729) % 1000 for k in range(64)]) for i in range(50)],
        "doc_id long, minhash array<bigint>",
    )
    expected = {
        SHUFFLE: 3,
        r"Exchange hashpartitioning\(band#\d+, bh#": 2,
        r"SortMergeJoin \[band#\d+, bh#\d+L\], \[band#\d+, bh#\d+L\], Inner": 1,
        r"Generate explode": 2,
        PYTHON: 0,
    }
    return lsh_candidate_pairs(sigs), expected


def _fused_shingle_minhash(spark, transcripts):
    """Generate (posexplode) -> one Window of lead n-grams -> ONE
    collect_set aggregate pair with no exchange between its halves; the
    64 lanes are one numpy MapInPandas pass, the only Python stage."""
    from rove_spark.operators.dedup import _shingle_minhash_fused

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(20))) for i in range(50)],
        "doc_id long, text string",
    )
    expected = {
        r"Generate posexplode": 1,
        r"\bWindow \[lead": 1,
        r"Exchange hashpartitioning\(_sid#": 1,
        r"ObjectHashAggregate": 2,
        r"partial_collect_set": 1,
        r"\bMapInPandas\b": 1,
        PYTHON: 1,
        r"lambdafunction": 0,
    }
    return _shingle_minhash_fused(docs, "text", "doc_id"), expected


def _with_hours(spark, transcripts):
    return (
        spark.read.parquet(transcripts)
        .withColumn("d", F.date_trunc("day", "ts"))
        .withColumn("h", F.date_trunc("hour", "ts"))
    )


def _heavy_hitters_merge(spark, transcripts):
    """Hourly top-k build merged to daily: per level a partial+final
    count/sum HashAggregate pair on (group, key), then a partial+final
    collect_list pair on the group for the truncation. Two exchanges
    per level, no Python."""
    from rove_spark.operators.rollup import merge_topk, topk_summary

    hourly = topk_summary(_with_hours(spark, transcripts), ["conv_id", "d", "h"], "role", cap=8)
    expected = {
        SHUFFLE: 4,
        r"\bHashAggregate\(": 4,
        r"partial_count\(": 1,
        r"partial_sum\(": 1,
        r"ObjectHashAggregate\(": 4,
        r"partial_collect_list\(": 2,
        PYTHON: 0,
    }
    return merge_topk(hourly, ["conv_id", "d"], cap=8), expected


def _quantile_sketch(spark, transcripts):
    """Value summaries built hourly, merged daily, read as percentiles:
    per level the (group, value) aggregate pair carries distinct-value
    partials through the first exchange, one group-keyed exchange feeds
    the rank-stride windows; the read adds no exchange and answers every
    percentile in one aggregate. No Python."""
    from rove_spark.operators.rollup import (
        merge_value_summaries,
        summary_quantiles,
        value_summary,
    )

    located = _with_hours(spark, transcripts).withColumn("tl", F.length("text").cast("long"))
    hourly = value_summary(located, ["conv_id", "d", "h"], "tl", cap=64)
    daily = merge_value_summaries(hourly, ["conv_id", "d"], cap=64)
    expected = {
        SHUFFLE: 4,
        r"\bHashAggregate\(": 10,
        r"ObjectHashAggregate\(": 4,
        r"\bWindow \[": 6,
        r"\bmin\(CASE WHEN": 2,
        PYTHON: 0,
    }
    return summary_quantiles(daily, ["conv_id", "d"], [50, 99]), expected


def _daily_tier_write(spark, transcripts):
    """The frame ``run_job`` hands its one tier write: the three tiers
    from one Expand and one partial/final aggregate pair, nothing cached,
    re-clustered onto the staging table's (tier, day) partition columns.
    The window checks add their one exchange on the series."""
    import tempfile

    from rove_spark.operators.signals import derive_signals
    from rove_spark.sources.tables import PartitionedTable
    from tests.test_engine import _engine

    written = []
    real_write = PartitionedTable.overwrite_partitions

    def capture(self, df, lineage=None, observe=None):
        written.append((self.partition_by, self._cluster_for_write(df)))
        raise InterruptedError

    PartitionedTable.overwrite_partitions = capture
    try:
        with tempfile.TemporaryDirectory() as out, pytest.raises(InterruptedError):
            raw = derive_signals(spark.read.parquet(transcripts))
            _engine(spark).run_job(raw, "ta", out, input_fingerprint="plan")
    finally:
        PartitionedTable.overwrite_partitions = real_write
    [(partition_by, df)] = written
    assert partition_by == ["tier", "day"]
    expected = {
        r"\bExpand \[": 1,
        r"InMemory(?:Relation|TableScan)": 0,
        r"Exchange hashpartitioning\(tier#\d+, day#\d+, \d+\)": 1,
        r"\bHashAggregate\(": 2,
        SHUFFLE: 3,
        PYTHON: 0,
    }
    return df, expected


@pytest.mark.parametrize(
    "build",
    [
        _minhash_lsh_join, _fused_shingle_minhash, _heavy_hitters_merge, _quantile_sketch,
        _daily_tier_write,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_operator_plan_shapes(spark, parquet_transcripts, build):
    """Exact node counts per operator plan: an extra shuffle, a lost
    partial aggregate or a new Python stage changes a count."""
    df, expected = build(spark, parquet_transcripts)
    plan = _plan(df)
    got = {pattern: len(re.findall(pattern, plan)) for pattern in expected}
    assert got == expected, plan

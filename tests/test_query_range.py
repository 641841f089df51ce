"""Engine.query_range — THE read path over a job's whole store: tiers
(base + increments, merge-on-read) answer whole buckets, hot raw ∪ the
Gorilla cold tier answer sub-minute slivers. The lifecycle contract:
build → incremental refresh → retention → cold compression → query ≡ a
direct aggregate over the original raw, across a compaction boundary."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from rove_spark.sources.synthetic import synthetic_transcripts
from rove_spark.sources.tables import PartitionedTable
from tests.test_engine import _engine
from tests.test_incremental import group_jobs


def _raw_frame(spark, n_conv=12, avg_turns=60):
    """(conv_id, ts, text_len) signal rows — the archivable schema (the
    cold tier stores exactly series/ts/value, so the store and the
    original agree on what a row is)."""
    df = synthetic_transcripts(spark, n_conv=n_conv, avg_turns=avg_turns, period_s=60)
    return df.select("conv_id", "ts", F.length("text").cast("long").alias("text_len"))


def _store(spark, base_dir, retention_days):
    original = _raw_frame(spark)
    raw_df = original.withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    raw = PartitionedTable(base_dir / "raw", ["day"])
    raw.overwrite_partitions(raw_df)
    days = raw.partition_days()
    assert len(days) >= 4, days
    eng = _engine(spark)
    retention = {"raw": days[retention_days]} if retention_days else None
    eng.run_job(
        raw.read(spark).drop("day"), "ta", base_dir / "out",
        value_col="text_len", input_fingerprint="fp1",
        input_path=base_dir / "raw", retention=retention,
    )
    return eng, original, raw, days


def _direct(original, start, end):
    return (
        original.where((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("text_len").alias("text_len_sum"),
            F.min("text_len").alias("text_len_min"),
            F.max("text_len").alias("text_len_max"),
        )
    )


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_query_range_across_compaction_boundary(spark, tmp_path):
    """A ragged range whose leading sliver falls in a COMPACTED day (raw
    partition dropped, signal lives only in Gorilla chunks) and whose
    trailing sliver falls in a hot day: query_range ≡ the direct
    aggregate over the ORIGINAL pre-retention rows — the cold tier's
    decode really is the expired slice."""
    eng, original, raw, days = _store(spark, tmp_path, retention_days=2)
    assert raw.partition_days() == days[2:]  # first two days live only cold
    d0 = dt.datetime.strptime(days[0], "%Y-%m-%d")
    start = d0 + dt.timedelta(hours=1, minutes=1, seconds=30)
    end = dt.datetime.strptime(days[-1], "%Y-%m-%d") + dt.timedelta(
        hours=2, minutes=5, seconds=15
    )
    got = eng.query_range(
        tmp_path / "out", start, end, hot_df=raw.read(spark).drop("day")
    )
    assert _canon(got) == _canon(_direct(original, start, end))
    # empty range: typed empty, no error
    assert eng.query_range(tmp_path / "out", start, start).count() == 0

    # overlap guard: a hot table STILL HOLDING the compacted days (the
    # kill window between chunk commit and raw drop, or a pre-retention
    # snapshot passed as --hot) must not double-count — compacted days
    # are served from the cold tier only
    got_overlap = eng.query_range(tmp_path / "out", start, end, hot_df=original)
    assert _canon(got_overlap) == _canon(_direct(original, start, end))

    # tz-aware bounds are normalized to their UTC instant (naive storage,
    # UTC session): an offset-carrying query equals its UTC equivalent
    utc3 = dt.timezone(dt.timedelta(hours=3))
    got_aware = eng.query_range(
        tmp_path / "out",
        (start + dt.timedelta(hours=3)).replace(tzinfo=utc3),
        (end + dt.timedelta(hours=3)).replace(tzinfo=utc3),
        hot_df=raw.read(spark).drop("day"),
    )
    assert _canon(got_aware) == _canon(got)

    # series_ids narrows every layer (the single-series dashboard query):
    # result ≡ the direct aggregate restricted to that series, and the In
    # predicate reaches the tier parquet scans THROUGH the merge-on-read
    # aggregate (it sits on a grouping key)
    cid = original.select("conv_id").first()[0]
    one = eng.query_range(
        tmp_path / "out", start, end,
        hot_df=raw.read(spark).drop("day"), series_ids=[cid],
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert f"In(conv_id, [{cid}])" in plan or f"EqualTo(conv_id,{cid})" in plan, plan[:2000]
    want_one = _direct(
        original.filter(F.col("conv_id") == cid), start, end
    )
    assert _canon(one) == _canon(want_one) and one.count() == 1


def test_query_range_sees_late_increments(spark, tmp_path):
    """Rows landed through ingest_late (increment batches, never folded
    into the base tiers) must be visible to query_range via read_tier's
    merge-on-read — placed on an interior day so the 1d level serves
    them."""
    eng, original, raw, days = _store(spark, tmp_path, retention_days=0)
    mid = dt.datetime.strptime(days[len(days) // 2], "%Y-%m-%d")
    late = spark.createDataFrame(
        [("late-1", mid + dt.timedelta(hours=12, minutes=m), 40 + m) for m in range(3)],
        "conv_id string, ts timestamp, text_len long",
    )
    eng.ingest_late(late, "ta", tmp_path / "out", batch_id="b1", value_col="text_len")
    start = dt.datetime.strptime(days[0], "%Y-%m-%d") + dt.timedelta(minutes=3)
    end = dt.datetime.strptime(days[-1], "%Y-%m-%d") + dt.timedelta(hours=1)
    got = eng.query_range(
        tmp_path / "out", start, end, hot_df=raw.read(spark).drop("day")
    )
    want = _direct(original.unionByName(late), start, end)
    assert _canon(got) == _canon(want)
    assert ("late-1", 3, 123, 40, 42) in {
        (r.conv_id, r.n_turns, r.text_len_sum, r.text_len_min, r.text_len_max)
        for r in got.collect()
    }


def test_query_range_tier_only_store(spark, tmp_path):
    """Without any raw source (hot_df=None, no cold tier): an aligned
    range is answered purely from tiers; a ragged one raises the named
    sliver error instead of silently undercounting."""
    eng, original, raw, days = _store(spark, tmp_path, retention_days=0)
    start = dt.datetime.strptime(days[0], "%Y-%m-%d") + dt.timedelta(minutes=3)
    end = dt.datetime.strptime(days[-1], "%Y-%m-%d") + dt.timedelta(hours=1)
    got = eng.query_range(tmp_path / "out", start, end)  # minute-aligned
    assert _canon(got) == _canon(_direct(original, start, end))
    with pytest.raises(ValueError, match="needs raw rows"):
        eng.query_range(tmp_path / "out", start, end + dt.timedelta(seconds=30))


def test_query_range_plans_with_one_read_per_tier_table(spark, tmp_path):
    """Building the read over a three-tier store without increments reads
    each tier table once (one schema-inference job each) and nothing
    else: no separate probe for the role column."""
    eng, original, raw, days = _store(spark, tmp_path, retention_days=0)
    start = dt.datetime.strptime(days[0], "%Y-%m-%d") + dt.timedelta(minutes=3)
    end = dt.datetime.strptime(days[-1], "%Y-%m-%d") + dt.timedelta(hours=1)
    built = []

    def build():
        built.append(eng.query_range(tmp_path / "out", start, end))

    jobs = group_jobs(spark, "query-range-plan", build)
    assert len(jobs) <= 3, jobs
    assert _canon(built[0]) == _canon(_direct(original, start, end))

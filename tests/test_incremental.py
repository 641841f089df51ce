"""Incremental (continuous-aggregate) refresh: merge ≡ rebuild exactness,
exactly-once ingest under replay, crash-window kill-tests for compaction,
and partition-pruned merge-on-read.

north_rule surface: at 10^12 turns a tier rebuild from raw is
unaffordable and the raw day may already be cold-tiered — late data must
merge into built tiers touching only delta-sized data, and a replayed or
crashed ingest must never double-count (the same discipline as the
engine's tier writes)."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rove_spark.operators.rollup import (
    build_tiers,
    compact_tier_increments,
    merge_tiers,
    read_tier,
    refresh_tier_increment,
    rollup_from_raw,
)
from rove_spark.sources.synthetic import synthetic_transcripts
from rove_spark.sources.tables import PartitionedTable


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _split(df, parity: int):
    return df.where(F.pmod(F.xxhash64("conv_id", "ts"), F.lit(2)) == parity)


def _staging(root):
    return PartitionedTable(root / "_inc_staging", ["tier", "day", "batch"])


def _refresh(inc, delta, **kw):
    """``refresh_tier_increment`` of the 1m tier into ``inc``, staged
    beside it; returns the 1m result."""
    return refresh_tier_increment(_staging(Path(inc.path).parent), {"1m": inc}, delta, **kw)["1m"]


def test_merge_split_equals_full_all_tiers(spark):
    """merge(tier(A), tier(B)) ≡ tier(A ∪ B) bit-exactly for every tier,
    under a row-hash split that lands rows of one bucket in BOTH halves
    (the merge must combine within-bucket partials)."""
    df = synthetic_transcripts(spark, n_conv=30, avg_turns=60, period_s=60)
    full = build_tiers(df, persist=False)
    a = build_tiers(_split(df, 0), persist=False)
    b = build_tiers(_split(df, 1), persist=False)
    for tier in ("1m", "1h", "1d"):
        merged = merge_tiers(a[tier], b[tier], tier)
        assert _canon(merged) == _canon(full[tier]), tier


def test_merge_with_flags_and_hll(spark):
    """Flag counts merge additively and HLL sketches merge by union —
    estimates after the merge equal the direct single-pass sketch."""
    from rove_spark.operators import checks

    df = synthetic_transcripts(spark, n_conv=15, avg_turns=40, period_s=60)
    df = df.withColumn("text_len", F.length("text").cast("float"))
    df = checks.step_check(df, "text_len", max_=500.0, series_col="conv_id", order_cols=["ts"])

    def tier_of(frame):
        return rollup_from_raw(
            frame, "1d", checks=["step_check"], sketch_cols={"role": "role"}
        )

    merged = merge_tiers(tier_of(_split(df, 0)), tier_of(_split(df, 1)), "1d")
    full = tier_of(df)
    est = lambda d: d.select(  # noqa: E731
        "conv_id",
        "bucket_ts",
        "role",
        "n_turns",
        "n_fail_step_check",
        F.hll_sketch_estimate("role_hll").alias("role_est"),
    )
    assert _canon(est(merged)) == _canon(est(full))


# ------------------------------------------------------------------ table --


def _day(df):
    return F.date_format(F.date_trunc("day", "bucket_ts"), "yyyy-MM-dd")


@pytest.fixture()
def raw(spark):
    return synthetic_transcripts(spark, n_conv=20, avg_turns=30, period_s=60)


@pytest.fixture()
def tables(spark, raw, tmp_path):
    """Base tier table built from the even half; odd half is the delta."""
    base = PartitionedTable(tmp_path / "tier_1m", ["day"])
    t1m = rollup_from_raw(_split(raw, 0), "1m")
    base.overwrite_partitions(t1m.withColumn("day", _day(t1m)))
    inc = PartitionedTable(tmp_path / "tier_1m_inc", ["day", "batch"])
    return base, inc


def test_increment_read_equals_full_rebuild(spark, raw, tables):
    base, inc = tables
    res = _refresh(inc, _split(raw, 1), batch_id="b1")
    assert res["applied"] and res["n_rows"] > 0 and res["days"]
    got = read_tier(spark, base, inc, "1m")
    assert _canon(got) == _canon(rollup_from_raw(raw, "1m"))


def test_increment_replay_is_exactly_once(spark, raw, tables):
    """Replaying the same batch (explicit id or content digest) rewrites
    instead of double-counting; the second call short-circuits off the
    manifest without touching data."""
    base, inc = tables
    delta = _split(raw, 1)
    first = _refresh(inc, delta, batch_id="day-1")
    again = _refresh(inc, delta, batch_id="day-1")
    assert first["applied"] and not again["applied"]
    assert again["days"] == first["days"] and again["n_rows"] == first["n_rows"]
    assert _canon(read_tier(spark, base, inc, "1m")) == _canon(
        rollup_from_raw(raw, "1m")
    )
    # MIXED usage: the same delta re-ingested WITHOUT an id must be
    # recognized via the recorded content digest (the crashed-retry
    # script that forgot the id would otherwise land the rows twice)
    by_digest = _refresh(inc, delta)
    assert not by_digest["applied"] and by_digest["batch_id"] == "day-1"
    # ...and under a DIFFERENT explicit id likewise (digest match)
    other_id = _refresh(inc, delta, batch_id="day-1-retry")
    assert not other_id["applied"] and other_id["batch_id"] == "day-1"
    assert _canon(read_tier(spark, base, inc, "1m")) == _canon(
        rollup_from_raw(raw, "1m")
    )


def test_increment_rejects_bad_batch_ids(spark, raw, tables):
    _, inc = tables
    # 'b1\n' matters: re '$' would accept it, Spark would escape the
    # dir to batch=b1%0A, and compaction's dir-derived name would never
    # match the column value — fullmatch rejects it up front
    for bad in ("fold-abc", "a/b", "", "x y", "b1\n"):
        with pytest.raises(ValueError, match="batch_id"):
            _refresh(inc, _split(raw, 1), batch_id=bad)


def test_empty_delta_is_a_noop(spark, raw, tables):
    _, inc = tables
    res = _refresh(inc, raw.limit(0))
    assert res == {"batch_id": None, "tier": "1m", "days": [], "n_rows": 0, "applied": False}
    assert not inc.exists()


def test_read_tier_day_pruning_plan(spark, raw, tables):
    """A windowed read must prune BOTH scans to the requested day
    partitions (PartitionFilters), not scan-then-filter."""
    base, inc = tables
    _refresh(inc, _split(raw, 1), batch_id="b1")
    day = base.partition_days()[0]
    df = read_tier(spark, base, inc, "1m", days=[day])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = re.findall(r"PartitionFilters: \[[^\]]*\(day#\d+ = ", plan)
    assert len(pruned) >= 2, plan
    # the increments scan additionally prunes to visible batches
    assert re.search(r"PartitionFilters: \[[^\]]*batch#\d+ = b1", plan), plan
    # and the pruned read is still exact for that day
    full = rollup_from_raw(raw, "1m")
    expect = full.where(_day(full) == day)
    assert _canon(df) == _canon(expect)


# ------------------------------------------------------------- compaction --


def _ingest_three(raw, inc):
    thirds = F.pmod(F.xxhash64("conv_id", "ts"), F.lit(3))
    for k in range(3):
        _refresh(inc, raw.where(thirds == k), batch_id=f"b{k}")


def _batches_on_disk(inc):
    return sorted(
        {
            b.name.split("=", 1)[1]
            for d in Path(inc.path).glob("day=*")
            for b in d.glob("batch=*")
        }
    )


def test_compact_preserves_read_and_bounds_batches(spark, raw, tmp_path):
    inc = PartitionedTable(tmp_path / "inc", ["day", "batch"])
    _ingest_three(raw, inc)
    before = _canon(read_tier(spark, None, inc, "1m"))
    res = compact_tier_increments(spark, inc, "1m")
    assert sorted(res["folded"]) == ["b0", "b1", "b2"] and not res["resumed"]
    assert _batches_on_disk(inc) == [res["fold_id"]]
    assert (Path(inc.path) / "_folds" / f"{res['fold_id']}.json").exists()
    assert _canon(read_tier(spark, None, inc, "1m")) == before
    # idempotent once folded: nothing left to do
    assert compact_tier_increments(spark, inc, "1m")["fold_id"] is None
    # a batch folded AWAY still short-circuits on replay (its partitions
    # are gone but the manifest remembers it — re-landing it would
    # double-count through the consolidated rows)
    thirds = F.pmod(F.xxhash64("conv_id", "ts"), F.lit(3))
    replay = _refresh(inc, raw.where(thirds == 0), batch_id="b0")
    assert not replay["applied"]
    assert _canon(read_tier(spark, None, inc, "1m")) == before
    # a consolidated batch is an ordinary batch: the next fold folds it too
    _refresh(inc, raw.limit(50), batch_id="late")
    before2 = _canon(read_tier(spark, None, inc, "1m"))
    res2 = compact_tier_increments(spark, inc, "1m")
    assert res["fold_id"] in res2["folded"] and "late" in res2["folded"]
    assert _canon(read_tier(spark, None, inc, "1m")) == before2


def test_compact_kill_between_write_and_marker(spark, raw, tmp_path):
    """Crash AFTER the consolidated write but BEFORE the fold marker:
    the unmarked fold partitions are uncommitted garbage (sources fully
    intact) — the rerun must GC them and recompute, NOT fold them in
    with their own sources (which would double-count)."""
    inc = PartitionedTable(tmp_path / "inc", ["day", "batch"])
    _ingest_three(raw, inc)
    before = _canon(read_tier(spark, None, inc, "1m"))
    real_write = inc.overwrite_partitions

    def crash_after_write(df, lineage=None):
        real_write(df, lineage)
        raise RuntimeError("killed after consolidated write")

    inc.overwrite_partitions = crash_after_write
    with pytest.raises(RuntimeError, match="killed"):
        compact_tier_increments(spark, inc, "1m")
    inc.overwrite_partitions = real_write
    assert any(b.startswith("fold-") for b in _batches_on_disk(inc))  # garbage
    # reads BETWEEN the crash and the compact rerun must already be exact:
    # the unmarked fold is invisible (else every stat doubles until some
    # process happens to rerun compaction)
    assert _canon(read_tier(spark, None, inc, "1m")) == before
    res = compact_tier_increments(spark, inc, "1m")
    assert not res["resumed"] and sorted(res["folded"]) == ["b0", "b1", "b2"]
    assert _batches_on_disk(inc) == [res["fold_id"]]
    assert _canon(read_tier(spark, None, inc, "1m")) == before


def test_compact_kill_between_marker_and_drop(spark, raw, tmp_path):
    """Crash AFTER the marker but BEFORE (or mid-) source drop: the rerun
    must NOT recompute (sources may be partially gone — recomputing from
    the remnant would lose rows) — it finishes the cleanup instead."""
    inc = PartitionedTable(tmp_path / "inc", ["day", "batch"])
    _ingest_three(raw, inc)
    before = _canon(read_tier(spark, None, inc, "1m"))
    real_drop = inc.drop_partitions
    calls = {"n": 0}

    def crash_mid_drop(dirs, lineage=None):
        calls["n"] += 1
        # let the first partition die, then crash (a partial drop)
        real_drop(dirs[:1], lineage)
        raise RuntimeError("killed mid-drop")

    inc.drop_partitions = crash_mid_drop
    with pytest.raises(RuntimeError, match="killed"):
        compact_tier_increments(spark, inc, "1m")
    inc.drop_partitions = real_drop
    markers = list((Path(inc.path) / "_folds").glob("fold-*.json"))
    assert len(markers) == 1
    fold_id = json.loads(markers[0].read_text())["fold_id"]
    # reads BETWEEN the crash and the cleanup must already be exact: the
    # committed marker supersedes the surviving source partitions
    assert _canon(read_tier(spark, None, inc, "1m")) == before
    res = compact_tier_increments(spark, inc, "1m")
    assert res["resumed"] and res["fold_id"] == fold_id
    assert _batches_on_disk(inc) == [fold_id]
    assert _canon(read_tier(spark, None, inc, "1m")) == before


def test_schema_evolution_new_check_without_rebuild(spark, raw, tmp_path):
    """A check added AFTER history was built: new increments carry
    n_fail_* columns the base lacks — history is never rebuilt. With
    allow_missing_columns the merge treats the missing side as NULL
    ("not measured", which every merge rule ignores): shared stats stay
    exact, the new stat equals the delta's own counts where measured
    and NULL elsewhere. The default strict mode refuses the mismatch so
    schema drift can never pass silently."""
    from rove_spark.operators import checks as qc

    base = PartitionedTable(tmp_path / "tier", ["day"])
    old = rollup_from_raw(_split(raw, 0), "1m")  # pre-check history
    base.overwrite_partitions(old.withColumn("day", _day(old)))
    inc = PartitionedTable(tmp_path / "inc", ["day", "batch"])
    delta = _split(raw, 1).withColumn("text_len", F.length("text").cast("float"))
    delta = qc.step_check(
        delta, "text_len", max_=500.0, series_col="conv_id", order_cols=["ts"]
    )
    _refresh(inc, delta, batch_id="evolved", checks=["step_check"])

    with pytest.raises(Exception, match="UNION|column|COLUMN"):
        read_tier(spark, base, inc, "1m")

    got = read_tier(spark, base, inc, "1m", allow_missing_columns=True)
    assert "n_fail_step_check" in got.columns
    # shared stats: still exactly the full rebuild
    full = rollup_from_raw(raw, "1m")
    assert _canon(got.select(*full.columns)) == _canon(full)
    # the new stat: exactly the delta's own counts where measured
    delta_tier = rollup_from_raw(delta, "1m", checks=["step_check"])
    key = ["conv_id", "bucket_ts", "role", "n_fail_step_check"]
    measured = got.where(F.col("n_fail_step_check").isNotNull()).select(*key)
    assert _canon(measured) == _canon(delta_tier.select(*key))
    # ...and NULL (not 0) where history predates the check
    assert got.where(F.col("n_fail_step_check").isNull()).count() > 0


def test_engine_ingest_late_end_to_end(spark, tmp_path):
    """Operational wiring: run_job builds the base tiers, ingest_late
    lands a late delta as one increment batch per tier, and read_tier
    over base+increments reproduces the MERGEABLE stats of a full
    recompute exactly at every tier. Flags come from the delta in
    isolation (the documented trade of the late path — run_job's
    recompute exists for boundary parity), so only non-flag stats are
    equality-gated here."""
    from rove_spark.config import parse_pipeline
    from rove_spark.operators.signals import derive_signals
    from rove_spark.plans.engine import Engine
    from rove_spark.sources.tables import open_table

    toml = '[[step]]\nname = "step_check"\n[step.step_check]\nmax = 500.0\n'
    eng = Engine(spark, pipelines={"ta": parse_pipeline("ta", toml)})
    full = derive_signals(synthetic_transcripts(spark, n_conv=8, avg_turns=25))
    parity = F.pmod(F.xxhash64("conv_id", "ts"), F.lit(2))
    base_raw, late = full.where(parity == 0), full.where(parity == 1)

    eng.run_job(base_raw, "ta", tmp_path / "out", input_fingerprint="f1")
    res = eng.ingest_late(late, "ta", tmp_path / "out", batch_id="late-1")
    assert all(res[t]["applied"] for t in ("1m", "1h", "1d"))
    # replay of the same batch id is a no-op at every tier
    res2 = eng.ingest_late(late, "ta", tmp_path / "out", batch_id="late-1")
    assert not any(res2[t]["applied"] for t in ("1m", "1h", "1d"))

    flagged_full = eng.run_pipeline(full, "ta", "text_len")
    stat_cols = ["conv_id", "bucket_ts", "role", "n_turns", "text_len_sum",
                 "text_len_min", "text_len_max", "n_tool_calls"]
    for t in ("1m", "1h", "1d"):
        base = open_table(spark, tmp_path / "out" / f"tier_{t}", ["day"])
        inc = open_table(spark, tmp_path / "out" / f"tier_{t}_inc", ["day", "batch"])
        got = read_tier(spark, base, inc, t)
        assert "n_fail_step_check" in got.columns
        expect = rollup_from_raw(
            flagged_full, t, checks=["step_check"], text_len_source="text"
        )
        assert _canon(got.select(*stat_cols)) == _canon(expect.select(*stat_cols)), t


def test_read_tier_requires_some_table(spark, tmp_path):
    empty = PartitionedTable(tmp_path / "none", ["day"])
    with pytest.raises(ValueError, match="neither base nor increments"):
        read_tier(spark, empty, None, "1m")


# ------------------------------------------------- all tiers in one call --

TIER_NAMES = ("1m", "1h", "1d")


def _inc_tables(root):
    return {t: PartitionedTable(root / f"tier_{t}_inc", ["day", "batch"]) for t in TIER_NAMES}


def group_jobs(spark, group, call):
    """Run ``call`` under job group ``group``; return the ids of the
    Spark jobs it started."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        call()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def writing_executions(spark, group, call):
    """Run ``call`` under job group ``group``; return the physical plans
    of its SQL executions that write files."""
    jobs = group_jobs(spark, group, call)
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(executions.size()):
        e = executions.apply(i)
        plan = e.physicalPlanDescription()
        if any(e.jobs().contains(j) for j in jobs) and "InsertIntoHadoopFsRelationCommand" in plan:
            plans.append(plan)
    return plans


def test_increment_digest_and_batch_id_match_single_tier_formula(spark, raw, tmp_path):
    """Each tier's recorded digest, and its default batch id, is the row
    count and ``bit_xor(xxhash64(*))`` over ``rollup_from_raw(delta,
    tier)``'s columns in order — the formula of the per-tier refresh
    this one replaced — so manifests written by it still short-circuit
    a replay."""
    delta = _split(raw, 1)
    incs = _inc_tables(tmp_path)
    res = refresh_tier_increment(_staging(tmp_path), incs, delta)
    assert list(res) == list(TIER_NAMES)
    for t in TIER_NAMES:
        want = rollup_from_raw(delta, t)
        row = want.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in want.columns) + "))").alias("x"),
        ).first()
        digest = f"d{row['n']}x{row['x'] & 0xFFFFFFFFFFFFFFFF:016x}"
        assert res[t]["applied"] and res[t]["batch_id"] == digest, t
        lin = incs[t].snapshots[-1]["lineage"]
        assert (lin["digest"], lin["batch_id"], lin["n_rows"]) == (digest, digest, row["n"]), t
        assert _batches_on_disk(incs[t]) == [digest], t
    assert not (tmp_path / "_inc_staging").exists()


def test_ingest_late_is_one_write(spark, tmp_path):
    """One ``ingest_late`` lands all three tiers with exactly one writing
    SQL execution, into its staging table."""
    from tests.test_engine import _engine, _signals

    plans = writing_executions(
        spark,
        "ingest-late",
        lambda: _engine(spark).ingest_late(_signals(spark), "ta", tmp_path / "out", batch_id="b1"),
    )
    assert len(plans) == 1 and "_inc_staging" in plans[0]
    assert {t: len(_batches_on_disk(PartitionedTable(tmp_path / "out" / f"tier_{t}_inc", ["day", "batch"])))
            for t in TIER_NAMES} == {t: 1 for t in TIER_NAMES}


def test_increment_killed_between_tier_swaps_replays_the_rest(spark, raw, tmp_path):
    """A call killed after the 1m swap and before the 1h swap: 1m is
    committed, 1h and 1d are not. The replay skips 1m, applies 1h and
    1d, and every tier then reads as the full rebuild."""
    incs = _inc_tables(tmp_path)
    base = {}
    for t in TIER_NAMES:
        base[t] = PartitionedTable(tmp_path / f"tier_{t}", ["day"])
        half = rollup_from_raw(_split(raw, 0), t)
        base[t].overwrite_partitions(half.withColumn("day", _day(half)))

    def killed(staged, lineage):
        raise RuntimeError("killed before the 1h swap")

    incs["1h"]._swap_partitions = killed
    with pytest.raises(RuntimeError, match="killed"):
        refresh_tier_increment(_staging(tmp_path), incs, _split(raw, 1), batch_id="late")
    del incs["1h"]._swap_partitions
    assert [incs[t].exists() for t in TIER_NAMES] == [True, False, False]

    replay = refresh_tier_increment(_staging(tmp_path), incs, _split(raw, 1), batch_id="late")
    assert {t: r["applied"] for t, r in replay.items()} == {"1m": False, "1h": True, "1d": True}
    assert replay["1m"]["batch_id"] == "late" and replay["1m"]["n_rows"] > 0
    for t in TIER_NAMES:
        assert _canon(read_tier(spark, base[t], incs[t], t)) == _canon(rollup_from_raw(raw, t)), t
        assert _batches_on_disk(incs[t]) == ["late"], t
    assert not (tmp_path / "_inc_staging").exists()

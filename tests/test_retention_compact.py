"""Cold-tier compaction (round-5 verdict item 1): expiring raw day
partitions are Gorilla-compressed into the SURVEY §1.4 chunk table before
the partition drop, read-through decode reproduces the pre-expiry raw
slice exactly, and a kill crossing the compaction boundary resumes without
re-encoding."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rove_spark.operators.rollup import read_cold, retention_compact
from rove_spark.operators.signals import derive_signals
from rove_spark.plans.checkpoint import CheckpointManifest
from rove_spark.sources.synthetic import synthetic_transcripts
from rove_spark.sources.tables import PartitionedTable

def _raw_table(spark, path, n_conv=15, avg_turns=60) -> tuple[PartitionedTable, list[str]]:
    df = derive_signals(synthetic_transcripts(spark, n_conv=n_conv, avg_turns=avg_turns))
    raw = df.select("conv_id", "ts", "text_len").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    table = PartitionedTable(path, ["day"])
    table.overwrite_partitions(raw, lineage={"test": "retention_compact"})
    return table, table.partition_days()


def _slice_rows(spark, table, days):
    """(conv_id, ts-seconds, value) triples for the given days — the exact
    comparison domain of the codec (epoch-second timestamps, f32 values)."""
    return sorted(
        (r.conv_id, r.ts, float(r.text_len))
        for r in table.read(spark)
        .filter(F.col("day").isin(list(days)))
        .select(
            "conv_id", F.date_trunc("second", "ts").cast("timestamp").alias("ts"), "text_len"
        )
        .collect()
    )


def test_compact_decode_equals_raw(tmp_path, spark):
    raw, days = _raw_table(spark, tmp_path / "raw")
    assert len(days) >= 3
    cutoff = days[2]  # expire the first two days
    expired_rows = _slice_rows(spark, raw, days[:2])

    chunks = PartitionedTable(tmp_path / "cold", ["day"])
    res = retention_compact(
        spark, raw, chunks, cutoff, value_col="text_len", series_col="conv_id"
    )
    assert res["expiring"] == days[:2]
    assert res["compacted"] == days[:2]
    assert res["dropped"] == 2

    # mandated chunk schema (SURVEY §1.4) present on disk
    cdf = chunks.read(spark)
    for col in ("series_id", "chunk_start", "ts_codec", "val_codec", "n_points", "checksum"):
        assert col in cdf.columns, col
    assert set(chunks.partition_days()) == set(days[:2])

    # raw: expired partitions gone, surviving intact
    assert raw.partition_days() == days[2:]

    # read-through decode ≡ the pre-expiry raw slice, value-exact
    decoded = sorted(
        (r.series_id, r.ts, float(r.value))
        for r in read_cold(spark, chunks).filter(~F.col("is_gap")).collect()
    )
    assert decoded == expired_rows


def test_compact_chunk_files_bounded(tmp_path, spark):
    """The chunk write is re-clustered day-aligned: without it the encode
    stage's mixed-day partitions emit one tiny file per (task, day) —
    measured 1,192 files for 30 day-partitions at sf0.01, the small-files
    pathology a cold tier exists to avoid. At most one data file per
    expired day lands on disk."""
    raw, days = _raw_table(spark, tmp_path / "raw")
    cutoff = days[-1]  # expire all but the last day
    n_expired = len(days) - 1

    chunks = PartitionedTable(tmp_path / "cold", ["day"])
    retention_compact(
        spark, raw, chunks, cutoff, value_col="text_len", series_col="conv_id"
    )
    files = list((tmp_path / "cold").rglob("*.parquet"))
    assert 0 < len(files) <= n_expired


def test_compact_kill_between_write_and_drop_resumes(tmp_path, spark):
    """Kill AFTER the chunk write + manifest mark but BEFORE the raw drop:
    the rerun must re-drop without re-encoding (resumed_skip), and the
    final state must equal a clean single run."""
    raw, days = _raw_table(spark, tmp_path / "raw")
    cutoff = days[2]
    expired_rows = _slice_rows(spark, raw, days[:2])
    chunks = PartitionedTable(tmp_path / "cold", ["day"])
    manifest = CheckpointManifest(tmp_path / "ckpt.json")

    class Boom(RuntimeError):
        pass

    orig = PartitionedTable.expire_days_before
    def killed(self, *a, **kw):
        raise Boom("killed before raw drop")

    PartitionedTable.expire_days_before = killed
    try:
        with pytest.raises(Boom):
            retention_compact(
                spark, raw, chunks, cutoff, value_col="text_len",
                series_col="conv_id", manifest=manifest, fingerprint="fp1",
            )
    finally:
        PartitionedTable.expire_days_before = orig

    # chunks committed, manifest marked, raw NOT yet dropped
    assert set(chunks.partition_days()) == set(days[:2])
    assert {f"compact:{d}" for d in days[:2]} <= manifest.done_partitions("fp1")
    assert raw.partition_days() == days

    res = retention_compact(
        spark, raw, chunks, cutoff, value_col="text_len",
        series_col="conv_id", manifest=manifest, fingerprint="fp1",
    )
    assert res["resumed_skip"] == days[:2]  # no re-encode
    assert res["compacted"] == []
    assert res["dropped"] == 2
    assert raw.partition_days() == days[2:]

    decoded = sorted(
        (r.series_id, r.ts, float(r.value))
        for r in read_cold(spark, chunks).filter(~F.col("is_gap")).collect()
    )
    assert decoded == expired_rows


def test_run_job_raw_retention_compacts_and_resumes(tmp_path, spark):
    """Engine-level lifecycle: run_job with retention={'raw': cutoff}
    compacts expiring input partitions into out/chunks_raw (recorded in
    the job's own checkpoint manifest), drops them, and a second run is a
    pure resume — tiers skipped, compaction skipped, nothing re-encoded."""
    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    cutoff = days[1]  # expire just the first day
    expired_rows = _slice_rows(spark, raw, days[:1])

    eng = _engine(spark)
    df = raw.read(spark).drop("day")
    r1 = eng.run_job(
        df, "ta", tmp_path / "out", value_col="text_len",
        input_fingerprint="fp1", input_path=tmp_path / "raw",
        retention={"raw": cutoff},
    )
    assert r1["expired"]["raw"]["compacted"] == days[:1]
    assert r1["expired"]["raw"]["dropped"] == 1
    assert raw.partition_days() == days[1:]

    chunks = PartitionedTable(tmp_path / "out" / "chunks_raw", ["day"])
    decoded = sorted(
        (r.series_id, r.ts, float(r.value))
        for r in read_cold(spark, chunks).filter(~F.col("is_gap")).collect()
    )
    assert decoded == expired_rows

    # resume: tiers all done, compaction already done — nothing recomputed
    df2 = raw.read(spark).drop("day")
    r2 = eng.run_job(
        df2, "ta", tmp_path / "out", value_col="text_len",
        input_fingerprint="fp1", input_path=tmp_path / "raw",
        retention={"raw": cutoff},
    )
    assert r2["computed"] == []
    assert r2["expired"]["raw"]["compacted"] == []
    assert r2["expired"]["raw"]["expiring"] == []  # already dropped from raw


def test_run_job_raw_retention_reads_no_tier_table(tmp_path, spark, monkeypatch):
    """run_job takes its per-day tier row counts from the tier writes
    themselves: with raw retention on, the job reads the raw input (to
    compact it) but never reads back a table under out/tier_*."""
    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    df = raw.read(spark).drop("day")
    reads: list[Path] = []
    real_read = PartitionedTable.read

    def recording_read(self, spark_):
        reads.append(Path(self.path))
        return real_read(self, spark_)

    monkeypatch.setattr(PartitionedTable, "read", recording_read)
    r = _engine(spark).run_job(
        df, "ta", tmp_path / "out", value_col="text_len",
        input_fingerprint="fp1", input_path=tmp_path / "raw",
        retention={"raw": days[1]},
    )
    assert r["computed"] == days
    assert r["expired"]["raw"]["compacted"] == days[:1]
    assert tmp_path / "raw" in reads  # the recorder sees the compaction's read
    tier_reads = [p for p in reads if p.parent == tmp_path / "out" and p.name.startswith("tier_")]
    assert tier_reads == []
    assert set(r["metrics"]) == set(days)
    assert all(r["metrics"][d]["rows_1m"] > 0 for d in days)


def test_compact_missing_value_col_raises(tmp_path, spark):
    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=5, avg_turns=20)
    chunks = PartitionedTable(tmp_path / "cold", ["day"])
    with pytest.raises(ValueError, match="value column"):
        retention_compact(
            spark, raw, chunks, days[-1], value_col="nope", series_col="conv_id"
        )


def _rows(spark, path) -> list[tuple]:
    """Every row of the parquet table at ``path``, columns in name order."""
    df = spark.read.parquet(str(path))
    return sorted(tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect())


def _run(eng, spark, raw_path, out, cutoff):
    """run_job over the parquet input at ``raw_path``, with a ``raw``
    retention cutoff unless ``cutoff`` is None."""
    df = spark.read.parquet(str(raw_path)).drop("day")
    return eng.run_job(
        df, "ta", out, value_col="text_len", input_fingerprint="fp1",
        input_path=raw_path, retention={"raw": cutoff} if cutoff else None,
    )


def _assert_store_equal(spark, a: Path, b: Path, compacted: bool = True) -> None:
    names = ("tier_1m", "tier_1h", "tier_1d") + (("chunks_raw",) if compacted else ())
    for name in names:
        assert _rows(spark, a / name) == _rows(spark, b / name), name


def _pool_threads() -> set:
    import threading

    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def _fails_on(name: str, real, test):
    """The table method ``real``, raising an injected ``name`` failure
    instead on a table for which ``test(table)`` holds."""

    def failing(self, *a, **kw):
        if test(self):
            raise RuntimeError(f"injected {name} failure")
        return real(self, *a, **kw)

    return failing


def _assert_failed_run_left_nothing(
    spark, tmp_path, eng, raw, days, threads, persisted, cutoff
) -> None:
    """After a failed run over ``raw`` with the raw retention ``cutoff``
    (or none): every thread joined, nothing cached, no day marked, no raw
    day dropped; a rerun then equals a clean run."""
    assert _pool_threads() <= threads
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= persisted
    recs = CheckpointManifest(tmp_path / "out" / "_checkpoint.json").records()
    assert not set(recs) & set(days)
    assert raw.partition_days() == days

    r = _run(eng, spark, tmp_path / "raw", tmp_path / "out", cutoff)
    clean = _run(eng, spark, tmp_path / "raw_clean", tmp_path / "clean", cutoff)
    assert r["computed"] == clean["computed"] == days
    assert r["metrics"].keys() == clean["metrics"].keys()
    for d in days:
        rows = {k: v for k, v in r["metrics"][d].items() if k != "elapsed_job_sec"}
        assert rows == {k: v for k, v in clean["metrics"][d].items() if k != "elapsed_job_sec"}
    if cutoff:
        assert r["expired"]["raw"]["dropped"] == clean["expired"]["raw"]["dropped"] == 1
        assert raw.partition_days() == days[1:]
    else:
        assert "expired" not in r and raw.partition_days() == days
    _assert_store_equal(spark, tmp_path / "out", tmp_path / "clean", compacted=bool(cutoff))
    assert not (tmp_path / "out" / "_tier_staging").exists()


@pytest.mark.parametrize("compacting", [True, False], ids=["raw_cutoff", "no_retention"])
def test_run_job_failed_tier_write(tmp_path, spark, monkeypatch, compacting):
    """The one tier write raising, with the compaction running beside it
    or without any retention: run_job re-raises it once every thread has
    joined, marks no day done, drops no raw day and leaves nothing
    cached. A rerun then equals a clean run."""
    import shutil

    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    cutoff = days[1] if compacting else None
    shutil.copytree(tmp_path / "raw", tmp_path / "raw_clean")
    real_write = PartitionedTable.overwrite_partitions
    spark.catalog.clearCache()
    threads = _pool_threads()
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs())
    monkeypatch.setattr(
        PartitionedTable, "overwrite_partitions",
        _fails_on("tier write", real_write, lambda t: t.partition_by[0] == "tier"),
    )
    eng = _engine(spark)
    with pytest.raises(RuntimeError, match="injected tier write"):
        _run(eng, spark, tmp_path / "raw", tmp_path / "out", cutoff)
    monkeypatch.setattr(PartitionedTable, "overwrite_partitions", real_write)
    _assert_failed_run_left_nothing(spark, tmp_path, eng, raw, days, threads, persisted, cutoff)


def test_run_job_failed_between_tier_swaps(tmp_path, spark, monkeypatch):
    """A run that dies after the staged 1m days are renamed into tier_1m
    and before tier_1h's: no day is marked and nothing dropped, and a
    rerun equals a clean run."""
    import shutil

    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    shutil.copytree(tmp_path / "raw", tmp_path / "raw_clean")
    real_swap = PartitionedTable._swap_partitions
    spark.catalog.clearCache()
    threads = _pool_threads()
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs())
    monkeypatch.setattr(
        PartitionedTable, "_swap_partitions",
        _fails_on("tier_1h swap", real_swap, lambda t: t.path.name == "tier_1h"),
    )
    eng = _engine(spark)
    with pytest.raises(RuntimeError, match="injected tier_1h swap"):
        _run(eng, spark, tmp_path / "raw", tmp_path / "out", days[1])
    assert PartitionedTable(tmp_path / "out" / "tier_1m", ["day"]).partition_days() == days
    assert not (tmp_path / "out" / "tier_1h").exists()
    monkeypatch.setattr(PartitionedTable, "_swap_partitions", real_swap)
    _assert_failed_run_left_nothing(spark, tmp_path, eng, raw, days, threads, persisted, days[1])


def test_run_job_removes_a_killed_runs_staging(tmp_path, spark):
    """A staging directory left by a killed tier write, with wrong rows
    for a done day, is never read as tier data and is removed by the next
    run before it writes: the store then equals a clean run's."""
    import datetime
    import shutil

    from rove_spark.operators.rollup import read_tier
    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    assert len(days) >= 3
    shutil.copytree(tmp_path / "raw", tmp_path / "raw_clean")
    eng = _engine(spark)
    out = tmp_path / "out"
    tier_1m = PartitionedTable(out / "tier_1m", ["day"])
    # a first run lands the first two days
    held = tmp_path / "held"
    held.mkdir()
    for d in days[2:]:
        shutil.move(tmp_path / "raw" / f"day={d}", held / f"day={d}")
    _run(eng, spark, tmp_path / "raw", out, days[0])

    def views():
        start, end = (datetime.date.fromisoformat(d) for d in days[:2])
        return (
            tier_1m.partition_days(),
            _rows(spark, out / "tier_1m"),
            sorted(map(tuple, read_tier(spark, tier_1m, None, "1m").collect())),
            sorted(map(tuple, eng.query_range(out, start, end).collect())),
        )

    before = views()
    staged = out / "_tier_staging" / "tier=1m" / f"day={days[0]}"
    wrong = tier_1m.read(spark).filter(F.col("day") == days[0]).drop("day")
    wrong.withColumn("n_turns", F.lit(999).cast("long")).write.parquet(str(staged))
    assert views() == before

    # the next run's todo (days 2.. and the re-flagged day 1) misses day 0
    for d in days[2:]:
        shutil.move(held / f"day={d}", tmp_path / "raw" / f"day={d}")
    r = _run(eng, spark, tmp_path / "raw", out, days[1])
    assert days[0] not in r["computed"]
    assert not (out / "_tier_staging").exists()
    _run(eng, spark, tmp_path / "raw_clean", tmp_path / "clean", days[1])
    _assert_store_equal(spark, out, tmp_path / "clean")


def test_run_job_is_one_tier_write_and_caches_nothing(tmp_path, spark):
    """A daily run over one new day runs exactly one SQL execution that
    writes tier rows, beside the compaction's one write, and leaves no
    persisted RDD behind."""
    import shutil

    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    assert len(days) >= 3
    last = tmp_path / "raw" / f"day={days[-1]}"
    shutil.move(last, tmp_path / "held")
    eng = _engine(spark)
    _run(eng, spark, tmp_path / "raw", tmp_path / "out", days[0])
    shutil.move(tmp_path / "held", last)

    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs())
    try:
        sc.setJobGroup("one-tier-write", "run_job")
        r = _run(eng, spark, tmp_path / "raw", tmp_path / "out", days[1])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert r["computed"] == days[-2:]
    assert r["expired"]["raw"]["compacted"] == days[:1]
    assert set(sc._jsc.getPersistentRDDs()) - persisted == set()

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("one-tier-write")
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    writes = []
    for i in range(executions.size()):
        e = executions.apply(i)
        plan = e.physicalPlanDescription()
        if any(e.jobs().contains(j) for j in jobs) and "InsertIntoHadoopFsRelationCommand" in plan:
            writes.append("_tier_staging" in plan)
    assert sorted(writes) == [False, True]


def test_run_job_failed_compaction_marks_tiers_keeps_raw(tmp_path, spark, monkeypatch):
    """A compaction that raises: the tier days are marked done as written,
    no raw day is dropped and the error is re-raised. A rerun skips the
    tiers and completes the compaction."""
    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    expired_rows = _slice_rows(spark, raw, days[:1])
    real_write = PartitionedTable.overwrite_partitions

    def fail_chunks(self, df, lineage=None, **kw):
        if (lineage or {}).get("operation") == "retention_compact":
            raise RuntimeError("injected chunk write failure")
        return real_write(self, df, lineage, **kw)

    monkeypatch.setattr(PartitionedTable, "overwrite_partitions", fail_chunks)
    eng = _engine(spark)
    with pytest.raises(RuntimeError, match="injected chunk"):
        _run(eng, spark, tmp_path / "raw", tmp_path / "out", days[1])
    recs = CheckpointManifest(tmp_path / "out" / "_checkpoint.json").records()
    assert set(recs) == set(days)  # tiers done; no compact:<day> key
    assert raw.partition_days() == days
    assert not (tmp_path / "out" / "chunks_raw").exists()

    monkeypatch.setattr(PartitionedTable, "overwrite_partitions", real_write)
    r = _run(eng, spark, tmp_path / "raw", tmp_path / "out", days[1])
    assert r["computed"] == []
    assert r["expired"]["raw"]["compacted"] == days[:1]
    assert r["expired"]["raw"]["dropped"] == 1
    assert raw.partition_days() == days[1:]
    chunks = PartitionedTable(tmp_path / "out" / "chunks_raw", ["day"])
    decoded = sorted(
        (r.series_id, r.ts, float(r.value))
        for r in read_cold(spark, chunks).filter(~F.col("is_gap")).collect()
    )
    assert decoded == expired_rows


def test_run_job_jobs_carry_the_callers_job_group(tmp_path, spark):
    """Every Spark job run_job starts, on its own thread or on the
    compaction and tier-write threads, is in the caller's job group: a
    benchmark or scheduler attributing work by job group sees all of it."""
    from tests.test_engine import _engine

    raw, days = _raw_table(spark, tmp_path / "raw", n_conv=10, avg_turns=40)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def last_job_id() -> int:
        sc.setJobGroup("marker", "marker")
        spark.range(1).count()
        return max(tracker.getJobIdsForGroup("marker"))

    eng = _engine(spark)
    try:
        before = last_job_id()
        sc.setJobGroup("daily", "run_job")
        r = _run(eng, spark, tmp_path / "raw", tmp_path / "out", days[1])
        after = last_job_id()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert r["expired"]["raw"]["compacted"] == days[:1]
    started = set(range(before + 1, after + 1)) - set(tracker.getJobIdsForGroup("marker"))
    assert started
    assert started == set(tracker.getJobIdsForGroup("daily"))

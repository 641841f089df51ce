"""Streaming foreachBatch → exactly-once tier increments: stream drain ≡
batch rollup at every tier, epoch retries apply once, restarts ingest only
new files, and per-epoch QC flags match batch when series don't straddle
epochs (the documented delta-isolation contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rove_spark.operators import checks
from rove_spark.operators.rollup import read_tier, rollup_from_raw
from rove_spark.sources.synthetic import synthetic_transcripts
from rove_spark.sources.tables import PartitionedTable
from rove_spark.streaming.ingest import make_tier_ingest_fn, stream_ingest_tiers

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@pytest.fixture()
def raw(spark):
    return synthetic_transcripts(spark, n_conv=16, avg_turns=30, period_s=60)


def _write_epoch_files(raw, src, n_files=3):
    """One file per conv_id hash bucket → whole series per epoch (the
    split under which per-epoch window checks equal a global recompute)."""
    src.mkdir(exist_ok=True)
    for k in range(n_files):
        part = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(n_files)) == k)
        part.coalesce(1).write.parquet(str(src / f"f{k}"))
    return [str(src / f"f{k}") for k in range(n_files)]


def test_stream_ingest_equals_batch_all_tiers(tmp_path, spark, raw):
    files = _write_epoch_files(raw, tmp_path / "src")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        str(tmp_path / "src" / "*")
    )
    q = stream_ingest_tiers(stream, tmp_path / "out", tmp_path / "ckpt")
    assert q.awaitTermination(300), "stream did not drain in time"
    assert len(files) == 3
    for tier in ("1m", "1h", "1d"):
        inc = PartitionedTable(tmp_path / "out" / f"tier_{tier}_inc", ["day", "batch"])
        assert inc.exists(), tier
        got = read_tier(spark, None, inc, tier)
        assert _canon(got) == _canon(rollup_from_raw(raw, tier)), tier


def test_epoch_retry_applies_once(tmp_path, spark, raw):
    """A replayed epoch (same id, same rows — Spark's retry contract for
    replayable sources) must be a manifest no-op; a half-written epoch
    re-run rewrites its own partitions instead of appending beside them."""
    results: list = []
    fn = make_tier_ingest_fn(
        tmp_path / "out", "s1", tiers=("1m",), results=results
    )
    fn(raw, 0)
    assert [r["applied"] for r in results] == [True]
    fn(raw, 0)  # retry of a fully-committed epoch
    assert [r["applied"] for r in results] == [True, False]
    inc = PartitionedTable(tmp_path / "out" / "tier_1m_inc", ["day", "batch"])
    got = read_tier(spark, None, inc, "1m")
    assert _canon(got) == _canon(rollup_from_raw(raw, "1m"))
    # distinct epoch with distinct rows still lands (id namespacing works)
    more = raw.where(F.length("text") >= 0).limit(0)  # empty delta: no-op
    fn(more, 1)
    assert results[-1]["applied"] is False and results[-1]["n_rows"] == 0


def test_restart_ingests_only_new_files(tmp_path, spark, raw):
    """Second run over the same checkpoint re-reads nothing; a file added
    between runs becomes exactly one new epoch and the merged read equals
    the batch rollup over everything."""
    src = tmp_path / "src"
    src.mkdir()
    old = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    new = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    old.coalesce(1).write.parquet(str(src / "day1"))

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
        q = stream_ingest_tiers(
            stream, tmp_path / "out", tmp_path / "ckpt", tiers=("1m",)
        )
        assert q.awaitTermination(300), "stream did not drain in time"

    run()
    inc = PartitionedTable(tmp_path / "out" / "tier_1m_inc", ["day", "batch"])
    batches_after_first = set(
        r["batch"] for r in inc.read(spark).select("batch").distinct().collect()
    )
    run()  # restart, no new input: no new batches
    batches_after_restart = set(
        r["batch"] for r in inc.read(spark).select("batch").distinct().collect()
    )
    assert batches_after_restart == batches_after_first
    new.coalesce(1).write.parquet(str(src / "day2"))
    run()
    got = read_tier(spark, None, inc, "1m")
    assert _canon(got) == _canon(rollup_from_raw(raw, "1m"))


def test_flags_through_stream_match_batch_on_series_split(tmp_path, spark, raw):
    """QC transform per micro-batch: with whole series per epoch, the
    streamed flag densities equal the batch recompute exactly (window
    checks never straddle an epoch boundary under this routing)."""
    _write_epoch_files(raw, tmp_path / "src")
    flag = lambda df: checks.step_check(  # noqa: E731
        df.withColumn("text_len", F.length("text").cast("double")),
        "text_len",
        max_=120.0,
        series_col="conv_id",
        order_cols=["ts"],
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        str(tmp_path / "src" / "*")
    )
    q = stream_ingest_tiers(
        stream,
        tmp_path / "out",
        tmp_path / "ckpt",
        tiers=("1h",),
        transform=flag,
        checks=["step_check"],
    )
    assert q.awaitTermination(300), "stream did not drain in time"
    inc = PartitionedTable(tmp_path / "out" / "tier_1h_inc", ["day", "batch"])
    got = read_tier(spark, None, inc, "1h")
    expect = rollup_from_raw(flag(raw), "1h", checks=["step_check"])
    assert "n_fail_step_check" in got.columns
    assert _canon(got) == _canon(expect)


def test_stream_id_namespaces_shared_tables(tmp_path, spark, raw):
    """Two streams with different checkpoints may share increment tables:
    their epoch-0 batches must not collide (the digest-derived stream_id
    prevents cross-stream partition overwrite)."""
    a = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    b = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    results: list = []
    fn_a = make_tier_ingest_fn(tmp_path / "out", "sa", tiers=("1m",), results=results)
    fn_b = make_tier_ingest_fn(tmp_path / "out", "sb", tiers=("1m",), results=results)
    fn_a(a, 0)
    fn_b(b, 0)  # same epoch id, different stream
    assert [r["applied"] for r in results] == [True, True]
    inc = PartitionedTable(tmp_path / "out" / "tier_1m_inc", ["day", "batch"])
    got = read_tier(spark, None, inc, "1m")
    assert _canon(got) == _canon(rollup_from_raw(raw, "1m"))


def test_duplicate_content_epochs_both_apply(tmp_path, spark, raw):
    """Two DIFFERENT epochs with byte-identical deltas (a re-published
    file) must BOTH land — a batch recompute over the union counts the
    rows twice, so the stream must too (epoch ids are authoritative;
    content-digest dedup is disabled on this path)."""
    half = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    results: list = []
    fn = make_tier_ingest_fn(tmp_path / "out", "s1", tiers=("1m",), results=results)
    fn(half, 0)
    fn(half, 1)  # identical content, new epoch
    assert [r["applied"] for r in results] == [True, True]
    inc = PartitionedTable(tmp_path / "out" / "tier_1m_inc", ["day", "batch"])
    got = read_tier(spark, None, inc, "1m")
    expect = rollup_from_raw(half.unionAll(half), "1m")
    assert _canon(got) == _canon(expect)


def test_digest_short_circuit_off_requires_explicit_id(tmp_path, spark, raw):
    from tests.test_incremental import _refresh

    inc = PartitionedTable(tmp_path / "inc", ["day", "batch"])
    with pytest.raises(ValueError, match="digest_short_circuit"):
        _refresh(inc, raw, digest_short_circuit=False)
    # same-id replay still dedups on the id alone
    r1 = _refresh(inc, raw, batch_id="e0", digest_short_circuit=False)
    r2 = _refresh(inc, raw, batch_id="e0", digest_short_circuit=False)
    assert r1["applied"] and not r2["applied"]


def test_epoch_is_one_write(tmp_path, spark, raw):
    """An epoch lands all three tiers with exactly one writing SQL
    execution, into the stream's own staging table."""
    from tests.test_incremental import writing_executions

    fn = make_tier_ingest_fn(tmp_path / "out", "s1")
    plans = writing_executions(spark, "epoch", lambda: fn(raw, 0))
    assert len(plans) == 1 and "_inc_staging_s1" in plans[0]
    for tier in ("1m", "1h", "1d"):
        inc = PartitionedTable(tmp_path / "out" / f"tier_{tier}_inc", ["day", "batch"])
        assert _canon(read_tier(spark, None, inc, tier)) == _canon(rollup_from_raw(raw, tier))


def test_stale_staging_is_never_read(tmp_path, spark, raw):
    """A stream's staging leaf left by a killed epoch, here with wrong
    rows under the next epoch's own batch id on a day that epoch does not
    touch, is never swapped in or read, and the next epoch removes it."""
    out = tmp_path / "out"
    stale = out / "_inc_staging_s1" / "tier=1m" / "day=2000-01-01" / "batch=s1-e0"
    wrong = rollup_from_raw(raw, "1m").limit(5)
    wrong.write.parquet(str(stale))
    results: list = []
    fn = make_tier_ingest_fn(out, "s1", results=results)
    fn(raw, 0)
    assert [r["applied"] for r in results] == [True, True, True]
    assert not (out / "_inc_staging_s1").exists()
    for tier in ("1m", "1h", "1d"):
        inc = PartitionedTable(out / f"tier_{tier}_inc", ["day", "batch"])
        assert "2000-01-01" not in inc.partition_days(), tier
        assert _canon(read_tier(spark, None, inc, tier)) == _canon(rollup_from_raw(raw, tier))


def test_replayed_epoch_starts_no_job(tmp_path, spark, raw):
    """A replay of an epoch every tier already holds is answered from the
    increment manifests before the transform's plan or the tier build
    runs: no Spark job, and the same per-tier results as the first
    application, marked not applied."""
    from tests.test_incremental import group_jobs

    def flag(df):
        return checks.step_check(
            df.withColumn("text_len", F.length("text").cast("double")),
            "text_len",
            max_=120.0,
            series_col="conv_id",
            order_cols=["ts"],
        )

    results: list = []
    fn = make_tier_ingest_fn(
        tmp_path / "out", "s1", transform=flag, checks=["step_check"], results=results
    )
    fn(raw, 0)
    first = [dict(r, applied=False) for r in results]
    assert [r["applied"] for r in results] == [True, True, True]
    assert group_jobs(spark, "replay", lambda: fn(raw, 0)) == []
    assert results[3:] == first

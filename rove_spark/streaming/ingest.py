"""Streaming → exactly-once incremental tier ingest (zero streaming state).

The windowed ``stream_rollup`` keeps open windows in the state store and
finalizes them when the watermark passes — the right shape for low-latency
flag feeds, but its answer for a window is only final after eviction and
its state grows with open-window count. This module is the other half of
the continuous-aggregate story: each micro-batch lands as one increment
batch per tier with ONE ``rollup.refresh_tier_increment`` call (one
build of all tiers, one staged write into ``day=…/batch=…`` leaves, under
the stream's own ``out_dir/_inc_staging_<stream_id>``), and
``rollup.read_tier`` merges base + increments exactly on read.

Exactly-once, stated precisely: Structured Streaming replays a failed
epoch with the SAME epoch id and (for replayable sources like files) the
same rows, so the sink-side batch id ``{stream_id}-e{epoch}`` is stable
across retries — a replayed epoch REWRITES its own (day, batch)
partitions byte-equivalently, and each committed tier short-circuits
off its increment manifest (by id). That is the classic
idempotent-foreachBatch recipe (Spark structured-streaming guide,
"foreachBatch — reuse existing batch data sources"), backed here by the
crash-window kill-tests of ``refresh_tier_increment`` itself.

Why this scales to 10^12 turns where complete-mode aggregation cannot:
no streaming state AT ALL (the micro-batch is the delta; history lives in
the tier tables), each epoch costs one delta-sized aggregate plus one
partition-scoped write, and read amplification stays bounded by
``compact_tier_increments``. Reference anchor: rove streams flags and
stores nothing (``/root/reference/src/server.rs:104-123``); the
production target this serves is ~35k obs/min with <5 min flag latency
(``docs/requirements.md:17,24``).

Known growth bound, stated: the increments manifest gains one snapshot
per (tier, epoch) and the id lookup scans it newest-first — a replayed
epoch matches immediately, but a NEW epoch (the common case) scans the
whole history, so a long-lived stream pays O(epochs) driver-side JSON
per epoch. Run ``compact_tier_increments`` on a cadence (it bounds the
READ side) and restart ingest epochs against a fresh checkpoint +
consolidated base periodically; an indexed manifest is the upgrade path
if a deployment truly never rolls over.
"""

from __future__ import annotations

import hashlib
from pathlib import Path
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from rove_spark.operators.rollup import refresh_tier_increment
from rove_spark.sources.tables import open_table


def make_tier_ingest_fn(
    out_dir: str | Path,
    stream_id: str,
    tiers: Sequence[str] = ("1m", "1h", "1d"),
    transform: Callable[[DataFrame], DataFrame] | None = None,
    checks: Sequence[str] = (),
    series_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str | None = "role",
    text_len_source: str = "text",
    tool_col: str = "tool",
    results: list | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch(df, epoch_id)`` callable — separated from
    the writeStream wiring so retry semantics are unit-testable: calling
    it twice with the same epoch id must apply once (second call is a
    manifest no-op), and a half-written epoch re-run must rewrite its own
    partitions, never append beside them.

    ``transform`` runs per micro-batch BEFORE tiering (QC flagging goes
    here); like ``Engine.ingest_late``, window checks then see the batch
    in isolation — flags at epoch edges can differ from a global
    recompute unless the source routes whole series to single epochs.
    Mergeable tier stats are exact under ANY row split (``merge_tiers``
    contract). ``results``, when given, collects one dict per
    (epoch, tier) application for observability/tests."""
    out_dir = Path(out_dir)

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        spark = batch_df.sparkSession
        res = refresh_tier_increment(
            open_table(spark, out_dir / f"_inc_staging_{stream_id}", ["tier", "day", "batch"]),
            {t: open_table(spark, out_dir / f"tier_{t}_inc", ["day", "batch"]) for t in tiers},
            batch_df,
            batch_id=f"{stream_id}-e{epoch_id}",
            series_col=series_col,
            ts_col=ts_col,
            role_col=role_col,
            checks=checks,
            text_len_source=text_len_source,
            tool_col=tool_col,
            # epoch ids are AUTHORITATIVE: two epochs may legally carry
            # byte-identical deltas (a re-published file) and a batch
            # recompute over the union counts both — content-digest
            # dedup would silently drop the second (stream≢batch)
            digest_short_circuit=False,
        )
        if results is not None:
            results.extend({"epoch": epoch_id, **r} for r in res.values())

    return _ingest


def stream_ingest_tiers(
    stream_df: DataFrame,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    stream_id: str | None = None,
    available_now: bool = True,
    **ingest_kwargs,
):
    """Start the ingest stream: ``stream_df.writeStream.foreachBatch``
    over ``make_tier_ingest_fn``, checkpointed at ``checkpoint_dir``.

    ``stream_id`` namespaces this stream's batches inside shared
    increment tables; it defaults to a digest of the RESOLVED checkpoint
    path — stable across restarts of the same checkpoint (so epoch
    retries stay idempotent) and distinct across checkpoints (so two
    independent streams can never overwrite each other's epoch-N
    partitions). Pass it explicitly when the checkpoint may move.

    Returns the started ``StreamingQuery``; with ``available_now`` the
    caller awaits termination and the stream drains all currently
    available input (the batch-parity harness shape used by the
    streaming driver queries)."""
    checkpoint_dir = Path(checkpoint_dir).resolve()  # symlink-stable id
    if stream_id is None:
        stream_id = "s" + hashlib.md5(str(checkpoint_dir).encode()).hexdigest()[:10]
    fn = make_tier_ingest_fn(out_dir, stream_id, **ingest_kwargs)
    writer = (
        stream_df.writeStream.foreachBatch(fn)
        .outputMode("update")
        .option("checkpointLocation", str(checkpoint_dir))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Continuous aggregates: 1m/1h/1d cascading rollup tiers + retention.

north_rule mandate (no rove counterpart — rove streams flags and keeps
nothing, ``/root/reference/src/server.rs:104-123``): roll turn-level stats
(turn counts, text lengths, tool-call rates, QC flag densities per role)
into 1m → 1h → 1d retention tiers, where each coarser tier is re-aggregated
from the next finer one (sums of sums; min/max compose; rates recomputed
from sums at read time).

Exactness design: every additive stat is kept in the *integer* domain
(text lengths are ints, flag counts are ints), so cascading is exactly
associative — ``1m→1h→1d`` is bit-identical to direct-from-raw, which the
tests assert and the DuckDB oracle cross-checks. Rates (tool-call rate,
flag density) are derived columns computed from the integer sums at query
time, never stored, so no float drift can accumulate across tiers.

Scale notes: a tier build is one hash-aggregate — Catalyst gives map-side
partial aggregation for free, so the shuffle carries only
(series, bucket, role) partials, not raw turns. Hot conversations are
bounded per bucket (a conv has ≤ bucket/period turns per bucket), so the
agg itself cannot skew; skew handling matters only for grouped-UDF stages
(see salt.py).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import re
from collections.abc import Sequence
from functools import partial
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rove_spark.model import Flag, flag_col
from rove_spark.operators.util import built_once
from rove_spark.sources.tables import check_day

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}


@built_once
def _base_aggs(text_len_col: str, tool_col: str | None) -> tuple:
    tool_calls = (
        F.sum(F.col(tool_col).isNotNull().cast("long"))
        if tool_col
        else F.sum(F.lit(0).cast("long"))
    )
    return (
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col(text_len_col).cast("long")).alias("text_len_sum"),
        F.min(F.col(text_len_col).cast("long")).alias("text_len_min"),
        F.max(F.col(text_len_col).cast("long")).alias("text_len_max"),
        tool_calls.alias("n_tool_calls"),
    )


def _flag_aggs(checks: Sequence[str]) -> list:
    return [agg for c in checks for agg in _check_aggs(c)]


@built_once
def _check_aggs(check: str) -> tuple:
    fc = F.col(flag_col(check))
    return (
        F.sum((fc == int(Flag.FAIL)).cast("long")).alias(f"n_fail_{check}"),
        F.sum(fc.isin(int(Flag.FAIL), int(Flag.WARN), int(Flag.INVALID)).cast("long")).alias(
            f"n_flagged_{check}"
        ),
    )


@built_once
def _tier_keys(tier: str, series_col: str, ts_col: str, role_col: str | None) -> tuple:
    """Group keys of ``tier``: the series, ``ts_col`` truncated to the
    tier's bucket as ``bucket_ts``, and the role when there is one."""
    keys = (F.col(series_col), F.date_trunc(TIERS[tier], F.col(ts_col)).alias("bucket_ts"))
    return keys + (F.col(role_col),) if role_col else keys


def _is_string(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes).get(col) == "string"


@built_once
def _text_len(text_len_source: str, is_text: bool) -> Column:
    """The int-domain text length: taken here from a string column,
    cast from a precomputed length otherwise."""
    src = F.length(text_len_source) if is_text else F.col(text_len_source)
    return src.cast("long")


def rollup_from_raw(
    df: DataFrame,
    tier: str = "1m",
    series_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str | None = "role",
    text_len_source: str = "text",
    tool_col: str = "tool",
    checks: Sequence[str] = (),
    sketch_cols: dict | None = None,
) -> DataFrame:
    """Raw turns (+ flag columns) → one tier. ``text_len_source`` may be the
    ``text`` column itself (length taken here, int domain) or a precomputed
    integer length column."""
    tl = "_tl"
    df = df.withColumn(tl, _text_len(text_len_source, _is_string(df, text_len_source)))
    sketches = [
        F.hll_sketch_agg(src).alias(f"{name}_hll")
        for name, src in (sketch_cols or {}).items()
    ]
    keys = _tier_keys(tier, series_col, ts_col, role_col)
    return df.groupBy(*keys).agg(*_base_aggs(tl, tool_col), *_flag_aggs(checks), *sketches)


def rollup_cascade(
    tier_df: DataFrame,
    to_tier: str,
    series_col: str = "conv_id",
    role_col: str | None = "role",
) -> DataFrame:
    """Finer tier → coarser tier. Sums of sums / min of mins / max of maxes;
    every stat column composes without touching raw data."""
    keys = _tier_keys(to_tier, series_col, "bucket_ts", role_col)
    aggs = _suffix_aggs(tier_df.dtypes, skip={series_col, "bucket_ts", role_col})
    return tier_df.groupBy(*keys).agg(*aggs)


def _suffix_aggs(dtypes, skip) -> list:
    """The engine's ONE definition of how tier stats compose (cascade ≡
    merge ≡ cross-segment combine): counts/sums additive, ``*_min`` /
    ``*_max`` idempotent-combining, ``*_hll`` sketch union."""
    return [_suffix_agg(name) for name, _dtype in dtypes if name not in skip]


@built_once
def _suffix_agg(name: str) -> Column:
    if name.endswith("_min"):
        return F.min(name).alias(name)
    if name.endswith("_max"):
        return F.max(name).alias(name)
    if name.endswith("_hll"):
        # mergeable distinct sketches: union composes exactly like sums
        # (the continuous-aggregate primitive for COUNT DISTINCT)
        return F.hll_union_agg(name).alias(name)
    return F.sum(name).alias(name)  # counts and sums are additive


def build_tiers(
    df: DataFrame,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str | None = "role",
    checks: Sequence[str] = (),
    text_len_source: str = "text",
    tool_col: str = "tool",
    persist: bool = True,
) -> dict[str, DataFrame]:
    """Raw → {1m, 1h, 1d}, each coarser tier cascaded from the finer one.

    With ``persist`` (default) the 1m tier is cached so the raw scan (and
    any check stages feeding it) runs exactly once across all three tier
    materializations — the scan-sharing analog of rove's
    fetch-once-per-request cache (``pipeline.rs:147-155``,
    ``scheduler.rs:119-129``). Without it, a 3-tier job would recompute
    raw→1m three times. Caller owns ``unpersist`` if memory matters.
    """
    t1m = rollup_from_raw(
        df,
        "1m",
        series_col=series_col,
        ts_col=ts_col,
        role_col=role_col,
        checks=checks,
        text_len_source=text_len_source,
        tool_col=tool_col,
    )
    if persist:
        t1m = t1m.persist()
    t1h = rollup_cascade(t1m, "1h", series_col=series_col, role_col=role_col)
    t1d = rollup_cascade(t1h, "1d", series_col=series_col, role_col=role_col)
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def build_tiers_onepass(
    df: DataFrame,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str | None = "role",
    checks: Sequence[str] = (),
    text_len_source: str = "text",
    tool_col: str | None = "tool",
) -> DataFrame:
    """All three tiers in ONE aggregation pass via GROUPING SETS — every
    tier writer's build (``run_job``, ``refresh_tier_increment``) beside
    ``build_tiers``'s cascade. Returns a single frame tagged with
    ``tier`` ∈ {1m, 1h, 1d}; per-tier rows are EXACTLY ``build_tiers``'
    outputs (integer domain; equality-gated in test_rollup).

    Why it exists: the cascade is the CONTINUOUS-aggregate model (a
    daily job folds new 1m rows upward from the stored finer tier), but
    computing all tiers from raw in one job pays either a persist of the
    1m tier (memory-serialization + three branch reads) or, without it,
    three full input passes — Expand replicates each row 3× through ONE
    partial aggregate instead: a single scan, no cache, and the shuffle
    still carries only tier-row partials. On the bucketed layout the
    only exchange is that partial-row shuffle (Expand hides the scan's
    partitioning from the planner); measured 3.1-3.2 → 3.3-3.5M turns/s
    over the cascade+persist shape at 11.6M turns, interleaved fresh
    JVMs (BENCH.md round 6).

    Sketch columns (HLL) are cascade-only — merge them through
    ``rollup_cascade``, which is their model anyway."""
    d = df.withColumn("_tl", _text_len(text_len_source, _is_string(df, text_len_source)))
    keys = (series_col, role_col) if role_col else (series_col,)
    truncs, sets, by, markers = _onepass_grouping(ts_col, keys)
    out = d.withColumns(dict(truncs)).groupingSets(sets, *by).agg(
        *_base_aggs("_tl", tool_col), *_flag_aggs(checks), *markers
    )
    stats = tuple(c for c in out.columns if c not in {*keys, "_m", "_h", "_d", "_gm", "_gh"})
    return out.select(*_onepass_select(series_col, role_col, stats))


@built_once
def _onepass_grouping(ts_col: str, keys: tuple) -> tuple:
    """``ts_col`` truncated per tier as (name, column) pairs, one grouping
    set per tier (``keys`` plus that truncation), the columns grouped by,
    and the markers of a row's set (``_gm``/``_gh`` 0 where it grouped by
    ``_m``/``_h``)."""
    truncs = {"_m": "minute", "_h": "hour", "_d": "day"}
    return (
        tuple((c, F.date_trunc(unit, F.col(ts_col))) for c, unit in truncs.items()),
        tuple(tuple(F.col(c) for c in (*keys, t)) for t in truncs),
        tuple(F.col(c) for c in (*keys, *truncs)),
        (F.grouping("_m").alias("_gm"), F.grouping("_h").alias("_gh")),
    )


@built_once
def _onepass_select(series_col: str, role_col: str | None, stat_cols: tuple) -> tuple:
    """The output columns: series, the tier's bucket as ``bucket_ts``,
    role, the stats and ``tier``."""
    minute, hour = F.col("_gm") == 0, F.col("_gh") == 0
    tier = F.when(minute, F.lit("1m")).when(hour, F.lit("1h")).otherwise(F.lit("1d"))
    bucket = F.when(minute, F.col("_m")).when(hour, F.col("_h")).otherwise(F.col("_d"))
    return (
        F.col(series_col),
        bucket.alias("bucket_ts"),
        *((F.col(role_col),) if role_col else ()),
        *(F.col(c) for c in stat_cols),
        tier.alias("tier"),
    )


def histogram_bin(value_col: str, lo: float, hi: float, n_bins: int):
    """Bin index expression: clamp(floor((v − lo)/width), 0, n_bins−1);
    NULL for NULL values. Width derives from an exact (lo, hi, n_bins)
    triple so every engine computes identical bins."""
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    return F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int"),
    )


def histogram_agg(value_col: str, lo: float, hi: float, n_bins: int):
    """Aggregate expression: value histogram as an array<long> of bin
    counts — the MERGEABLE quantile-sketch tier stat. Counts are exact
    integers, so coarser tiers merge finer ones by element-wise addition
    with zero drift (same exactness contract as every other tier stat);
    approximate quantiles derive from the stored histogram at read time."""
    b = histogram_bin(value_col, lo, hi, n_bins)
    return F.array(*[F.sum((b == i).cast("long")).alias(f"_b{i}") for i in range(n_bins)])


def merge_histograms(
    df: DataFrame, keys: Sequence[str], hist_col: str = "hist", n_bins: int | None = None
) -> DataFrame:
    """Element-wise sum of histogram arrays per key group — exact merge,
    any fan-in. One groupBy with a per-bin ``sum(element_at(...))``
    aggregate (round 7): the previous posexplode → per-position groupBy →
    collect_list/sort re-assembly pushed n_bins× the rows through two
    exchanges. Pass ``n_bins`` when the caller knows it (every tier call
    site does) — otherwise it is probed with a one-row action, which
    executes the upstream plan an extra time."""
    if n_bins is None:
        n_bins = df.select(F.size(hist_col)).first()[0]
    merged = df.groupBy(*keys).agg(
        F.array(
            *[F.sum(F.element_at(hist_col, i + 1)).alias(f"_b{i}") for i in range(n_bins)]
        ).alias(hist_col)
    )
    # guard: a group whose inputs are all shorter than n_bins yields NULL
    # cells (sum over no values) — drop it rather than silently mis-merge,
    # matching the previous ragged-guard behavior
    return merged.filter(~F.exists(hist_col, lambda x: x.isNull()))


def histogram_quantile(hist_col: str, q: float, lo: float, hi: float, n_bins: int):
    """Read-time approximate quantile from the stored histogram: the
    midpoint of the bin where the cumulative count crosses q·total."""
    width = (hi - lo) / n_bins
    total = F.aggregate(F.col(hist_col), F.lit(0).cast("long"), lambda a, x: a + x)
    target = (total.cast("double") * q).cast("double")
    # running cumsum via transform over indices; first bin with cum ≥ target
    idx = F.sequence(F.lit(0), F.lit(n_bins - 1))
    cums = F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(F.col(hist_col), F.lit(1), i + 1),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    pos = F.array_position(F.transform(cums, lambda c: c.cast("double") >= target), True)
    return F.when(total > 0, F.lit(lo) + (pos.cast("double") - 0.5) * width)


def _truncate_topk(
    counts: DataFrame, keys: Sequence[str], cap: int, out_col: str
) -> DataFrame:
    """(keys, _k, _c) exact counts → per key-group the top-``cap``
    (k, c) pairs, deterministically ordered (count DESC, key ASC via a
    (-count, key) struct sort — ANSI-safe, counts ≪ int64)."""
    pair = F.struct((-F.col("_c")).alias("nc"), F.col("_k").alias("k"))
    return (
        counts.groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_list(pair)), 1, cap).alias("_p"))
        .select(
            *keys,
            F.transform(
                "_p", lambda s: F.struct(s.getField("k").alias("k"), (-s.getField("nc")).alias("c"))
            ).alias(out_col),
        )
    )


def topk_summary(
    df: DataFrame,
    keys: Sequence[str],
    key_col: str,
    cap: int,
    weight_col: str | None = None,
    out_col: str = "topk",
) -> DataFrame:
    """Mergeable heavy-hitters tier stat — the third tier sketch beside
    the histogram and HLL: per key-group, the top-``cap`` (key, count)
    pairs as an ordered ``array<struct<k,c>>`` (count DESC, key ASC —
    the deterministic tie-break that makes the exact regime
    cross-engine hashable). Two map-side-combined hash aggregations:
    exact (group, key) counts, then one collect+sort per group.

    Exactness contract (same shape as the histogram tier): when a
    group's key cardinality ≤ ``cap`` nothing truncates and
    ``merge_topk`` over any fan-in equals the direct summary EXACTLY
    (counts are integer sums). Above ``cap`` it degrades like a
    SpaceSaving-family sketch: a key absent from a child summary lost
    at most that child's cap-th (smallest surviving) count, so a
    merged count under-counts by at most the sum of the cap-th counts
    of the children it was absent from (tested with a planted
    overflow). Size the cap to the per-bucket cardinality — tool/role
    domains at transcript scale are tiny, so tier rows stay small."""
    cnt = (F.sum(weight_col) if weight_col else F.count(F.lit(1))).cast("long")
    counts = (
        df.groupBy(*keys, F.col(key_col).alias("_k")).agg(cnt.alias("_c"))
    )
    return _truncate_topk(counts, keys, cap, out_col)


def merge_topk(
    df: DataFrame,
    keys: Sequence[str],
    cap: int,
    topk_col: str = "topk",
) -> DataFrame:
    """Merge heavy-hitter summaries to a coarser tier: explode pairs,
    sum counts per key, re-truncate with the same deterministic order.
    Exact when no child truncated; bounded-undercount otherwise (see
    ``topk_summary``)."""
    ex = df.select(*keys, F.explode(topk_col).alias("_e"))
    counts = ex.groupBy(*keys, F.col("_e.k").alias("_k")).agg(
        F.sum("_e.c").cast("long").alias("_c")
    )
    return _truncate_topk(counts, keys, cap, topk_col)


def _compress_vsum(
    counts: DataFrame, keys: Sequence[str], cap: int, out_col: str
) -> DataFrame:
    """(keys, _v, _c) exact value counts → per key-group an ascending
    ``array<struct<v,c>>`` of at most ``cap`` entries. GK-style
    rank-stride compression: with m distinct values and
    stride = ceil(m/cap), keep the values at sorted positions
    stride, 2·stride, …, m (the maximum ALWAYS survives) and fold each
    dropped value's count into the next kept value — so cumulative
    counts AT kept values stay exact (rank queries never drift; only the
    reported value can displace upward, by at most one kept-gap).
    Relational build (row_number + count windows, one hash aggregate) —
    the codegen path, no per-element lambdas."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("_v")
    r = (
        counts.withColumn("_rn", F.row_number().over(w))
        .withColumn("_m", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    )
    stride = F.ceil(F.col("_m") / F.lit(cap)).cast("long")
    bucket = F.least(F.ceil(F.col("_rn") / stride).cast("long") * stride, F.col("_m"))
    pair = F.struct(F.col("_kv").alias("v"), F.col("_kc").alias("c"))
    return (
        r.withColumn("_b", bucket)
        .groupBy(*keys, "_b")
        .agg(F.max("_v").alias("_kv"), F.sum("_c").cast("long").alias("_kc"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(pair)).alias(out_col))
    )


def value_summary(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    cap: int,
    out_col: str = "vsum",
) -> DataFrame:
    """Mergeable VALUE-EXACT quantile summary — the fourth tier sketch
    beside histogram, HLL, and top-k, and a stronger exactness class
    than ``histogram_quantile`` (which can only answer with bin
    midpoints): per key-group, the full (value, count) CDF support as an
    ascending ``array<struct<v,c>>``, rank-stride compressed to ≤ ``cap``
    entries (see ``_compress_vsum``).

    Exactness contract (same shape as the histogram/top-k tiers): when a
    group's distinct-value cardinality ≤ ``cap`` nothing compresses,
    ``merge_value_summaries`` over any fan-in is EXACT (integer count
    sums over the identical support), and ``summary_quantiles`` equals
    percentile_disc on the raw rows. Above ``cap`` it degrades like a
    GK/q-digest-family sketch: cumulative counts at kept values remain
    exact, total count is always preserved, and a rank-``t`` query
    returns a kept value whose true rank interval contains ``t`` — the
    value reported for a quantile displaces upward by at most one
    kept-gap (planted-overflow test pins all three bounds). NULL and NaN
    values are the caller's problem (filter first): NULL ordering and
    NaN comparison semantics differ across engines.

    Scale notes: two hash aggregates + one window, all map-side
    combinable on (keys, value) first — the shuffle carries distinct
    (group, value) partials, never raw rows; tier rows stay ≤ cap
    entries by construction."""
    counts = df.groupBy(*keys, F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    return _compress_vsum(counts, keys, cap, out_col)


def merge_value_summaries(
    df: DataFrame,
    keys: Sequence[str],
    cap: int,
    vsum_col: str = "vsum",
) -> DataFrame:
    """Merge value summaries to a coarser tier: explode pairs, sum
    counts per value, re-compress with the same deterministic rule.
    Exact when no child compressed (see ``value_summary``)."""
    ex = df.select(*keys, F.explode(vsum_col).alias("_e"))
    counts = ex.groupBy(*keys, F.col("_e.v").alias("_v")).agg(
        F.sum("_e.c").cast("long").alias("_c")
    )
    return _compress_vsum(counts, keys, cap, vsum_col)


def summary_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    percentiles: Sequence[int],
    vsum_col: str = "vsum",
    prefix: str = "p",
) -> DataFrame:
    """Read-time percentile_disc from stored value summaries: for each
    integer percentile p, the smallest summary value whose cumulative
    count ≥ ceil(p·n/100) — computed in INTEGER arithmetic
    ((n·p + 99) div 100), so the rank target is cross-engine exact (no
    float-boundary flips). Output: keys + ``n_values`` + one ``p{p}``
    column per requested percentile. Exact (≡ percentile_disc over raw
    rows) whenever the summary never compressed; rank-exact with the
    bounded upward value displacement of ``_compress_vsum`` otherwise."""
    from pyspark.sql import Window

    ex = df.select(*keys, F.explode(vsum_col).alias("_e"))
    cum_w = (
        Window.partitionBy(*keys)
        .orderBy("_e.v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = ex.withColumn("_cum", F.sum("_e.c").over(cum_w)).withColumn(
        "_n", F.sum("_e.c").over(Window.partitionBy(*keys))
    )
    aggs = [F.max("_n").cast("long").alias("n_values")]
    for p in percentiles:
        if not 0 < int(p) <= 100:
            raise ValueError(f"percentile must be an integer in (0, 100]: {p}")
        target = F.expr(f"(_n * {int(p)} + 99) div 100")
        aggs.append(
            F.min(F.when(F.col("_cum") >= target, F.col("_e.v"))).alias(f"{prefix}{int(p)}")
        )
    return c.groupBy(*keys).agg(*aggs)


def with_sketch_estimates(tier_df: DataFrame) -> DataFrame:
    """Read-time distinct estimates from the stored HLL sketches."""
    out = tier_df
    for name, dtype in tier_df.dtypes:
        if name.endswith("_hll") and dtype == "binary":
            out = out.withColumn(
                name.removesuffix("_hll") + "_distinct", F.hll_sketch_estimate(name)
            )
    return out


def retention_compact(
    spark,
    raw_table,
    chunk_table,
    older_than_day: str,
    value_col: str,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    manifest=None,
    fingerprint: str = "unfingerprinted",
) -> dict:
    """Cold-tier compaction: before raw day partitions age out, compress
    them into the Gorilla chunk table mandated by SURVEY §1.4 / §2.8
    (``(series_id, chunk_start, ts_codec, val_codec, n_points, checksum)``
    — ``gorilla.CHUNK_SCHEMA``), THEN drop them. A 100 TB deployment
    keeps the expired raw signal queryable in compressed chunks
    (``read_cold``), not /dev/null (round-5 verdict item 1).

    Two steps, callable apart: ``compact_raw_days`` encodes and writes
    the chunks (and marks them in the manifest) without touching the raw
    table; ``drop_compacted`` then drops the expiring raw days. This
    function runs one right after the other. ``Engine.run_job`` runs the
    compact step beside its tier writes, and the drop only once those
    writes are done, because they read the expiring days as window
    context until then.

    Resume contract (same idempotence class as tier writes):
    - expiring days come from a partition-METADATA listing, never a scan;
    - each day's chunks land via dynamic partition overwrite — a crashed
      write is simply rewritten on resume;
    - with a ``manifest``, each compacted day is marked
      ``compact:<day>`` AFTER its chunks commit and BEFORE the raw drop,
      so a kill between the two re-drops without re-encoding, and a kill
      mid-write re-encodes (byte-identical — the codec is deterministic);
    - the raw drop always covers every still-present expiring partition,
      manifest state notwithstanding — chunks are never the only copy
      until their write committed.

    Scale shape: the encode is ``compress_series``'s grouped-Arrow stage
    (bounded (series, month) groups through ``parallel_groups``); reads
    are day-partition-pruned on both sides; the drop is metadata-only.
    Both tables are partitioned by ``day``, and ``older_than_day`` must
    be a ``YYYY-MM-DD`` date (``check_day``). The chunk write goes
    through the chunk table's own re-cluster on ``day``: the encode
    stage leaves many mixed-day partitions, and a bare
    ``partitionBy(day)`` write from those emits one tiny file per
    (task, day) pair — measured 1,192 files for 30 day-partitions at
    sf0.01, the exact small-files pathology a cold tier exists to avoid.
    Re-clustered, each expired day is one compact file of chunks."""
    result = compact_raw_days(
        spark, raw_table, chunk_table, older_than_day, value_col,
        series_col=series_col, ts_col=ts_col, manifest=manifest,
        fingerprint=fingerprint,
    )
    return drop_compacted(raw_table, result, older_than_day)


def compact_raw_days(
    spark,
    raw_table,
    chunk_table,
    older_than_day: str,
    value_col: str,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    manifest=None,
    fingerprint: str = "unfingerprinted",
) -> dict:
    """The compact step of ``retention_compact``: encode the raw days
    before ``older_than_day`` that the manifest has not marked
    ``compact:<day>``, write their chunks and mark them. Reads the raw
    table and drops nothing; the result's ``dropped`` stays 0 until
    ``drop_compacted`` fills it in."""
    from rove_spark.operators.gorilla import compress_series

    check_day(older_than_day)
    expiring = [d for d in raw_table.partition_days() if d < older_than_day]
    done = manifest.done_partitions(fingerprint) if manifest is not None else set()
    todo = [d for d in expiring if f"compact:{d}" not in done]
    result = {
        "expiring": expiring,
        "compacted": todo,
        "resumed_skip": sorted(set(expiring) - set(todo)),
        "dropped": 0,
    }
    if todo:
        raw = raw_table.read(spark).filter(F.col("day").isin(todo))
        if value_col not in raw.columns:
            raise ValueError(
                f"retention_compact: value column {value_col!r} not in raw "
                f"table columns {raw.columns} — the cold tier must encode "
                "the same signal the job checks"
            )
        chunks = compress_series(
            raw, value_col, series_col=series_col, ts_col=ts_col
        ).withColumn(
            "day", F.date_format(F.date_trunc("day", "chunk_start"), "yyyy-MM-dd")
        )
        chunk_table.overwrite_partitions(
            chunks,
            lineage={
                "operation": "retention_compact",
                "cutoff": older_than_day,
                "days": todo,
                "fingerprint": fingerprint,
            },
        )
        if manifest is not None:
            manifest.mark_done(
                [f"compact:{d}" for d in todo],
                fingerprint,
                lineage={"operation": "retention_compact", "cutoff": older_than_day},
                metrics={},
            )
    return result


def drop_compacted(raw_table, result: dict, older_than_day: str) -> dict:
    """The drop step of ``retention_compact``: once ``compact_raw_days``
    returned ``result``, drop every raw day partition before
    ``older_than_day`` (metadata-only) and record the count in
    ``result["dropped"]``."""
    if result["expiring"]:
        result["dropped"] = raw_table.expire_days_before(older_than_day)
    return result


def read_cold(spark, chunk_table, value_col: str = "value"):
    """Read-through decode of the WHOLE cold tier (the unpruned special
    case of ``cold_source``): chunk table → long
    ``(series_id, ts, value, is_gap)`` rows, CRC-verified per chunk.
    Union with the hot raw table at the call site for a seamless
    hot+cold scan."""
    return cold_source(spark, chunk_table, value_col=value_col)(None, None)


def cold_source(spark, chunk_table, value_col: str = "value"):
    """Spec-aware DataSwitch source over the cold tier: a
    ``(time_spec, space_spec) -> DataFrame`` callable that prunes chunk
    PARTITIONS (day range from the time spec, series ids from a
    One-spec) BEFORE the Gorilla decode — the decode is a Python stage,
    so Catalyst cannot push the post-hoc fetch predicates through it;
    this is the reference's connector-pushdown pattern
    (``fetch.rs:184-211``: specs travel INTO the connector) re-expressed
    for a decode-behind source. At 100 TB the difference is decoding
    the requested days vs decoding the entire archive.

    ``DataSwitch.fetch`` re-applies the exact predicates on the decoded
    rows, so this source only prunes (whole chunks whose day overlaps
    the range), never filters exactly."""
    from rove_spark.operators.gorilla import decompress_series

    def src(time_spec=None, space_spec=None):
        chunks = chunk_table.read(spark)
        if time_spec is not None:
            # a day chunk overlaps [start, end] iff its day partition is
            # within [day(start), day(end)] — lexicographic on yyyy-MM-dd
            chunks = chunks.filter(
                F.col("day").between(
                    time_spec.start.strftime("%Y-%m-%d"),
                    time_spec.end.strftime("%Y-%m-%d"),
                )
            )
        if space_spec is not None and space_spec.kind == "one":
            chunks = chunks.filter(
                F.col("series_id").isin([str(i) for i in space_spec.ids])
            )
        return decompress_series(chunks.drop("day"), value_col=value_col)

    src.spec_aware = True  # DataSwitch.register opts it in automatically
    return src


# --------------------------------------------------------------------- #
# Incremental (continuous-aggregate) refresh — the late-data path.
#
# The checkpointed job (plans/engine.py) re-aggregates DIRTY DAYS from
# raw; at 10^12 turns the raw day may already be archived (cold tier) or
# a re-scan unaffordable. This section adds the delta-only path: merge
# new observations into already-built tiers touching only delta-sized
# data, exactly-once under crash/replay, without ever rewriting the
# base table.
# --------------------------------------------------------------------- #

# fullmatch (not match+$): '$' would accept a trailing newline, which
# Spark escapes to %0A in the partition dir — the dir-derived name would
# then never match the column value and compaction would silently drop
# the batch from the fold while deleting its source partitions
_BATCH_ID_RE = re.compile(r"[A-Za-z0-9._-]+")


def _fold_markers(inc_root: Path) -> list[dict]:
    folds_dir = inc_root / "_folds"
    if not folds_dir.exists():
        return []
    return [json.loads(m.read_text()) for m in sorted(folds_dir.glob("fold-*.json"))]


def _visible_batches(inc_table) -> list[str]:
    """The EXACTLY-ONCE read set for an increments table, derived from
    disk leaves + committed fold markers (local metadata, no data scan):

    - a fold partition WITHOUT a marker is uncommitted garbage from a
      crashed consolidated write (its sources are fully intact) —
      invisible;
    - a committed marker SUPERSEDES its source batches, which may still
      survive a marker→drop crash — sources of any committed fold are
      invisible;
    - everything else (plain batches, committed folds not themselves
      folded away by a later marker) is visible.

    Reads filtered to this set are exact across EVERY compaction crash
    window, without requiring a compact rerun first (kill-tested).
    Batch names are [A-Za-z0-9._-] by validation, so partition-dir
    names equal raw column values (no URL escaping)."""
    if not hasattr(inc_table, "path"):
        raise NotImplementedError(
            "increment visibility/compaction need the path-backed parquet "
            "shim (fold markers live beside the partitions); on a real "
            "Iceberg catalog, consolidation belongs to Iceberg's own "
            "rewrite_data_files/snapshot machinery instead"
        )
    inc_root = Path(inc_table.path)
    on_disk = {
        b.name.split("=", 1)[1]
        for d in inc_root.glob("day=*")
        for b in d.glob("batch=*")
    }
    markers = _fold_markers(inc_root)
    committed = {m["fold_id"] for m in markers}
    folded = {b for m in markers for b in m["batches"]}
    return sorted(
        b
        for b in on_disk
        if b not in folded and (b in committed if b.startswith("fold-") else True)
    )


def merge_tiers(
    a: DataFrame,
    b: DataFrame,
    tier: str,
    series_col: str = "conv_id",
    role_col: str | None = "role",
    allow_missing_columns: bool = False,
) -> DataFrame:
    """Mergeable-aggregate combine of two SAME-tier frames — the
    continuous-aggregate refresh primitive (engine-only north_rule
    surface; rove streams flags and stores nothing,
    ``/root/reference/src/server.rs:104-123``). Every tier stat is
    decomposable — counts/sums additive, min/max idempotent-combining,
    HLL sketches union — so merging IS ``rollup_cascade`` at the
    frame's own granularity: ``date_trunc`` is the identity on
    already-truncated ``bucket_ts`` and the suffix-driven agg rules are
    exactly the merge rules (one definition, no drift).

    Exactness contract: ``merge(tier(A), tier(B)) ≡ tier(A ∪ B)`` for
    ANY row split, including splits landing rows of one bucket in both
    halves — integer-domain sums make it bit-exact (DuckDB-oracled by
    the ``rollup_incremental`` driver query). Append-only: an increment
    adds observations; retractions are not representable (a merged
    min/max cannot be un-merged).

    Schema evolution (``allow_missing_columns``): a check added later
    yields new ``n_fail_*``/``n_flagged_*`` columns only on NEW
    increments — history need not be rebuilt. The missing side
    contributes nulls, which every merge rule ignores (sum/min/max/HLL
    skip nulls), so a bucket fed only by pre-check history reads the
    new stat as NULL — honestly "not measured", distinct from 0; a
    bucket with any post-check contribution gets that contribution
    exactly (tested)."""
    return rollup_cascade(
        a.unionByName(b, allowMissingColumns=allow_missing_columns),
        tier,
        series_col=series_col,
        role_col=role_col,
    )


def refresh_tier_increment(
    staging,
    inc_tables: dict,
    delta_raw: DataFrame,
    batch_id: str | None = None,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    role_col: str | None = "role",
    checks: Sequence[str] = (),
    text_len_source: str = "text",
    tool_col: str | None = "tool",
    digest_short_circuit: bool = True,
) -> dict[str, dict]:
    """Delta-only, EXACTLY-ONCE tier refresh: the delta's tier rows land
    in their own ``day=…/batch=…`` partitions of each tier's increments
    table (``inc_tables``, by tier) by partition replacement, so a
    crashed or replayed ingest REWRITES the same partitions instead of
    double-counting. The base tiers are never touched; ``read_tier``
    merges base + increments and ``compact_tier_increments`` bounds the
    increment count. Returns ``{tier: {batch_id, tier, days, n_rows,
    applied}}``.

    Cost shape, the daily job's: ONE GROUPING SETS aggregation of every
    tier over the DELTA (``build_tiers_onepass``), checkpointed; ONE
    stats action grouped by tier; ONE Spark write of the pending tiers
    into ``staging`` (partitioned by tier, day, batch; one writer at a
    time), whose leaves replace the increments' by rename
    (``overwrite_split``). Each tier commits its own manifest entry, so
    a call killed between two tiers' swaps re-applies only the rest.

    A tier's content digest (row count + order-free
    ``bit_xor(xxhash64(*))`` over ``rollup_from_raw``'s columns; 64-bit,
    so an accidental collision is ~2^-64 per pair) is recorded by
    default: its batch id defaults to it, and the manifest short-circuit
    matches on id OR digest — so re-ingesting the same delta is a no-op
    whether the first ingest used an explicit id and the retry did not,
    or vice versa. Ids must be filesystem-safe; the ``fold-`` prefix is
    reserved for consolidation batches.

    ``digest_short_circuit=False`` is for callers whose batch ids are
    AUTHORITATIVE — distinct ids mean distinct batches even when their
    content coincides (a streaming source may legitimately deliver two
    epochs with byte-identical deltas, e.g. a re-published file; a
    batch recompute over the union counts both, so the merge must too —
    the stream≡batch contract of ``streaming/ingest``). It requires an
    explicit ``batch_id``, records no digest, and dedups on the id
    alone: when every tier already holds that id (a replayed epoch) it
    returns before building anything, with no Spark job."""
    if batch_id is not None and (
        not _BATCH_ID_RE.fullmatch(batch_id) or batch_id.startswith("fold-")
    ):
        raise ValueError(
            f"refresh_tier_increment: batch_id {batch_id!r} must be "
            "filesystem-safe ([A-Za-z0-9._-]) and must not use the "
            "reserved 'fold-' prefix (consolidation batches)"
        )
    if not digest_short_circuit:
        if batch_id is None:
            raise ValueError(
                "refresh_tier_increment: digest_short_circuit=False requires an "
                "explicit batch_id (there is no digest to default it from)"
            )
        # an authoritative id needs no data: a replay of a batch every
        # tier already holds returns before any Spark job
        done = {t: _applied_increment(tb, t, batch_id, None) for t, tb in inc_tables.items()}
        if all(done.values()):
            return {t: _increment_result(t, lin, False) for t, lin in done.items()}
    tiers = build_tiers_onepass(
        delta_raw,
        series_col=series_col,
        ts_col=ts_col,
        role_col=role_col,
        checks=checks,
        text_len_source=text_len_source,
        tool_col=tool_col,
    )
    if set(inc_tables) != set(TIERS):
        tiers = tiers.filter(F.col("tier").isin(list(inc_tables)))
    # referenced by the stats action and the write
    tiers = tiers.withColumn("day", _day_of_bucket()).localCheckpoint(eager=False)
    aggs = [F.count(F.lit(1)).alias("n"), F.sort_array(F.collect_set("day")).alias("days")]
    if digest_short_circuit:  # over rollup_from_raw's columns, in order
        cols = ", ".join(f"`{c}`" for c in tiers.columns[:-2])
        aggs.append(F.expr(f"bit_xor(xxhash64({cols}))").alias("x"))
    stats = {r["tier"]: r for r in tiers.groupBy("tier").agg(*aggs).collect()}
    out: dict[str, dict] = {}
    pending: dict[str, dict] = {}  # tier -> its manifest lineage
    for tier, table in inc_tables.items():
        row = stats.get(tier)
        if row is None:  # the delta has no rows at this tier
            lin, applied = {"batch_id": batch_id, "days": [], "n_rows": 0}, False
        else:
            digest = (
                f"d{row['n']}x{(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
                if digest_short_circuit
                else None
            )
            lin = _applied_increment(table, tier, batch_id or digest, digest)
            applied = lin is None
            if applied:
                lin = pending[tier] = {
                    "operation": "tier_increment",
                    "batch_id": batch_id or digest,
                    "digest": digest,
                    "tier": tier,
                    "days": list(row["days"]),
                    "n_rows": row["n"],
                }
        out[tier] = _increment_result(tier, lin, applied)
    if pending:
        # without an explicit id each tier's batch is its own digest
        batch = F.create_map(*[F.lit(x) for t, lin in pending.items() for x in (t, lin["batch_id"])])
        staging.overwrite_split(
            tiers.filter(F.col("tier").isin(list(pending))).withColumn("batch", batch[F.col("tier")]),
            {tier: inc_tables[tier] for tier in pending},
            lineage=pending,
        )
    return out


def _increment_result(tier: str, lineage: dict, applied: bool) -> dict:
    """``refresh_tier_increment``'s result for one tier."""
    return {
        "batch_id": lineage.get("batch_id"),
        "tier": tier,
        "days": lineage.get("days", []),
        "n_rows": lineage.get("n_rows"),
        "applied": applied,
    }


@built_once
def _day_of_bucket() -> Column:
    """A tier row's ``day`` partition value: its bucket's UTC day."""
    return F.date_format(F.date_trunc("day", "bucket_ts"), "yyyy-MM-dd")


def _applied_increment(inc_table, tier: str, batch_id: str | None, digest: str | None):
    """The lineage of the newest increment of ``tier`` in ``inc_table``
    with this batch id or content digest, else None."""
    for snap in reversed(inc_table.snapshots):
        lin = snap.get("lineage") or {}
        if (
            lin.get("operation") == "tier_increment"
            and lin.get("tier") == tier
            and (
                lin.get("batch_id") == batch_id
                or (digest is not None and lin.get("digest") == digest)
            )
        ):
            return lin
    return None


def read_tier(
    spark,
    base_table,
    inc_table,
    tier: str,
    series_col: str = "conv_id",
    days: Sequence[str] | None = None,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """Merge-on-read of base + increments (``merge_tiers`` semantics —
    exact, suffix-driven). ``days`` prunes BOTH scans to the named day
    partitions before any aggregation (PartitionFilters — plan-gated in
    tests), so a windowed read over a 10^12-turn table touches only the
    requested days of tier rows. Either side may be absent (a brand-new
    table has only increments; a quiet one only base). Rows group by
    ``role`` as well when the first table read (the base, else the
    increments) has that column.

    Crash-exactness: the increments scan is filtered to
    ``_visible_batches`` — committed fold markers supersede any source
    partitions surviving a marker→drop crash, and unmarked fold
    partitions from a crashed consolidated write are invisible — so a
    read between a compaction crash and its rerun neither double-counts
    nor loses rows (kill-tested). A base-only read returns the stored
    tier rows directly (already unique per bucket — no shuffle).

    ``allow_missing_columns`` enables schema evolution (a check added
    after history was built — see ``merge_tiers``): the increments scan
    merges parquet footers across batches so an evolved batch's new
    columns survive the read, and the base/increment union tolerates
    the missing side (nulls ≡ "not measured")."""
    base_part = None
    if base_table is not None and base_table.exists():
        df = base_table.read(spark)
        if days is not None:
            df = df.filter(F.col("day").isin(list(days)))
        base_part = df.drop("day")
    inc_part = None
    if inc_table is not None and inc_table.exists():
        if allow_missing_columns:
            # batches may carry different column sets — merge footers
            # (the parquet shim's analog of an evolved Iceberg schema)
            df = spark.read.option("mergeSchema", True).parquet(str(inc_table.path))
        else:
            df = inc_table.read(spark)
        df = df.filter(F.col("batch").isin(_visible_batches(inc_table)))
        if days is not None:
            df = df.filter(F.col("day").isin(list(days)))
        inc_part = df.drop("day", "batch")
    if base_part is None and inc_part is None:
        raise ValueError("read_tier: neither base nor increments table exists")
    if inc_part is None:
        return base_part
    first = inc_part if base_part is None else base_part
    role_col = "role" if "role" in first.columns else None
    if base_part is None:
        # increment batches may overlap buckets — combine them
        return rollup_cascade(inc_part, tier, series_col=series_col, role_col=role_col)
    return merge_tiers(
        base_part,
        inc_part,
        tier,
        series_col=series_col,
        role_col=role_col,
        allow_missing_columns=allow_missing_columns,
    )


_TIER_WIDTHS = {
    "1m": datetime.timedelta(minutes=1),
    "1h": datetime.timedelta(hours=1),
    "1d": datetime.timedelta(days=1),
}
_TIER_FLOORS = {
    "1m": lambda t: t.replace(second=0, microsecond=0),
    "1h": lambda t: t.replace(minute=0, second=0, microsecond=0),
    "1d": lambda t: t.replace(hour=0, minute=0, second=0, microsecond=0),
}
# adding a tier to TIERS without its width/floor would pass the
# "tier not in TIERS" guards and then KeyError mid-operator — fail at import
assert set(_TIER_WIDTHS) == set(_TIER_FLOORS) == set(TIERS)


def _as_datetime(boundary) -> datetime.datetime:
    """Accept datetime.date (the natural watermark type for a daily tier
    — day-aligned by definition) alongside datetime.datetime. A tz-AWARE
    datetime is converted to its UTC instant and made naive: the whole
    engine compares against TIMESTAMP_NTZ storage under a UTC session,
    and flooring/day-pruning an aware value on its own wall clock would
    silently misalign with the stored UTC bucket grid (e.g. a +03:00
    midnight is not a bucket boundary)."""
    if isinstance(boundary, datetime.datetime):
        if boundary.tzinfo is not None:
            return boundary.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return boundary
    if isinstance(boundary, datetime.date):
        return datetime.datetime(boundary.year, boundary.month, boundary.day)
    raise TypeError(
        f"boundary must be a datetime.date/datetime, got {type(boundary).__name__}"
    )


def _tail_rollup(tier, series_col, ts_col, role_col, checks, text_len_source, tool_col):
    """The default ``rollup_fn`` of ``realtime_tier`` and
    ``range_aggregate``: ``rollup_from_raw`` at ``tier``."""
    return partial(
        rollup_from_raw,
        tier=tier,
        series_col=series_col,
        ts_col=ts_col,
        role_col=role_col,
        checks=checks,
        text_len_source=text_len_source,
        tool_col=tool_col,
    )


def realtime_tier(
    materialized: DataFrame,
    raw: DataFrame,
    tier: str,
    boundary,
    rollup_fn=None,
    ts_col: str = "ts",
    series_col: str = "conv_id",
    role_col: str | None = "role",
    checks: Sequence[str] = (),
    text_len_source: str = "text",
    tool_col: str = "tool",
) -> DataFrame:
    """Query-time freshness for a continuous aggregate (the TimescaleDB
    real-time-aggregate shape): the materialized tier answers every
    bucket STRICTLY BEFORE ``boundary``; buckets at/after it are
    aggregated on the fly from the raw tail. ``boundary`` is the
    materialization watermark — typically the bucket ceiling of the last
    refreshed ingest. No rove counterpart (rove streams flags and stores
    nothing, ``/root/reference/src/server.rs:104-123``); this completes
    the engine's continuous-aggregate lifecycle: build (``build_tiers``)
    → incremental refresh (``refresh_tier_increment``/``read_tier``) →
    READ-TIME FRESHNESS (here) → retention (``expire_days_before``) → cold
    compression (``retention_compact``).

    Exactness: ``boundary`` must be aligned to the tier's bucket width
    (validated here) so no bucket straddles the split — then
    ``view ≡ tier(full raw)`` bit-exactly for integer-domain stats
    (DuckDB-oracled by the ``realtime_tier`` driver query against the
    direct full rollup). The materialized side is defensively clipped to
    ``bucket_ts < boundary`` so a tier table that already ingested part
    of the tail cannot double-count.

    100 TB cost shape: the tier scan is tiny (pre-aggregated rows) and
    the raw scan is ``ts >= boundary`` — the filter sits directly over
    the source so Catalyst pushes it into the scan (PushedFilters /
    partition pruning on a day-partitioned raw table; plan-gated in
    test_plans). A day-aligned boundary over a day-partitioned raw table
    reads exactly the unmaterialized days, never history.

    ``rollup_fn`` overrides the tail aggregation for callers whose tier
    frames were built with a custom shape; it must group on
    ``date_trunc(tier unit, ts)`` or the no-straddle contract (and hence
    exactness) is void. Default: ``rollup_from_raw`` with the standard
    transcript schema.
    """
    if tier not in TIERS:
        raise ValueError(f"realtime_tier: unknown tier {tier!r} (want {list(TIERS)})")
    boundary = _as_datetime(boundary)
    if _TIER_FLOORS[tier](boundary) != boundary:
        raise ValueError(
            f"realtime_tier: boundary {boundary!r} is not aligned to the "
            f"{tier} bucket grid — an unaligned boundary splits one bucket "
            "across the materialized and fresh sides and double-counts it"
        )
    if rollup_fn is None:
        rollup_fn = _tail_rollup(
            tier, series_col, ts_col, role_col, checks, text_len_source, tool_col
        )
    # Cast the LITERAL to the raw ts column's exact type (the testdata
    # parquet is TIMESTAMP_NTZ): a cast on the column side would wrap the
    # scan attribute and block parquet predicate pushdown — a constant
    # cast folds away and the bare-column comparison reaches PushedFilters.
    tail_pred = F.col(ts_col) >= F.lit(boundary).cast(
        dict(raw.dtypes)[ts_col]
    )
    mat = materialized.filter(
        F.col("bucket_ts") < F.lit(boundary).cast(dict(materialized.dtypes)["bucket_ts"])
    )
    fresh = rollup_fn(raw.filter(tail_pred))
    return mat.unionByName(fresh)


def route_range(start, end, levels: Sequence[str] = ("1d", "1h", "1m")):
    """Decompose the half-open time range ``[start, end)`` into the
    MAXIMAL disjoint cover by tier buckets, coarse-first: whole days in
    the interior, whole hours on the day edges, whole minutes on the
    hour edges, and a ``"raw"`` remainder for any sub-minute slivers.
    Returns ``[(level, seg_start, seg_end), ...]`` in time order; every
    tier segment is aligned to its level's bucket grid by construction
    (``seg_start``/``seg_end`` are multiples of the bucket width), which
    is exactly the no-straddle condition that makes tier rows inside the
    segment sum to the raw truth. ``levels`` must be a coarse→fine
    subsequence of ``("1d", "1h", "1m")`` — a query layer with only some
    tiers materialized routes over what it has and widens the raw
    remainder accordingly."""
    order = [lv for lv in ("1d", "1h", "1m") if lv in levels]
    if list(levels) != order:
        raise ValueError(
            f"route_range: levels {list(levels)!r} must be a coarse-to-fine "
            "subsequence of ['1d', '1h', '1m']"
        )
    start, end = _as_datetime(start), _as_datetime(end)
    if start > end:
        raise ValueError(f"route_range: start {start!r} is after end {end!r}")
    segs: list[tuple] = []

    def rec(s, e, i):
        if s >= e:
            return
        if i == len(order):
            segs.append(("raw", s, e))
            return
        floor = _TIER_FLOORS[order[i]]
        width = _TIER_WIDTHS[order[i]]
        lo = s if floor(s) == s else floor(s) + width
        hi = floor(e)
        if lo < hi:
            rec(s, lo, i + 1)
            segs.append((order[i], lo, hi))
            rec(hi, e, i + 1)
        else:
            rec(s, e, i + 1)

    rec(start, end, 0)
    return segs


def range_aggregate(
    raw: DataFrame | None,
    tiers: dict[str, DataFrame],
    start,
    end,
    rollup_fn=None,
    ts_col: str = "ts",
    series_col: str = "conv_id",
    role_col: str | None = "role",
    checks: Sequence[str] = (),
    text_len_source: str = "text",
    tool_col: str = "tool",
) -> DataFrame:
    """Tier-routed range aggregate (the materialized-view-routing read
    path of a continuous aggregate, TimescaleDB/Druid-style): answer a
    per-series aggregate over ``[start, end)`` from the COARSEST tier
    rows that fit — whole interior days from the 1d tier, edge hours
    from 1h, edge minutes from 1m, and only sub-minute slivers from raw
    (``route_range`` computes the maximal aligned cover). No rove
    counterpart (rove streams flags and stores nothing,
    ``/root/reference/src/server.rs:104-123``); this is the read-side
    payoff of the tier cascade the north rule mandates.

    Exactness: the segments are disjoint, cover ``[start, end)``
    exactly, and are bucket-aligned per level, so combining the segment
    partials under the cascade's own suffix rules (``_suffix_aggs`` —
    counts/sums add, min/max combine, HLL unions; ONE definition shared
    with ``rollup_cascade``/``merge_tiers``) reproduces the direct raw
    aggregate bit-exactly in the integer domain (DuckDB-oracled by the
    ``tier_route`` driver query against a direct raw-scan aggregate).

    100 TB cost shape: a 90-day range reads ~90 1d rows per series plus
    at most 2×23 1h rows, 2×59 1m rows and 2×59 s of raw per edge —
    O(tier rows), not O(raw rows). Every segment filter compares a bare
    column to a literal CAST TO THE COLUMN'S TYPE, so it reaches the
    parquet scans as PushedFilters / partition pruning (plan-gated in
    test_plans); the final combine groups the few surviving partials on
    the series key only.

    ``tiers`` maps level → tier frame (``bucket_ts`` + stat columns, the
    ``build_tiers`` shape); levels absent from the dict simply widen the
    finer segments, so a deployment with only a 1m tier still routes.
    ``raw=None`` serves tier-only stores: a range whose edges align to
    the finest available tier needs no raw rows; one that doesn't raises
    a named error instead of silently undercounting the slivers.
    ``rollup_fn`` (default: ``rollup_from_raw`` with the standard
    transcript schema, same contract as ``realtime_tier``) aggregates
    raw slivers to the SAME stat columns; its grouping granularity is
    irrelevant because every partial is re-combined on the series key."""
    levels = [lv for lv in ("1d", "1h", "1m") if lv in tiers]
    if len(levels) != len(tiers):
        raise ValueError(
            f"range_aggregate: unknown tier keys {sorted(set(tiers) - set(levels))!r}"
            f" (want a subset of ['1d', '1h', '1m'])"
        )
    if raw is None and not tiers:
        raise ValueError("range_aggregate: need a raw frame or at least one tier")
    start, end = _as_datetime(start), _as_datetime(end)
    if rollup_fn is None:
        rollup_fn = _tail_rollup(
            "1m", series_col, ts_col, role_col, checks, text_len_source, tool_col
        )
    segs = route_range(start, end, levels=tuple(levels))
    if not segs:  # empty range: typed empty frame, no raw source required
        segs = [("raw", start, start)] if raw is not None else []
        if not segs:
            lv0 = next(iter(tiers))
            segs = [(lv0, start, start)]
    parts = []
    for level, s, e in segs:
        if level == "raw":
            if raw is None:
                raise ValueError(
                    f"range_aggregate: the range needs raw rows for "
                    f"[{s}, {e}) but no raw frame was provided — pass the "
                    "hot raw table (union the cold-tier decode for expired "
                    "days), or align start/end to the finest tier's grid"
                )
            raw_ts_type = dict(raw.dtypes)[ts_col]
            pred = (F.col(ts_col) >= F.lit(s).cast(raw_ts_type)) & (
                F.col(ts_col) < F.lit(e).cast(raw_ts_type)
            )
            parts.append(rollup_fn(raw.filter(pred)))
        else:
            frame = tiers[level]
            bt = dict(frame.dtypes)["bucket_ts"]
            parts.append(
                frame.filter(
                    (F.col("bucket_ts") >= F.lit(s).cast(bt))
                    & (F.col("bucket_ts") < F.lit(e).cast(bt))
                )
            )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    keys = [series_col] + ([role_col] if role_col else [])
    return merged.groupBy(*keys).agg(
        *_suffix_aggs(merged.dtypes, skip={*keys, "bucket_ts"})
    )


def compact_tier_increments(
    spark,
    inc_table,
    tier: str,
    series_col: str = "conv_id",
    role_col: str | None = "role",
) -> dict:
    """Fold every increment batch into ONE consolidated batch, keeping
    merge-on-read cost bounded, with NO crash window that double-counts
    or loses data — using only idempotent rewrites plus one atomic
    rename:

    1. the consolidated content is a PURE FUNCTION of the source batches
       (its id ``fold-<digest of source ids>`` likewise), and sources
       are immutable until step 3 — so a replay that crashed mid-write
       recomputes byte-identical rows and dynamic-overwrites the same
       partitions;
    2. a fold MARKER (``_folds/<id>.json``, tmp + atomic rename — Spark
       ignores underscore-prefixed dirs) listing the folded source
       partitions is written only AFTER the consolidated write commits;
    3. sources are dropped only AFTER the marker lands; a replay that
       finds a marker with surviving sources skips recompute (recomputing
       from a partially-dropped remnant would LOSE rows) and just
       finishes the cleanup;
    4. fold partitions present on disk WITHOUT a marker are uncommitted
       garbage from a crashed fold (their sources are, by 3, fully
       intact) and are dropped on entry — otherwise a recompute would
       fold the half-written consolidation in with its own sources and
       double-count.

    Consolidated batches are ordinary batches: the next fold folds them
    too. Kill-tested across every boundary (mid-write, write→marker,
    marker→mid-drop)."""
    if not hasattr(inc_table, "path"):
        raise NotImplementedError(
            "compact_tier_increments needs the path-backed parquet shim "
            "(fold markers live beside the partitions); on a real Iceberg "
            "catalog use Iceberg's rewrite_data_files/snapshot machinery"
        )
    inc_root = Path(inc_table.path)
    folds_dir = inc_root / "_folds"

    def _leaves() -> list[tuple[str, str]]:
        return sorted(
            (d.name.split("=", 1)[1], b.name.split("=", 1)[1])
            for d in inc_root.glob("day=*")
            for b in d.glob("batch=*")
        )

    markers = _fold_markers(inc_root)
    # step 3 resume: an existing marker with surviving sources wins
    for info in markers:
        leftover = [p for p in info["source_dirs"] if (inc_root / p).exists()]
        if leftover:
            dropped = inc_table.drop_partitions(
                leftover,
                lineage={
                    "operation": "compact_increments",
                    "fold_id": info["fold_id"],
                    "resumed": True,
                },
            )
            return {
                "fold_id": info["fold_id"],
                "folded": info["batches"],
                "resumed": True,
                "dropped": dropped,
            }
    # step 4: drop uncommitted fold partitions (no marker → crashed write)
    committed = {m["fold_id"] for m in markers}
    garbage = [
        f"day={d}/batch={b}"
        for d, b in _leaves()
        if b.startswith("fold-") and b not in committed
    ]
    if garbage:
        inc_table.drop_partitions(
            garbage, lineage={"operation": "compact_increments", "gc_uncommitted": garbage}
        )
    pairs = _leaves()
    batches = sorted({b for _, b in pairs})
    if len(batches) <= 1:
        return {"fold_id": None, "folded": [], "resumed": False, "dropped": 0}
    fold_id = "fold-" + hashlib.md5("|".join(batches).encode()).hexdigest()[:16]
    src = inc_table.read(spark).filter(F.col("batch").isin(batches))
    merged = rollup_cascade(
        src.drop("day", "batch"), tier, series_col=series_col, role_col=role_col
    )
    out = merged.withColumn("day", _day_of_bucket()).withColumn("batch", F.lit(fold_id))
    inc_table.overwrite_partitions(
        out,
        lineage={
            "operation": "compact_increments",
            "fold_id": fold_id,
            "batches": batches,
        },
    )
    source_dirs = [f"day={d}/batch={b}" for d, b in pairs]
    folds_dir.mkdir(parents=True, exist_ok=True)
    marker = folds_dir / f"{fold_id}.json"
    tmp = marker.with_suffix(".tmp")
    tmp.write_text(
        json.dumps(
            {"fold_id": fold_id, "batches": batches, "source_dirs": source_dirs}
        )
    )
    tmp.replace(marker)
    dropped = inc_table.drop_partitions(
        source_dirs, lineage={"operation": "compact_increments", "fold_id": fold_id}
    )
    return {"fold_id": fold_id, "folded": batches, "resumed": False, "dropped": dropped}

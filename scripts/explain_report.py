#!/usr/bin/env python3
"""Generate PLANS.md: `.explain(formatted)` output for the engine's key
plans, with one-line commentary on what to look for. Re-run after plan-
affecting changes; tests/test_plans.py asserts the same properties
mechanically."""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep it readable: drop the (usually long) column-list footnotes
    head = text.split("\n\n")[0]
    return head


def formatted_with_partition_filters(df) -> str:
    """Like ``formatted`` but keeps the scans' PartitionFilters lines from
    the footnotes — the pruning evidence IS the point for tier reads."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    head = text.split("\n\n")[0]
    filters = [
        line.strip() for line in text.splitlines() if "PartitionFilters" in line
    ]
    return head + "\n\n" + "\n".join(filters)


def main() -> None:
    from pyspark.sql import functions as F

    from rove_spark.operators import checks
    from rove_spark.operators.dedup import minhash_dedup
    from rove_spark.operators.gorilla import compress_series
    from rove_spark.operators.rollup import build_tiers
    from rove_spark.operators.spatial import buddy_check, with_synthetic_coords_portable
    from rove_spark.session import get_spark
    from rove_spark.sources.synthetic import synthetic_transcripts
    from rove_spark.sources.tables import write_bucketed

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    df = synthetic_transcripts(spark, n_conv=50, avg_turns=40)
    p = "/tmp/rove_plans_input"
    df.write.mode("overwrite").parquet(p)
    base = spark.read.parquet(p).select(
        "conv_id", "ts", "role", "tool", F.length("text").cast("float").alias("text_len")
    )

    sections: list[tuple[str, str, str]] = []

    stack = checks.spike_check(
        checks.step_check(base, "text_len", max_=500.0), "text_len", max_=400.0
    )
    sections.append(
        (
            "Temporal check stack (step + spike)",
            "One `Exchange hashpartitioning(conv_id)` + one `Sort` shared by every "
            "window check; everything else inside WholeStageCodegen — no Python.",
            formatted(stack),
        )
    )

    write_bucketed(base, "plans_bucketed", n_buckets=8)
    stack_b = checks.step_check(spark.table("plans_bucketed"), "text_len", max_=500.0)
    sections.append(
        (
            "Same check on the bucketed+sorted layout",
            "NO Exchange: the bucketed scan satisfies the clustering; the "
            "write-time sort order feeds the window directly (Iceberg "
            "bucket(conv_id)+sort-order analog).",
            formatted(stack_b),
        )
    )

    tiers = build_tiers(stack, checks=["step_check", "spike_check"], text_len_source="text_len", persist=False)
    sections.append(
        (
            "1m tier aggregate",
            "Partial `HashAggregate` (map-side combine) → exchange → final "
            "HashAggregate; flag densities are plain conditional sums.",
            formatted(tiers["1m"]),
        )
    )

    chunks = compress_series(base, "text_len")
    sections.append(
        (
            "Gorilla chunk compression",
            "Explicit `REPARTITION_BY_NUM` on the group keys precedes "
            "`FlatMapGroupsInPandas` — AQE's byte-based coalescing must not "
            "serialize CPU-heavy grouped-UDF stages (CLAUDE.md).",
            formatted(chunks),
        )
    )

    located = with_synthetic_coords_portable(
        base.groupBy("conv_id").agg(F.avg("text_len").alias("v"))
    )
    located = located.withColumn("ts", F.to_timestamp(F.lit("2024-01-01")))
    sections.append(
        (
            "Buddy check — relational single-iteration path (default, round 5)",
            "Pure codegen, NO Python stages: home rows (base + own cell "
            "key) join every row of their (ts, cell) under the halo "
            "guarantee, haversine predicate inside WholeStageCodegen, one "
            "partial+final HashAggregate pair builds the neighbor "
            "count/mean/variance, flag CASE on top. The lazy "
            "localCheckpoint shows as a scan of an ExistingRDD — the "
            "caller's upstream is materialized once, not once per side "
            "of the self-join.",
            formatted(buddy_check(located, "v", radius=50_000, num_min=2, threshold=3.0)),
        )
    )

    sections.append(
        (
            "Buddy check — grouped-kernel path (multi-iteration)",
            "FAIL-exclusion re-iterations need the stateful pool: explicit "
            "repartition + Arrow-grouped execution (FlatMapGroupsInPandas); "
            "the halo join (cell_deg mode) adds a broadcast of the cell "
            "offsets.",
            formatted(
                buddy_check(
                    located, "v", radius=50_000, num_min=2, threshold=3.0,
                    num_iterations=3,
                )
            ),
        )
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(20))) for i in range(50)],
        "doc_id long, text string",
    )
    sections.append(
        (
            "MinHash LSH candidate join",
            "Signature + banding are narrow projections; the self-join on "
            "(band, band-hash) is the only shuffle — sub-quadratic near-dup.",
            formatted(minhash_dedup(docs, threshold=0.5)),
        )
    )

    from rove_spark.operators.dedup import _shingle_minhash_fused

    sections.append(
        (
            "Fused shingle + 64-lane MinHash aggregate",
            "Higher-order-function lambdas are interpreted per element, so "
            "the trigram/signature math runs on EXPLODED rows instead: "
            "Generate (posexplode) → Window (lead n-grams) → ONE "
            "HashAggregate pair computing the shingle set and all 64 "
            "min-hash lanes inside WholeStageCodegen (round-4: 4× vs the "
            "array-lambda shape, exact value equivalence).",
            formatted(_shingle_minhash_fused(docs, "text", "doc_id")),
        )
    )

    import shutil

    from rove_spark.operators.rollup import (
        read_tier,
        refresh_tier_increment,
        rollup_from_raw,
    )
    from rove_spark.sources.tables import PartitionedTable

    half = F.pmod(F.xxhash64("conv_id", "ts"), F.lit(2))
    tdir = Path("/tmp/rove_plans_tiers")
    shutil.rmtree(tdir, ignore_errors=True)
    base_t = PartitionedTable(tdir / "tier_1m", ["day"])
    t1m = rollup_from_raw(base.where(half == 0), "1m", text_len_source="text_len")
    base_t.overwrite_partitions(
        t1m.withColumn(
            "day", F.date_format(F.date_trunc("day", "bucket_ts"), "yyyy-MM-dd")
        )
    )
    inc_t = PartitionedTable(tdir / "tier_1m_inc", ["day", "batch"])
    refresh_tier_increment(
        inc_t, base.where(half == 1), "1m", batch_id="b1", text_len_source="text_len"
    )
    day0 = base_t.partition_days()[0]
    sections.append(
        (
            "Incremental tier merge-on-read (base + increments, one day)",
            "Both parquet scans carry `PartitionFilters` on `day` (and the "
            "increments scan on the visible `batch` set) — partition "
            "pruning happens BEFORE any aggregation, so a windowed read "
            "over a 10^12-turn tier touches only the requested day "
            "partitions; the union then re-aggregates through ONE "
            "partial+final HashAggregate pair (merge ≡ rollup_cascade at "
            "the tier's own granularity, exact by the suffix rules).",
            formatted_with_partition_filters(
                read_tier(spark, base_t, inc_t, "1m", days=[day0])
            ),
        )
    )

    from rove_spark.operators.textstats import decontaminate

    bench_docs = docs.limit(5)
    sections.append(
        (
            "Benchmark decontamination (n-gram collision filter)",
            "Corpus side shuffles ONCE on the doc id (the lead-window "
            "partitioning feeds the count aggregate); the benchmark "
            "n-gram set arrives as a BroadcastHashJoin build side — the "
            "corpus-scan side of the join is map-side at any corpus "
            "size. No Python stages.",
            formatted(decontaminate(docs, bench_docs, n=4)),
        )
    )

    from rove_spark.operators.rollup import merge_topk, topk_summary

    located2 = base.withColumn("d", F.date_trunc("day", "ts")).withColumn(
        "h", F.date_trunc("hour", "ts")
    )
    hourly_tk = topk_summary(located2, ["conv_id", "d", "h"], "role", cap=8)
    sections.append(
        (
            "Heavy-hitters tier sketch (hourly build + merge to daily)",
            "Two partial+final HashAggregate pairs per level — exact "
            "(group, key) counts then one collect+sort truncation; the "
            "merge explodes the tiny per-row arrays and re-aggregates. "
            "All codegen; tier rows stay bounded by the cap.",
            formatted(merge_topk(hourly_tk, ["conv_id", "d"], cap=8)),
        )
    )

    from rove_spark.operators.rollup import (
        merge_value_summaries,
        summary_quantiles,
        value_summary,
    )

    hourly_vs = value_summary(
        located2.withColumn("tl", F.col("text_len").cast("long")),
        ["conv_id", "d", "h"],
        "tl",
        cap=64,
    )
    daily_vs = merge_value_summaries(hourly_vs, ["conv_id", "d"], cap=64)
    sections.append(
        (
            "Value-exact quantile tier sketch (build + merge + read)",
            "Per level: one HashAggregate pair on (group, value) — the "
            "shuffle carries distinct-value partials, never raw rows — "
            "then a second, smaller exchange on the group keys feeds "
            "the row_number/count windows for the rank-stride "
            "compression "
            "and one collect to the ≤cap array. The read explodes the "
            "tiny arrays, takes a cumulative-sum window, and answers "
            "every percentile in ONE aggregate via conditional mins. "
            "All codegen, no per-element lambdas.",
            formatted(summary_quantiles(daily_vs, ["conv_id", "d"], [50, 99])),
        )
    )

    out = ["# PLANS — physical plans of the key operators\n"]
    out.append(
        "Generated by `python scripts/explain_report.py`; properties asserted "
        "mechanically in tests/test_plans.py.\n"
    )
    for title, note, plan in sections:
        out.append(f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    (REPO / "PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

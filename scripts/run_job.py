#!/usr/bin/env python3
"""spark-submit entry point: flag + roll up a transcript table into
1m/1h/1d retention tiers, checkpointed and resumable.

Cluster launch (the north_rule shape):

    cd /root/repo && bash scripts/make_pyfiles.sh
    spark-submit --py-files dist/rove_spark.zip scripts/run_job.py \
        --input /path/to/transcripts_parquet \
        --pipeline-dir pipelines --pipeline transcripts_pt1m \
        --out /path/to/tiers --fingerprint snapshot-123

Local/sandbox: ``python scripts/run_job.py --synthetic 1000`` generates the
deterministic synthetic table in-process instead of reading one.

Analog of the reference's binary startup (``met_binary/src/main.rs:24-42``:
clap args → load_pipelines → serve); ours parses args → load_pipelines →
run one resumable batch job.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="parquet path of the transcript table")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic conversations instead of --input")
    ap.add_argument("--pipeline-dir", default=str(Path(__file__).parent.parent / "pipelines"))
    ap.add_argument("--pipeline", default="transcripts_pt1m")
    ap.add_argument("--out", required=True)
    ap.add_argument("--fingerprint", default=None, help="input snapshot id for checkpoint lineage")
    ap.add_argument("--master", default=None)
    ap.add_argument("--value-col", default="text_len")
    ap.add_argument(
        "--late-delta",
        help="parquet path of LATE rows: skip the day recompute and land "
        "one increment batch per tier under <out>/tier_{t}_inc "
        "(exactly-once; read via rollup.read_tier). Window checks see "
        "the delta in isolation — route the day through the normal job "
        "when exact boundary flags matter.",
    )
    ap.add_argument("--batch-id", default=None, help="idempotency id for --late-delta (defaults to a content digest)")
    ap.add_argument(
        "--query",
        nargs=2,
        metavar=("START", "END"),
        help="read mode: per-series aggregate over [START, END) ISO "
        "datetimes, answered from the store under --out (merge-on-read "
        "tiers for whole buckets, --hot raw + the cold tier for "
        "sub-minute slivers); result written to --query-out.",
    )
    ap.add_argument("--hot", help="parquet path of the HOT raw table for --query slivers")
    ap.add_argument("--query-out", help="parquet path for the --query result (required with --query)")
    ap.add_argument(
        "--series",
        nargs="+",
        default=None,
        help="narrow --query to these series ids (pushed into every layer)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from rove_spark.operators.signals import derive_signals
    from rove_spark.plans.engine import Engine
    from rove_spark.session import get_spark
    from rove_spark.sources.synthetic import synthetic_transcripts

    spark = get_spark("rove_spark_job", master=args.master)
    if args.query:
        if not args.query_out:
            ap.error("--query requires --query-out")
        from datetime import datetime

        start, end = (datetime.fromisoformat(v) for v in args.query)
        eng = Engine(spark, pipeline_dir=args.pipeline_dir)
        hot = spark.read.parquet(args.hot) if args.hot else None
        if hot is not None and args.value_col not in hot.columns:
            hot = derive_signals(hot)  # raw transcripts: derive the signal
        t0 = time.time()
        result = eng.query_range(
            args.out, start, end, hot_df=hot, value_col=args.value_col,
            series_ids=args.series,
        )
        # result is O(series) rows — write it, never collect it
        result.write.mode("overwrite").parquet(args.query_out)
        n = spark.read.parquet(args.query_out).count()
        print(
            json.dumps(
                {
                    "query": [v.isoformat() for v in (start, end)],
                    "series": n,
                    "elapsed_sec": round(time.time() - t0, 2),
                    "query_out": args.query_out,
                }
            )
        )
        spark.stop()
        return
    if args.late_delta:
        eng = Engine(spark, pipeline_dir=args.pipeline_dir)
        delta = derive_signals(spark.read.parquet(args.late_delta))
        t0 = time.time()
        result = eng.ingest_late(
            delta,
            args.pipeline,
            args.out,
            batch_id=args.batch_id,
            value_col=args.value_col,
        )
        print(
            json.dumps(
                {
                    "late_delta": args.late_delta,
                    "increments": result,
                    "elapsed_sec": round(time.time() - t0, 2),
                    "out": args.out,
                }
            )
        )
        spark.stop()
        return
    if args.synthetic:
        df = synthetic_transcripts(spark, n_conv=args.synthetic, avg_turns=200)
        fingerprint = args.fingerprint or f"synthetic:{args.synthetic}"
    elif args.input:
        df = spark.read.parquet(args.input)
        fingerprint = args.fingerprint or args.input
    else:
        ap.error("one of --input / --synthetic is required")
        return
    df = derive_signals(df)

    eng = Engine(spark, pipeline_dir=args.pipeline_dir)
    t0 = time.time()
    result = eng.run_job(
        df,
        args.pipeline,
        args.out,
        value_col=args.value_col,
        input_fingerprint=fingerprint,
        # day-partitioned inputs enumerate days from the directory listing
        # (metadata-only) instead of a full scan
        input_path=args.input,
    )
    elapsed = time.time() - t0
    # turns rolled up by this run, from the job's own per-day metrics
    # (skipped days count nothing; no second scan of the input)
    turns_computed = sum(m.get("rows_1m", 0) for m in result["metrics"].values())
    print(
        json.dumps(
            {
                "partitions": result,
                "turns_computed": turns_computed,
                "elapsed_sec": round(elapsed, 2),
                "turns_per_sec": round(turns_computed / elapsed, 1),
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Extra benchmarks for the optimization rounds (guide §1.4): noop-sink
isolation per query, interleaved best-of-N timing, and
``.explain("formatted")`` capture for plan evidence.

bench.py is FROZEN for driver measurement; this file carries the
round's working numbers (cited in OPTIMIZATION_r07.md).

Usage:
  python bench_extra.py --queries sct buddy_check --reps 3
  python bench_extra.py --queries sct --plans /tmp/rove_plans --tag before
  python bench_extra.py --all --reps 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rove_spark.plans import driver_queries  # noqa: E402
from rove_spark.session import get_spark  # noqa: E402


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(pdf):
    return pdf


def warmup(spark) -> None:
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(0, 64, 1, 64).withColumn("k", F.col("id") % 64).groupBy("k").applyInPandas(
        _identity, "id long, k long"
    ).count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir to write explain output")
    ap.add_argument("--tag", default="before", help="plan filename suffix")
    ap.add_argument("--no-time", action="store_true", help="plans only, skip timing")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("rove_bench_extra", master=f"local[{cpus}]")
    warmup(spark)

    qmap = driver_queries.queries()
    names = list(qmap) if args.all else args.queries
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            df = qmap[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.plans, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}", file=sys.stderr)

    if args.no_time:
        spark.stop()
        return

    samples: dict[str, list[float]] = {n: [] for n in names}
    # interleave reps across queries so each query's samples span the same
    # co-tenant load windows (BENCH.md protocol)
    for rep in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            _run(qmap[name](spark, sf_dir))
            samples[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {
        "sf_dir": sf_dir,
        "reps": args.reps,
        "min": {n: min(s) for n, s in samples.items()},
        "samples": samples,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

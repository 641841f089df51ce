"""Shared plan-building helpers: expression memoization and the
physical-plan pins for grouped-UDF stages."""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame

#: Memoize a private ``Column`` builder on its (hashable) arguments, so an
#: expression is built once per process instead of on every plan: each
#: ``F.*`` call is a py4j round trip to the JVM, and planning the daily
#: job's checks and tiers made ~2,500 of them. Catalyst ``Column``s are
#: immutable and bound to no session (``SparkContext.stop()`` keeps the
#: py4j gateway), so a cached expression is valid in every later plan.
#: The key must hold every argument the expression depends on; ``typed``
#: keeps ``5`` and ``5.0`` apart, as their literals differ in the plan.
#: Builders return tuples, never lists, so a caller cannot mutate a
#: cached result.
built_once = lru_cache(maxsize=256, typed=True)


def parallel_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Explicitly hash-partition on the group keys before a grouped pandas
    UDF. AQE's partition coalescing sizes shuffles by *bytes*, which is
    right for JVM relational operators but wrong for grouped UDFs whose
    per-group CPU cost dwarfs their byte size (e.g. an OI factorization
    over a 50 KB group takes ~1 s) — coalescing serializes the stage onto
    one Python worker (measured 5× slowdown on the SCT stage). A
    user-specified repartition pins the exchange; groupBy reuses it because
    hash(keys) already satisfies the required clustering. Two partitions
    per core."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * 2, *keys)


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition an UNDER-PARTITIONED scan before CPU-dense
    map-only work (regex scans, per-row scoring). Parquet splits at row-
    group granularity, so a one-row-group file scans as ONE task and every
    downstream map expression runs serial regardless of cores — no
    exchange exists downstream for AQE to widen. Scale-adaptive: when the
    scan already yields at least the session's parallelism (any real
    multi-file/multi-row-group table), this is a NO-OP, so it never adds
    a shuffle at deployment scale; only deficient scans pay one small
    round-robin exchange to unlock the cores, into two partitions per
    core."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism * 2)

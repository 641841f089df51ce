"""Deterministic sampling for training-data pipelines.

Unlike ``df.sample`` (RNG per task → partitioning-dependent), these are
pure hash functions of row keys: the same row is always in or out, across
runs, cluster sizes, and engines — which is what reproducible corpus
construction needs, and what lets DuckDB oracles verify the exact output.

The portable hash is the first 8 hex chars of md5 (uniform in [0, 2³²)),
available identically in Spark, DuckDB, and ~every engine; xxhash64 is
Spark-only so it stays out of the cross-engine surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hash_unit(*cols: Column | str, salt: str = "") -> Column:
    """Deterministic uniform u ∈ [0, 1) from md5 of the key columns."""
    key = F.concat_ws("|", F.lit(salt), *[F.col(c) if isinstance(c, str) else c for c in cols])
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
    return bucket / float(1 << 32)


def hash_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Keep rows whose hash-unit < fraction. Exact membership is a pure
    function of (salt, key) — stable under repartitioning and resume."""
    return df.filter(_hash_unit(*key_cols, salt=salt) < fraction)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    key_cols: Sequence[str],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: fractions maps stratum value →
    keep fraction (e.g. downsample boilerplate strata, keep rare ones)."""
    frac = F.lit(float(default_fraction))
    for value, f in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    return df.filter(_hash_unit(*key_cols, salt=salt) < frac)

"""Hot-partition salting for skewed series keys.

north_rule mandate: "explicit salting of hot conv_id partitions". Context
(SURVEY §4): AQE fixes skewed *joins* and coalesces shuffle partitions, but
a grouped pandas UDF (``applyInPandas``) materializes one whole group per
task — a single 10⁸-turn conversation would pin one executor for hours and
can OOM the Python worker. Skew handling for grouped-UDF stages is
therefore on us, two complementary ways:

1. **Structural salting** (preferred): make the group key
   (series, calendar_chunk) — a conversation becomes many bounded chunks.
   Used by gorilla.compress_series.
   Semantics-preserving for chunk-local operators (codec, per-chunk stats).

2. **Explicit hash salting** (for operators that can do partial→final
   composition): a ``salt`` column = pmod(hash(sub_key), k) for hot keys
   only, 0 elsewhere; aggregate (key, salt) partials first, then de-salt
   with a second tiny aggregation. ``salted_agg`` wires the two-phase plan
   and is exact for decomposable aggregates (sum/count/min/max).

The caller names the hot keys (``hot_keys``); ``None`` salts every key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame,
    key_col: str,
    n_salt: int,
    hot_keys: Sequence | None = None,
    sub_key: str | Column | None = None,
    salt_col: str = "salt",
) -> DataFrame:
    """Append a salt column: pmod(xxhash64(sub_key), n_salt) for hot keys,
    0 for everything else (cold keys keep a single group — no extra
    shuffle fan-out where it isn't needed).

    ``sub_key`` MUST be a deterministic row expression (e.g. turn_idx, a
    timestamp, an id column). A non-deterministic source such as
    monotonically_increasing_id() feeding a shuffle key is a silent
    row-loss/duplication hazard under task retry — Spark may recompute the
    stage and assign rows to different salt partitions. The old default
    did exactly that; now the caller must choose."""
    if sub_key is None:
        raise ValueError(
            "with_salt requires a deterministic sub_key column/expression; "
            "non-deterministic salts corrupt results under task retry"
        )
    sub = F.col(sub_key) if isinstance(sub_key, str) else sub_key
    salted = F.pmod(F.xxhash64(sub), F.lit(n_salt)).cast("int")
    if hot_keys is None:
        expr = salted
    else:
        expr = F.when(F.col(key_col).isin(list(hot_keys)), salted).otherwise(F.lit(0))
    return df.withColumn(salt_col, expr)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salt: int,
    hot_keys: Sequence | None = None,
    sub_key: str | Column | None = None,
) -> DataFrame:
    """Two-phase aggregation over salted keys, exact for decomposable
    aggregates. ``aggs`` maps output name → (source column, fn) with fn in
    {sum, count, min, max}.

    Phase 1 groups by (keys…, salt) — the hot key's rows spread across
    ``n_salt`` reducers; phase 2 merges the ≤ n_salt partials per key
    (count partials merge by sum). ``sub_key`` must be a deterministic
    row expression (see ``with_salt``)."""
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    partial = with_salt(df, keys[0], n_salt, hot_keys=hot_keys, sub_key=sub_key)
    p_aggs = [
        getattr(F, fn)(src).alias(name) for name, (src, fn) in aggs.items()
    ]
    stage1 = partial.groupBy(*keys, "salt").agg(*p_aggs)
    f_aggs = [
        getattr(F, merge_fn[fn])(name).alias(name) for name, (_src, fn) in aggs.items()
    ]
    return stage1.groupBy(*keys).agg(*f_aggs)

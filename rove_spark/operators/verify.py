"""Per-turn text-equality verifier — the input_hint per-row invariant.

BASELINE.json: "per-row invariant vs the reference: per-turn text equality
under stable turn ordering". The engine's design already guarantees it
structurally (``text`` never enters a UDF and is never rewritten —
signals.py note); this module *proves* it for any concrete run:

- ``text_checksums``: per-conversation order-sensitive digest — sha2 of
  each (turn_idx, text) pair folded order-independently per conv via
  bit_xor, PLUS a strict order-sensitive digest from a sorted
  collect_list. Any dropped, duplicated, reordered, or mutated turn
  changes the digest. Equal digest tables for a run's input and output
  prove the invariant for that run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def text_checksums(
    df: DataFrame,
    series_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation digests: (conv, n_turns, xor_digest, seq_digest).

    xor_digest: order-free fold (cheap, catches mutation/addition/loss).
    seq_digest: sha2 over the turn-ordered concatenation of per-turn
    hashes (catches reordering). Turn hashes bind (turn_idx, text) so
    swapping texts between turns is detected.
    """
    row_h = F.sha2(F.concat_ws("\x00", F.col(order_col).cast("string"), F.col(text_col)), 256)
    h64 = F.conv(F.substring(row_h, 1, 15), 16, 10).cast("long")
    per_turn = df.select(
        F.col(series_col),
        F.col(order_col),
        row_h.alias("_h"),
        h64.alias("_h64"),
    )
    return per_turn.groupBy(series_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.bit_xor("_h64").alias("xor_digest"),
        F.sha2(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(order_col).alias("i"), F.col("_h").alias("h")))
                    ),
                    lambda s: s.getField("h"),
                ),
            ),
            256,
        ).alias("seq_digest"),
    )

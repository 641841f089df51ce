"""Dialogue-integrity QC for conversation-transcript corpora.

The reference's checks are value-domain (step/spike/flatline over
numbers, ``/root/reference/src/harness.rs:26-177``); transcript corpora
additionally need PROTOCOL checks — is the conversation itself
well-formed? — before turns are trusted as training data. Two standard
ones, expressed exactly like the repo's temporal checks (one shared
``partitionBy(conv).orderBy(turn)`` window, lag expressions, the 7-value
Flag domain, zero UDFs):

- ``role_alternation_check``: a turn whose role is in the alternating
  set (user/assistant by default) must not repeat its predecessor's
  role — a repeated speaker marks truncated/merged/duplicated turns.
- ``orphan_tool_check``: a tool-result turn must follow a turn that
  actually carried a tool call — an orphaned result marks a transcript
  whose call/result pairing was broken by filtering or truncation.

Both emit ``flag_<name>`` tinyint columns via the same conventions as
``operators/checks.py`` (flag on the later point; conversation head ⇒
INCONCLUSIVE; NULL inputs ⇒ DATA_MISSING), so they compose with
``rollup_from_raw(checks=[...])`` flag densities and the TOML pipeline
unchanged: dialogue integrity rolls into the 1m/1h/1d tiers like any QC
check.

100 TB shape: one lag window per conversation — the same single
exchange+sort every temporal check shares; on the bucketed layout the
exchange disappears (tests/test_plans.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rove_spark.model import Flag, flag_col


def role_alternation_check(
    df: DataFrame,
    series_col: str = "conv_id",
    order_cols: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    alternating: Sequence[str] = ("user", "assistant"),
    out_col: str | None = None,
) -> DataFrame:
    """FAIL a turn whose role is in ``alternating`` and equals the
    previous turn's role; roles outside the set (system, tool, …) may
    legally repeat and PASS. Head of conversation ⇒ INCONCLUSIVE (no
    predecessor to compare); NULL role — own, or the predecessor's when
    the turn needs the comparison — ⇒ DATA_MISSING."""
    out_col = out_col or flag_col("role_alternation_check")
    win = Window.partitionBy(series_col).orderBy(*order_cols)
    prev_exists = F.lag(F.lit(1)).over(win).isNotNull()
    prev_role = F.lag(role_col).over(win)
    role = F.col(role_col)
    expr = (
        F.when(role.isNull(), F.lit(int(Flag.DATA_MISSING)))
        .when(~prev_exists, F.lit(int(Flag.INCONCLUSIVE)))
        # required context row present but its role unreadable: the
        # comparison is undecidable for alternating-set turns
        # (checks.py convention: context NULL ⇒ DATA_MISSING)
        .when(
            role.isin(list(alternating)) & prev_role.isNull(),
            F.lit(int(Flag.DATA_MISSING)),
        )
        .when(
            role.isin(list(alternating)) & (role == prev_role),
            F.lit(int(Flag.FAIL)),
        )
        .otherwise(F.lit(int(Flag.PASS)))
    )
    return df.withColumn(out_col, expr.cast("tinyint"))


def orphan_tool_check(
    df: DataFrame,
    series_col: str = "conv_id",
    order_cols: Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    tool_col: str = "tool",
    tool_role: str = "tool",
    out_col: str | None = None,
) -> DataFrame:
    """FAIL a ``tool_role`` turn whose predecessor carries no tool call
    (previous ``tool_col`` is NULL); a ``tool_role`` turn at the head of
    a conversation has no possible call ⇒ also FAIL (the pairing is
    broken either way — the result is orphaned, not merely untestable).
    Non-tool turns PASS; NULL role ⇒ DATA_MISSING."""
    out_col = out_col or flag_col("orphan_tool_check")
    win = Window.partitionBy(series_col).orderBy(*order_cols)
    prev_tool = F.lag(tool_col).over(win)
    role = F.col(role_col)
    expr = (
        F.when(role.isNull(), F.lit(int(Flag.DATA_MISSING)))
        .when((role == tool_role) & prev_tool.isNull(), F.lit(int(Flag.FAIL)))
        .otherwise(F.lit(int(Flag.PASS)))
    )
    return df.withColumn(out_col, expr.cast("tinyint"))

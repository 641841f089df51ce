"""Core data model: the QC flag domain and schema constants.

Flag domain is the reference's 7-value protobuf enum, 1:1
(``/root/reference/proto/rove.proto:23-31``, mapping at
``/root/reference/src/lib.rs:116-131``). We store flags as tinyint columns
(one column per check) for columnar efficiency; ``Flag`` gives the symbolic
names and the wide→long melt for the API edge (reference emits long-format
``TestResult{time, identifier, flag}`` rows, ``proto/rove.proto:65-71``).
"""

from __future__ import annotations

import enum


class Flag(enum.IntEnum):
    """QC flag domain — exactly the reference's 7 values."""

    PASS = 0
    FAIL = 1
    WARN = 2
    INCONCLUSIVE = 3
    INVALID = 4
    DATA_MISSING = 5
    ISOLATED = 6

    @classmethod
    def names(cls) -> list[str]:
        return [f.name for f in cls]


# Default check-flag column prefix: flag_<check_name>.
FLAG_PREFIX = "flag_"


def flag_col(check_name: str) -> str:
    return FLAG_PREFIX + check_name

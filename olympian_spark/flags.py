"""QC flag codes.

Stable integer codes for the reference's 7-variant ``Flag`` enum
(reference src/util/mod.rs:12-33). Stored as ``tinyint`` columns; one flag
column per QC check. Integer codes (not strings) keep flag columns
dictionary-free, comparable and cheap to shuffle at 10^12-row scale.
"""

from __future__ import annotations

from enum import IntEnum


class Flag(IntEnum):
    """Result of a QC test for a single data point."""

    PASS = 0
    FAIL = 1
    WARN = 2
    INCONCLUSIVE = 3  # declared by the reference, never produced
    INVALID = 4  # sct only: non-finite elevation (sct.rs:298-302)
    DATA_MISSING = 5  # step/dip: a needed point was None
    ISOLATED = 6  # sct only: too few neighbours in radius (sct.rs:348)


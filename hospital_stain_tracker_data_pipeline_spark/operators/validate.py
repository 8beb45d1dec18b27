"""Row-level validation with reject side-output (SURVEY.md §2.2
op-validate-row).

The reference validates row-at-a-time in Python with first-match-wins
reason strings (``backend/app/etl/ingest_capacity.py:23-59``) and splits
accepted/rejected in a loop (``:129-143``). Here the whole rule chain is
ONE chained ``F.when`` Column — first-match-wins falls out of ``when``
ordering — so the split is two narrow, codegen'd filters with no Python
in the loop. At 100 TB this matters: validation stays inside the scan
stage, and both branches share the same cached/scanned input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the reason column a rule chain adds; NULL on a valid row
REJECT_REASON = "_reject_reason"


def capacity_reject_rules(
    date: Column,
    region: Column,
    total_beds: Column,
    occupied_beds: Column,
    icu_beds: Column,
    icu_occupied: Column,
) -> list[tuple[Column, str]]:
    """The reference's validation rules as (fail_predicate, reason) pairs,
    in first-match-wins order (ingest_capacity.py:29-57).

    The ICU rules are nested in the reference: icu_occupied checks only
    fire when icu_beds is present; the exceed check only when both are
    present.
    """
    return [
        (date.isNull(), "date is required"),
        (region.isNull(), "region is required"),
        (total_beds.isNull(), "total_beds is required"),
        (occupied_beds.isNull(), "occupied_beds is required"),
        (total_beds < 0, "total_beds cannot be negative"),
        (occupied_beds < 0, "occupied_beds cannot be negative"),
        (occupied_beds > total_beds, "occupied_beds cannot exceed total_beds"),
        (icu_beds.isNotNull() & (icu_beds < 0), "icu_beds cannot be negative"),
        (
            icu_beds.isNotNull() & icu_occupied.isNotNull() & (icu_occupied < 0),
            "icu_occupied cannot be negative",
        ),
        (
            icu_beds.isNotNull() & icu_occupied.isNotNull() & (icu_occupied > icu_beds),
            "icu_occupied cannot exceed icu_beds",
        ),
    ]


def reject_reason_column(rules: Sequence[tuple[Column, str]]) -> Column:
    """Fold (fail_predicate, reason) pairs into one first-match-wins
    reason Column; NULL ⇒ the row is valid."""
    out: Column | None = None
    for pred, reason in rules:
        out = F.when(pred, F.lit(reason)) if out is None else out.when(pred, F.lit(reason))
    assert out is not None, "at least one rule required"
    return out.otherwise(F.lit(None).cast("string"))


def split_valid_invalid(
    df: DataFrame,
    rules: Sequence[tuple[Column, str]],
) -> tuple[DataFrame, DataFrame]:
    """Split into (accepted, rejected-with-reason).

    Mirrors the reference's accepted/rejected loop split
    (ingest_capacity.py:129-143) as two filters over one shared reason
    expression. Rejected rows carry ``_reject_reason`` like the
    reference's reject CSV (``:140-143``); ``_original_index`` is not
    reproduced because a distributed scan has no global row index —
    callers that need provenance should carry a natural key or use
    ``F.monotonically_increasing_id`` per ingest file.
    """
    return split_on_reason(
        df.withColumn(REJECT_REASON, reject_reason_column(rules))
    )


def split_on_reason(checked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(accepted, rejected) as two filters over a frame that already
    carries the ``_reject_reason`` column, so a caller can cache that
    one frame and serve both branches from it."""
    reason = F.col(REJECT_REASON)
    accepted = checked.filter(reason.isNull()).drop(REJECT_REASON)
    rejected = checked.filter(reason.isNotNull())
    return accepted, rejected

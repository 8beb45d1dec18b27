"""Semantics tests for the generic as-of join (union + window pass):
at-or-before matching, per-key isolation, no-match NULLs, equal-time
inclusion."""

from __future__ import annotations

import datetime as dt

from hospital_stain_tracker_data_pipeline_spark.operators.asof import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2026-01-05 10:00:00")),  # after both quotes
            (2, "u1", _ts("2026-01-02 00:00:00")),  # equal to quote ts
            (3, "u1", _ts("2026-01-01 00:00:00")),  # before any quote
            (4, "u2", _ts("2026-01-10 00:00:00")),  # other key
            (5, "u3", _ts("2026-01-10 00:00:00")),  # key with no right rows
        ],
        "event_id long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2026-01-02 00:00:00"), 10.0),
            ("u1", _ts("2026-01-04 00:00:00"), 20.0),
            ("u2", _ts("2026-01-03 00:00:00"), 30.0),
        ],
        "user string, qts timestamp, price double",
    )
    out = {
        r.event_id: r.asof_price
        for r in asof_join(
            left, right, by=["user"], left_time="ts",
            right_time="qts", value_cols=["price"],
        ).collect()
    }
    assert out[1] == 20.0  # most recent at-or-before, not first
    assert out[2] == 10.0  # equal timestamps match (<=, not <)
    assert out[3] is None  # nothing at-or-before
    assert out[4] == 30.0  # keys isolated
    assert out[5] is None  # key absent from right side


def test_asof_null_right_value_is_the_match_not_skipped(spark):
    # DuckDB-ASOF/merge_asof semantics: the most recent right ROW wins
    # even when its value column is NULL — NULL must not fall back to
    # an older row, and multi-column values must come from one row
    left = spark.createDataFrame(
        [(1, "u1", _ts("2026-01-05 00:00:00"))],
        "event_id long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2026-01-01 00:00:00"), 10.0, "a"),
            ("u1", _ts("2026-01-02 00:00:00"), None, "b"),
        ],
        "user string, qts timestamp, price double, tag string",
    )
    [r] = asof_join(
        left, right, by=["user"], left_time="ts",
        right_time="qts", value_cols=["price", "tag"],
    ).collect()
    assert r.asof_price is None  # NOT 10.0 carried forward
    assert r.asof_tag == "b"  # both columns from the t=2 row


def test_asof_join_keeps_left_payload_columns(spark):
    left = spark.createDataFrame(
        [(1, "u1", _ts("2026-01-05 00:00:00"), "click")],
        "event_id long, user string, ts timestamp, kind string",
    )
    right = spark.createDataFrame(
        [("u1", _ts("2026-01-01 00:00:00"), 1.0)],
        "user string, qts timestamp, price double",
    )
    [r] = asof_join(
        left, right, by=["user"], left_time="ts",
        right_time="qts", value_cols=["price"],
    ).collect()
    assert r.kind == "click"
    assert r.asof_price == 1.0

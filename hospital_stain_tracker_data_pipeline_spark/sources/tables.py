"""Fixture/table loaders (SURVEY.md §2.1 op-scan-table).

One parquet per table; ``spark.read.parquet`` gives columnar scan with
predicate pushdown and column pruning — expressing queries on top of
these loaders keeps filters/projections visible to Catalyst (check via
``PushedFilters``/``ReadSchema`` in ``.explain("formatted")``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` column to a canonical
    ``TimestampType`` (UTC — the session timezone is pinned), branching
    on the type the reader actually produced rather than assuming one
    physical encoding. A real lake mixes parquet timestamp encodings
    (micro/nano, with/without timezone); hard-coding any single one is
    exactly the brittleness that breaks when a producer upgrades.

    - ``LongType``: a parquet TIMESTAMP(NANOS) column read under
      ``spark.sql.legacy.parquet.nanosAsLong`` — truncate nanos toward
      zero to a microsecond timestamp, matching DuckDB's read of the
      same column (oracle parity; both engines use C-style division,
      which differs from floor only for pre-1970 non-aligned nanos).
    - ``TimestampNTZType``: parquet ``timestamp[us]`` without a
      timezone — reinterpret the wall-clock as UTC via cast; with the
      session timezone pinned to UTC this preserves the stored instant
      and matches DuckDB's naive ``epoch()``.
    - ``TimestampType``: already canonical; pass through.

    Works identically on batch and streaming DataFrames.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # `div` truncates toward ZERO — and so does DuckDB's ns→µs
        # parquet conversion (C-style integer division, verified
        # empirically: -1500ns reads as -1µs in BOTH engines, pinned
        # cross-engine by test_nano_floor_truncation_pre_1970). A
        # floor formulation here would be the one that BREAKS oracle
        # parity for non-µs-aligned pre-1970 nanos.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # NOTE: the NTZ→TIMESTAMP cast interprets the wall-clock in the
        # SESSION timezone — no Spark expression reinterprets NTZ under
        # an explicit zone (to_utc_timestamp(ntz, 'UTC') just inserts
        # the same session-tz cast first; verified on the plan). The
        # UTC guarantee therefore comes from the session-timeZone pin
        # that every caller of this helper performs BEFORE execution
        # (load_fixture_table / _events_stream); call sites outside
        # those entry points must pin the session timezone themselves.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_fixture_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # If events.ts is parquet TIMESTAMP(NANOS) — an illegal type
        # for Spark's reader — this conf makes it readable as long;
        # normalize_event_ts then converts by inspecting the actual
        # type. Harmless for micro-encoded fixtures. Set here (not only
        # in our session factory) so the queries also work on a CALLER-
        # provided vanilla session (the driver passes its own
        # SparkSession). Deliberately NOT restored afterwards:
        # execution is lazy, so resetting after read() could flip the
        # conf back before the scan actually runs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # THE mechanism that makes NTZ handling UTC-correct: both the
        # NTZ→TIMESTAMP cast in normalize_event_ts AND the rendering of
        # the resulting instants (date_format, CAST AS LONG vs DuckDB's
        # naive epoch) follow the session timezone, and this engine's
        # oracle contract is UTC everywhere (session.py). Pin it for
        # caller-provided sessions, BEFORE the lazy read executes.
        # Side effect: the caller's own subsequent timestamp/date
        # rendering in this session also switches to UTC —
        # intentional; a mixed-timezone session cannot satisfy the UTC
        # oracle contract anyway.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df

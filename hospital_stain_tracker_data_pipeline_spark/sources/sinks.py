"""Sinks: rejects CSV and run-log append (SURVEY.md §2.1
op-sink-rejects / op-sink-runlog; the partitioned upsert sink is
``pipeline.lake.LakeTable``).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession

from ..schemas import PIPELINE_RUNS_SCHEMA


def write_rejects_csv(rejects: DataFrame, base_dir: str, run_id: str) -> str:
    """Reject side-output, one directory per run — mirrors the
    reference's ``/tmp/rejects/capacity_rejects_<run_id>.csv``
    (ingest_capacity.py:145-153) but distributed: Spark writes one part
    file per partition instead of a single driver-side CSV."""
    path = os.path.join(base_dir, f"capacity_rejects_{run_id}")
    rejects.write.mode("overwrite").option("header", True).csv(path)
    return path


def new_run_id() -> str:
    return str(uuid.uuid4())


def run_log_row(
    run_id: str,
    source: str,
    status: str,
    started_at: datetime,
    ended_at: datetime | None = None,
    rows_in: int = 0,
    rows_loaded: int = 0,
    rows_rejected: int = 0,
    notes: str | None = None,
) -> Row:
    return Row(
        run_id=run_id,
        source=source,
        status=status,
        started_at=started_at,
        ended_at=ended_at,
        rows_in=rows_in,
        rows_loaded=rows_loaded,
        rows_rejected=rows_rejected,
        notes=notes,
    )


def append_run_log(spark: SparkSession, path: str, row: Row) -> None:
    """Append one lineage row per job start/end — the reference's
    ``pipeline_runs`` insert/update (ingest_capacity.py:85-96,195-201).
    Append-only on a lake; readers take the latest status per run_id."""
    from ..session import local_rows_df

    local_rows_df(spark, [row], PIPELINE_RUNS_SCHEMA).write.mode(
        "append"
    ).parquet(path)


def utcnow() -> datetime:
    return datetime.now(timezone.utc)

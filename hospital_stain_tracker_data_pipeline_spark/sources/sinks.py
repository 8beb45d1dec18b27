"""Sinks: rejects CSV and run-log append (SURVEY.md §2.1
op-sink-rejects / op-sink-runlog; the partitioned upsert sink is
``pipeline.lake.LakeTable``).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import PIPELINE_RUNS_SCHEMA
from ..session import fs_write_atomic


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
    Append-only on a lake; readers take the latest status per run_id.

    Runs no Spark job. The row is encoded on the driver as a one-row
    parquet file typed from ``PIPELINE_RUNS_SCHEMA`` (timestamps as UTC
    microseconds; a naive datetime is local time, as Spark takes it) and
    committed as ``part-<uuid>.parquet`` by ``session.fs_write_atomic``
    (a hidden temp file renamed into place on the path's Hadoop
    ``FileSystem``; a failed write or rename raises and leaves no
    file). Files an older writer left through Spark (INT96 timestamps)
    read alongside these, with the same column types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    values = {
        k: v.astimezone(timezone.utc) if isinstance(v, datetime) else v
        for k, v in row.asDict().items()
    }
    schema = to_arrow_schema(PIPELINE_RUNS_SCHEMA)
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([values], schema=schema), sink)

    fs_write_atomic(
        f"{path}/part-{uuid.uuid4()}.parquet", sink.getvalue().to_pybytes()
    )


@contextmanager
def logged_run(
    spark: SparkSession,
    path: str,
    run_id: str,
    source: str,
    notes: str | None = None,
) -> Iterator[dict]:
    """The run-log lifecycle of one job (the reference's
    ingest_capacity.py:85-96,195-224): a ``running`` row on entry, then
    ``success`` with the counts the body put in the yielded dict
    (``rows_in``, ``rows_loaded``, ``rows_rejected``), or ``failed``
    with ``Error: <exception>`` when the body raises, which re-raises.
    ``notes`` go on the running and the success row. A failure to
    write the success row is logged as a failed run too."""
    started = utcnow()
    append_run_log(
        spark, path, run_log_row(run_id, source, "running", started, notes=notes)
    )
    counts: dict = {}
    try:
        yield counts
        append_run_log(
            spark,
            path,
            run_log_row(
                run_id, source, "success", started, utcnow(), notes=notes, **counts
            ),
        )
    except Exception as e:
        append_run_log(
            spark,
            path,
            run_log_row(run_id, source, "failed", started, utcnow(), notes=f"Error: {e}"),
        )
        raise


def utcnow() -> datetime:
    return datetime.now(timezone.utc)

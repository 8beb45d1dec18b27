"""Metrics job: bronze ``capacity_daily`` → silver ``metrics_daily``
(reference: ``backend/app/etl/compute_metrics.py:24-113``; SURVEY.md §3.2).

The reference scans the whole bronze table into ORM objects and computes
per-row Python (``compute_metrics.py:46-73``). Here the same derivation
is four native Column expressions — pure narrow transformations, no
shuffle, fully inside whole-stage codegen. The job is optionally
incremental: pass ``dates`` to derive only the partitions touched by an
ingest run instead of recomputing all history (the reference recomputes
everything every run — an anti-pattern at 100 TB).
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.metrics import bed_occ_pct_etl, icu_occ_pct, strain_index
from ..sources.sinks import logged_run, new_run_id
from .lake import lake_table


@dataclass
class MetricsResult:
    run_id: str
    rows_in: int
    rows_loaded: int


def metrics_from_capacity(capacity: DataFrame, run_id: str | None = None) -> DataFrame:
    """Pure derivation: one silver row per bronze row.

    Semantics pinned to the ETL variant (compute_metrics.py:52-64):
    ``bed_occ_pct`` is 0.0 when total_beds <= 0 (the API variant yields
    NULL — see functions.metrics.bed_occ_pct_api); ``icu_occ_pct`` NULL
    unless icu_beds > 0 and icu_occupied present; strain rounded to 2.

    Rounding parity: strain is computed from the FULL-PRECISION pcts
    with banker's rounding — the reference's order of operations
    (compute_metrics.py:55-64: raw ratios feed compute_strain_index,
    which applies Python HALF_EVEN round), so .xx5-boundary rows
    match. The 4-dp rounding of the stored pcts below is THIS repo's
    choice (stable display + hashable oracle comparisons); the
    reference stores the unrounded floats.
    """
    bed_raw = bed_occ_pct_etl(F.col("occupied_beds"), F.col("total_beds"))
    icu_raw = icu_occ_pct(F.col("icu_occupied"), F.col("icu_beds"))
    return capacity.select(
        F.expr("uuid()").alias("id"),
        F.col("date"),
        F.col("region_id"),
        F.round(bed_raw, 4).alias("bed_occ_pct"),
        F.round(icu_raw, 4).alias("icu_occ_pct"),
        strain_index(bed_raw, icu_raw, half_even=True).alias("strain_index"),
        F.lit(run_id).alias("source_run_id"),
        F.current_timestamp().alias("created_at"),
    )


def compute_metrics(
    spark: SparkSession,
    lake_dir: str,
    source: str = "metrics-job",
    dates: Sequence[str] | None = None,
) -> MetricsResult:
    """Derive ``metrics_daily`` from ``capacity_daily`` and upsert.

    ``dates`` limits the recompute to those partitions (incremental
    mode); the default recomputes all history like the reference.
    """
    run_id = new_run_id()
    runs_path = lake_table(spark, lake_dir, "pipeline_runs").path
    with logged_run(spark, runs_path, run_id, source) as counts:
        bronze = lake_table(spark, lake_dir, "capacity_daily")
        if dates is None:
            # a lake whose every batch so far was rejected has no bronze
            # rows to infer a schema from: 0 rows, like an absent date
            capacity = bronze.read() if bronze.exists() else None
        else:
            capacity = bronze.read(dates)
            if capacity is not None:
                capacity = capacity.withColumn("date", F.col("date").cast("date"))
        n = 0  # stays 0 when bronze holds none of the rows asked for
        if capacity is not None:
            # the upsert's observed batch count is the report: after a
            # full recompute silver's keys are bronze's keys, so it is
            # also silver's row count
            n = lake_table(spark, lake_dir, "metrics_daily").upsert(
                metrics_from_capacity(capacity, run_id)
            )
        counts.update(rows_in=n, rows_loaded=n)
        return MetricsResult(run_id, n, n)

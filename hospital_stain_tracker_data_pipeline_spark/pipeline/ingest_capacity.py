"""Ingest job: raw HHS CSV → validated bronze ``capacity_daily``
(reference: ``backend/app/etl/ingest_capacity.py:74-226``; SURVEY.md §3.1).

One declarative plan replaces the reference's row-at-a-time loop:

    scan csv → project/rename → to_date → reason column →
    accepted/rejected split → region get-or-create (left_anti + union) →
    natural-key upsert → rejects CSV + run-log rows

Deliberate deviations from the reference, documented:
- An unparseable date becomes NULL and is routed to rejects as
  "date is required" instead of failing the whole batch
  (ingest_capacity.py:15-20 raises). Batch-fail on malformed data is an
  anti-pattern at scale.
- Region get-or-create is one distinct + left_anti join + append
  (SURVEY.md §2.3 op-join-lookup-dim) rather than N sequential SQL
  probes (ingest_capacity.py:158-163).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import capacity_reject_rules, split_valid_invalid
from ..sources.csv_source import read_hhs_csv
from ..sources.sinks import (
    append_run_log,
    new_run_id,
    run_log_row,
    utcnow,
    write_rejects_csv,
)
from .lake import LakeTable


@dataclass
class IngestResult:
    run_id: str
    rows_in: int
    rows_loaded: int
    rows_rejected: int
    rejects_path: str | None


def parse_and_validate(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Canonical-rename CSV → (accepted, rejected).

    ``date`` is parsed with ``to_date`` (NULL on bad input); validation
    rules then run in the reference's first-match-wins order
    (ingest_capacity.py:29-57).
    """
    # try_to_date: NULL (→ reject) on malformed input even under ANSI
    # mode, where plain to_date raises and would fail the whole batch.
    parsed = raw.withColumn("date", F.try_to_date("date"))
    rules = capacity_reject_rules(
        date=F.col("date"),
        region=F.col("region"),
        total_beds=F.col("total_beds"),
        occupied_beds=F.col("occupied_beds"),
        icu_beds=F.col("icu_beds"),
        icu_occupied=F.col("icu_occupied"),
    )
    return split_valid_invalid(parsed, rules)


def get_or_create_regions(
    spark: SparkSession, accepted: DataFrame, regions_table: LakeTable
) -> DataFrame:
    """Dimension get-or-create as a set operation (op-join-lookup-dim).

    New names = incoming distinct left_anti existing; they get fresh
    UUIDs and are appended. Returns the refreshed dimension. The
    distinct name set is tiny (≤ #regions), so downstream joins
    broadcast it.
    """
    incoming_names = accepted.select(F.col("region").alias("name")).distinct()
    if regions_table.exists():
        existing = regions_table.read()
        new_names = incoming_names.join(existing.select("name"), "name", "left_anti")
        if new_names.isEmpty():  # nothing to append: leave the files alone
            return existing
    else:
        existing = None
        new_names = incoming_names
    new_regions = new_names.select(
        F.expr("uuid()").alias("region_id"),
        F.col("name"),
        F.lit(None).cast("long").alias("population"),
        F.current_timestamp().alias("created_at"),
    )
    if existing is None:
        dim = new_regions
    else:
        dim = existing.unionByName(new_regions)
    # Dimension append must be materialized before re-reading; it is a
    # small table so a localCheckpoint is cheap.
    dim = dim.localCheckpoint(eager=True)
    dim.write.mode("overwrite").parquet(regions_table.path)
    return regions_table.spark.read.parquet(regions_table.path)


def ingest_capacity_csv(
    spark: SparkSession,
    input_path: str,
    source: str,
    lake_dir: str,
    rejects_dir: str | None = None,
) -> IngestResult:
    """End-to-end ingest of one CSV batch into the bronze table."""
    run_id = new_run_id()
    started = utcnow()
    runs_path = os.path.join(lake_dir, "pipeline_runs")
    append_run_log(
        spark,
        runs_path,
        run_log_row(run_id, source, "running", started, notes=f"Input file: {input_path}"),
    )
    try:
        raw = read_hhs_csv(spark, input_path)
        accepted, rejected = parse_and_validate(raw)
        # One pass over the input serves both branches and the counters.
        accepted = accepted.cache()
        rejected = rejected.cache()
        n_acc, n_rej = accepted.count(), rejected.count()

        rejects_path = None
        if n_rej:
            rejects_path = write_rejects_csv(
                rejected, rejects_dir or os.path.join(lake_dir, "rejects"), run_id
            )

        regions_table = LakeTable(
            spark,
            os.path.join(lake_dir, "regions"),
            keys=["name"],
            partition_col="name",
            version_col=None,
        )
        regions = get_or_create_regions(spark, accepted, regions_table)

        capacity = (
            accepted.join(F.broadcast(regions.select("region_id", "name")),
                          accepted["region"] == F.col("name"), "inner")
            .select(
                F.expr("uuid()").alias("id"),
                F.col("date"),
                F.col("region_id"),
                F.col("total_beds").cast("int").alias("total_beds"),
                F.col("occupied_beds").cast("int").alias("occupied_beds"),
                F.col("icu_beds").cast("int").alias("icu_beds"),
                F.col("icu_occupied").cast("int").alias("icu_occupied"),
                F.lit(run_id).alias("source_run_id"),
                F.current_timestamp().alias("created_at"),
            )
        )
        bronze = LakeTable(
            spark,
            os.path.join(lake_dir, "capacity_daily"),
            keys=["date", "region_id"],
            partition_col="date",
            version_col="created_at",
        )
        bronze.upsert(capacity)

        append_run_log(
            spark,
            runs_path,
            run_log_row(
                run_id, source, "success", started, utcnow(),
                rows_in=n_acc + n_rej, rows_loaded=n_acc, rows_rejected=n_rej,
                notes=f"Input file: {input_path}",
            ),
        )
        accepted.unpersist()
        rejected.unpersist()
        return IngestResult(run_id, n_acc + n_rej, n_acc, n_rej, rejects_path)
    except Exception as e:  # run-log failure path (ingest_capacity.py:213-224)
        append_run_log(
            spark,
            runs_path,
            run_log_row(run_id, source, "failed", started, utcnow(), notes=f"Error: {e}"),
        )
        raise

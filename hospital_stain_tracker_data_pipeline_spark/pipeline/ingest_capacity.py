"""Ingest job: raw HHS CSV → validated bronze ``capacity_daily``
(reference: ``backend/app/etl/ingest_capacity.py:74-226``; SURVEY.md §3.1).

One declarative plan replaces the reference's row-at-a-time loop:

    scan csv → project/rename → to_date → reason column → cache, with
    counts and accepted region names observed → accepted/rejected
    split → region get-or-create → natural-key upsert → rejects CSV +
    run-log rows

Deliberate deviations from the reference, documented:
- An unparseable date becomes NULL and is routed to rejects as
  "date is required" instead of failing the whole batch
  (ingest_capacity.py:15-20 raises). Batch-fail on malformed data is an
  anti-pattern at scale.
- Region get-or-create is one set difference on the driver between
  the batch's observed names and the dimension's (SURVEY.md §2.3
  op-join-lookup-dim) rather than N sequential SQL probes
  (ingest_capacity.py:158-163).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import (
    REJECT_REASON,
    capacity_reject_rules,
    reject_reason_column,
    split_on_reason,
)
from ..session import _materialize_observed, local_rows_df
from ..sources.csv_source import read_hhs_csv
from ..sources.sinks import logged_run, new_run_id, write_rejects_csv
from .lake import LakeTable, lake_table

# Most distinct region names a batch may bring and the region dimension
# may hold: both sets are collected to the driver. The reference serves
# US states and territories (≈60); the bound leaves room for counties.
_MAX_REGION_NAMES = 10_000


@dataclass
class IngestResult:
    run_id: str
    rows_in: int
    rows_loaded: int
    rows_rejected: int
    rejects_path: str | None


def parse_and_validate(raw: DataFrame) -> DataFrame:
    """Canonical-rename CSV → the same rows with a ``_reject_reason``
    column, NULL on an accepted row (``split_on_reason`` splits it).

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
    return parsed.withColumn(REJECT_REASON, reject_reason_column(rules))


def get_or_create_regions(
    spark: SparkSession,
    names: set[str],
    regions_table: LakeTable,
    population: int | None = None,
) -> dict[str, str]:
    """Dimension get-or-create as a set operation (op-join-lookup-dim).

    ``names`` are the batch's accepted region names. The dimension's
    ``(name, region_id)`` pairs are collected once; names it lacks get
    fresh UUIDs and ``population`` and are appended, and a batch that
    brings none leaves the dimension's files alone. Returns
    ``{name: region_id}`` for the whole dimension, which is small
    (≤ ``_MAX_REGION_NAMES``, checked before anything is written).
    """
    existing = regions_table.read() if regions_table.exists() else None
    ids = {} if existing is None else dict(existing.select("name", "region_id").collect())
    new_names = sorted(names - ids.keys())
    if len(ids) + len(new_names) > _MAX_REGION_NAMES:
        raise ValueError(
            f"{len(ids) + len(new_names)} region names exceed the driver-side "
            f"bound of {_MAX_REGION_NAMES}; nothing was written"
        )
    if not new_names:
        return ids
    # one partition, so a new dimension is one file
    new_regions = local_rows_df(spark, [(n,) for n in new_names], "name string").select(
        F.expr("uuid()").alias("region_id"),
        F.col("name"),
        F.lit(population).cast("long").alias("population"),
        F.current_timestamp().alias("created_at"),
    )
    dim = new_regions if existing is None else existing.unionByName(new_regions)
    # Dimension append must be materialized before its files are
    # rewritten; it is a small table so a localCheckpoint is cheap.
    dim = dim.localCheckpoint(eager=True)
    dim.write.mode("overwrite").parquet(regions_table.path)
    return dict(dim.select("name", "region_id").collect())


def _region_lookup(ids: dict[str, str]) -> Column:
    """``{name: region_id}`` as a map literal for the projection: the
    dimension is on the driver already, so the lookup needs no
    broadcast job. The map is one JSON string literal, which constant
    folding parses once at planning; building it is a fixed number of
    Py4J calls, where a ``create_map`` of one literal per name and id
    made two calls a region."""
    return F.from_json(F.lit(json.dumps(ids)), "map<string,string>")


def ingest_capacity_csv(
    spark: SparkSession,
    input_path: str,
    source: str,
    lake_dir: str,
    rejects_dir: str | None = None,
) -> IngestResult:
    """End-to-end ingest of one CSV batch into the bronze table."""
    run_id = new_run_id()
    runs_path = lake_table(spark, lake_dir, "pipeline_runs").path
    checked = None
    try:
        with logged_run(
            spark, runs_path, run_id, source, notes=f"Input file: {input_path}"
        ) as counts:
            raw = read_hhs_csv(spark, input_path)
            reason = F.col(REJECT_REASON)
            # One scan of the input fills the cache that serves both
            # branches, and yields the counts and the accepted region
            # names on the way.
            checked, seen = _materialize_observed(
                parse_and_validate(raw),
                cache=True,
                accepted=F.count_if(reason.isNull()),
                rejected=F.count_if(reason.isNotNull()),
                names=F.collect_set(F.when(reason.isNull(), F.col("region"))),
            )
            n_acc, n_rej = seen["accepted"], seen["rejected"]
            accepted, rejected = split_on_reason(checked)

            ids = get_or_create_regions(
                spark, set(seen["names"]), lake_table(spark, lake_dir, "regions")
            )

            rejects_path = None
            if n_rej:
                rejects_path = write_rejects_csv(
                    rejected, rejects_dir or os.path.join(lake_dir, "rejects"), run_id
                )

            capacity = accepted.select(
                F.expr("uuid()").alias("id"),
                F.col("date"),
                _region_lookup(ids)[F.col("region")].alias("region_id"),
                F.col("total_beds").cast("int").alias("total_beds"),
                F.col("occupied_beds").cast("int").alias("occupied_beds"),
                F.col("icu_beds").cast("int").alias("icu_beds"),
                F.col("icu_occupied").cast("int").alias("icu_occupied"),
                F.lit(run_id).alias("source_run_id"),
                F.current_timestamp().alias("created_at"),
            )
            lake_table(spark, lake_dir, "capacity_daily").upsert(capacity)

            counts.update(rows_in=n_acc + n_rej, rows_loaded=n_acc, rows_rejected=n_rej)
            return IngestResult(run_id, n_acc + n_rej, n_acc, n_rej, rejects_path)
    finally:
        # on every path: a failed batch must not pin its input for the
        # rest of the session
        if checked is not None:
            checked.unpersist()

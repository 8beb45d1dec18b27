"""The reference's 7 REST query endpoints as DataFrame functions
(reference: ``backend/app/main.py:110-373``; SURVEY.md §2.11).

Each function takes already-loaded DataFrames (so callers control the
source — lake tables here, fixtures in ``plans``) and returns a
DataFrame with the endpoint's result shape. No HTTP layer is rebuilt;
these ARE the query semantics.

A dashboard answer is small by construction: one row per region for a
date, or one row per date. Each endpoint is one plan whose bounded tail
runs in a single task, so a request pays for one Spark job, not for the
scheduling of several:

- the date-filtered slice (one date partition of a date-partitioned
  table: at most one row per region) and the ``regions`` dimension (at
  most ``_MAX_REGION_NAMES`` rows, the ingest's bound) are each
  coalesced to one partition and hash-joined there, so the join, the
  sort by region, the compare window and the KPI aggregate need no
  exchange;
- a scan of a whole table stays parallel and is coalesced only after
  its aggregate (at most one row per date), before the sort;
- ``runs_latest`` stays parallel throughout: the run log has no bound.

Questions about dates alone (the ``date=None`` default of the dated
endpoints, ``available_dates``) are answered from the table's partition
listing, with no Spark job, when the frame passed in is itself a full
``LakeTable.read()`` frame of a table partitioned by ``date``
(``lake.listed_partitions``). Every other frame runs the DataFrame
aggregate, which stays the specification of the answer.
"""

from __future__ import annotations

import datetime as _dt

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType

from ..functions.metrics import bed_occ_pct_api, icu_occ_pct
from ..operators.asof import with_prev_calendar_day
from .lake import listed_partitions


def latest_date(df: DataFrame):
    """Default date = max(date) (main.py:148-152,205-209) — op-agg-max-date."""
    return df.agg(F.max("date").alias("max_date"))


def _listed_dates(df: DataFrame) -> list[_dt.date | None] | None:
    """The distinct ``date`` values of ``df`` from its table's partition
    listing (the NULL partition as ``None``). ``None`` unless ``df`` is
    a full ``LakeTable.read()`` frame partitioned by a ``date`` column
    of type date with every value in the canonical ``YYYY-MM-DD`` form;
    any other form is left to Spark's own parsing in the aggregate."""
    listed = listed_partitions(df)
    if listed is None or listed[0] != "date":
        return None
    if not isinstance(df.schema["date"].dataType, DateType):
        return None
    values = listed[1]
    try:
        dates = [None if v is None else _dt.date.fromisoformat(v) for v in values]
    except ValueError:
        return None
    if any(d is not None and d.isoformat() != v for d, v in zip(dates, values)):
        return None
    return dates


def _default_date(df: DataFrame):
    """The ``date=None`` default: ``latest_date``, from the partition
    listing when ``df`` has one (NULL ignored, as by ``max``)."""
    dates = _listed_dates(df)
    if dates is None:
        return latest_date(df).collect()[0][0]
    return max((d for d in dates if d is not None), default=None)


def _local_frame(df: DataFrame, columns: dict, schema: str) -> DataFrame:
    """A driver-local relation in ``df``'s session. Built from an Arrow
    table it runs no Spark job; ``createDataFrame`` over a Python list
    would run a Python-worker job (≈0.3 s)."""
    return df.sparkSession.createDataFrame(pa.table(columns), schema=schema)


def _with_region_names(rows: DataFrame, regions: DataFrame) -> DataFrame:
    """``rows`` inner-joined to the region names as ``region``, in one
    task: both sides coalesced to one partition and hash-joined, so
    nothing downstream needs an exchange. ``rows`` must be bounded by
    the region count (one date's slice), ``regions`` is the dimension."""
    names = regions.select("region_id", F.col("name").alias("region")).coalesce(1)
    return rows.coalesce(1).hint("shuffle_hash").join(names, "region_id", "inner")


def runs_latest(runs: DataFrame, limit: int = 20) -> DataFrame:
    """GET /runs — newest N runs by started_at (main.py:110-127).

    The lake run-log is append-only (start + end rows per run); take the
    latest row per run_id first, then order/limit — op-sort-limit.
    """
    w = Window.partitionBy("run_id").orderBy(
        F.desc_nulls_last("ended_at"), F.desc("started_at")
    )
    current = (
        runs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return current.orderBy(F.desc("started_at")).limit(limit)


def capacity_latest(
    capacity: DataFrame, regions: DataFrame, date: _dt.date | str | None = None
) -> DataFrame:
    """GET /capacity/latest — capacity rows for a date joined to region
    names, plus API-variant derived occupancy pcts (main.py:130-184).

    op-join-capacity-region + op-filter-eq + op-fn-div-guard (NULL
    variant) + op-fn-round.
    """
    if date is None:
        date = _default_date(capacity)
    joined = _with_region_names(capacity.filter(F.col("date") == F.lit(date)), regions)
    return joined.select(
        "date",
        "region",
        "total_beds",
        "occupied_beds",
        "icu_beds",
        "icu_occupied",
        F.round(bed_occ_pct_api(F.col("occupied_beds"), F.col("total_beds")), 4).alias(
            "bed_occ_pct"
        ),
        F.round(icu_occ_pct(F.col("icu_occupied"), F.col("icu_beds")), 4).alias(
            "icu_occ_pct"
        ),
    ).orderBy("region")


def metrics_latest(
    metrics: DataFrame, regions: DataFrame, date: _dt.date | str | None = None
) -> DataFrame:
    """GET /metrics/latest — same shape over metrics_daily (main.py:187-231)."""
    if date is None:
        date = _default_date(metrics)
    return (
        _with_region_names(metrics.filter(F.col("date") == F.lit(date)), regions)
        .select("date", "region", "bed_occ_pct", "icu_occ_pct", "strain_index")
        .orderBy("region")
    )


def metrics_compare(
    metrics: DataFrame, regions: DataFrame, date: _dt.date | str | None = None
) -> DataFrame:
    """GET /metrics/compare — per-region strain vs previous *calendar*
    day + NULL-propagating delta (main.py:234-289).

    Implemented as one lag window with a calendar-adjacency guard
    (op-window-lag) instead of the reference's self-join — one shuffle,
    one scan (SURVEY.md §2.3 op-join-asof-prev notes the equivalence).
    The window sees only ``date`` and the day before it: the guard
    needs no other row, and on a date-partitioned table the scan is
    pruned to those two partitions. Those two days (at most two rows
    per region) are coalesced to one partition first, so the window
    runs without a shuffle.
    """
    if date is None:
        date = _default_date(metrics)
    day = F.lit(date).cast("date")
    lagged = with_prev_calendar_day(
        metrics.filter(F.col("date").between(F.date_sub(day, 1), day)).coalesce(1),
        ["region_id"],
        "date",
        "strain_index",
        "prev_strain_index",
    )
    return (
        _with_region_names(lagged.filter(F.col("date") == F.lit(date)), regions)
        .select(
            "date",
            "region",
            "strain_index",
            "prev_strain_index",
            (F.col("strain_index") - F.col("prev_strain_index")).alias("delta"),
        )
        .orderBy("region")
    )


def available_dates(metrics: DataFrame, full: bool = False) -> DataFrame:
    """GET /metrics/available-dates — min/max/count-distinct in one agg
    (main.py:298-310) — op-agg-minmax-countd. With ``full``, the sorted
    distinct date list (op-distinct-sorted, main.py:319-328).

    A full ``LakeTable.read()`` frame is answered from its partition
    listing as a driver-local relation, with the NULL partition exactly
    as the aggregates treat NULL: skipped by ``min``, ``max`` and
    ``countDistinct``, and a row of its own (sorted first) in the list."""
    dates = _listed_dates(metrics)
    if dates is not None:
        known = sorted(d for d in dates if d is not None)
        if full:
            listed = [None] * (len(known) < len(dates)) + known
            return _local_frame(metrics, {"date": pa.array(listed, pa.date32())}, "date date")
        return _local_frame(
            metrics,
            {
                "min_date": pa.array(known[:1] or [None], pa.date32()),
                "max_date": pa.array(known[-1:] or [None], pa.date32()),
                "n_dates": pa.array([len(known)], pa.int64()),
            },
            "min_date date, max_date date, n_dates bigint not null",
        )
    if full:
        return metrics.select("date").distinct().coalesce(1).orderBy("date")
    return metrics.agg(
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.countDistinct("date").alias("n_dates"),
    )


def coverage(metrics: DataFrame, min_rows: int = 1) -> DataFrame:
    """GET /metrics/coverage — per-date row counts with HAVING
    (main.py:339-349) — op-groupby-having."""
    return (
        metrics.groupBy("date")
        .agg(F.count("id").alias("rows"))
        .filter(F.col("rows") >= min_rows)
        .coalesce(1)
        .orderBy("date")
    )


def coverage_best_date(metrics: DataFrame, min_rows: int = 1) -> DataFrame:
    """best_date = most recent qualifying date + its count
    (main.py:357-366), computed in-engine instead of client-side —
    op-argmax-date."""
    return coverage(metrics, min_rows).orderBy(F.desc("date")).limit(1)


def dashboard_kpis(metrics_for_date: DataFrame) -> DataFrame:
    """The dashboard's client-side KPIs in one agg (dashboard.html:367-427;
    App.tsx:83-93): highest-strain region (argmax), mean strain, crisis
    count (strain > 80) — op-argmax-strain + op-agg-avg +
    op-agg-count-filtered."""
    return metrics_for_date.agg(
        F.max_by("region", "strain_index").alias("highest_strain_region"),
        F.max("strain_index").alias("highest_strain"),
        F.avg("strain_index").alias("avg_strain"),
        F.count(F.when(F.col("strain_index") > 80, 1)).alias("crisis_count"),
    )

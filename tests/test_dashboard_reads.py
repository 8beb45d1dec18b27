"""What a dashboard request costs and answers when its tables are
opened through ``LakeTable.read()``: each request's Spark job budget
(one job for a dated request, none for ``available_dates``), and the
answers taken from the partition listing equal the DataFrame
aggregates they stand in for, after an upsert adds a date, with a NULL
date partition, and on a filtered frame that must fall back."""

from __future__ import annotations

import csv
import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    api_queries,
    compute_metrics,
    ingest_capacity_csv,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import (
    LakeTable,
    lake_table,
    listed_partitions,
)

HEADERS = [
    "date", "state", "inpatient_beds", "inpatient_beds_used",
    "total_staffed_adult_icu_beds", "staffed_adult_icu_bed_occupancy",
]
REGIONS = ["CA", "NY", "TX"]
START = dt.date(2026, 1, 1)
N_DATES = 12

# the tables a dashboard reads
DASHBOARD_TABLES = ("capacity_daily", "metrics_daily", "regions", "pipeline_runs")


def _csv(path, days):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(HEADERS)
        for d in days:
            for i, region in enumerate(REGIONS):
                w.writerow([START + dt.timedelta(d), region, 1000, 500 + 7 * d + i, 100, 40 + d])
    return str(path)


@pytest.fixture(scope="module")
def base_lake(spark, tmp_path_factory):
    """A lake of ``N_DATES`` date partitions, built by the pipeline.
    Tests that write copy it first."""
    base = tmp_path_factory.mktemp("dashboard")
    lake_dir = str(base / "lake")
    ingest_capacity_csv(spark, _csv(base / "history.csv", range(N_DATES)), "h", lake_dir)
    compute_metrics(spark, lake_dir)
    return lake_dir


def _request(spark, lake_dir, kind, arg):
    """One dashboard request, its tables opened as the dashboard opens
    them; returns the answer frame. ``arg`` is the date of a dated kind
    (``None`` for the default) and ``"full"`` or ``"summary"`` for
    ``available_dates``."""

    def read(name):
        return lake_table(spark, lake_dir, name).read()

    if kind == "capacity_latest":
        return api_queries.capacity_latest(read("capacity_daily"), read("regions"), arg)
    if kind == "metrics_latest":
        return api_queries.metrics_latest(read("metrics_daily"), read("regions"), arg)
    if kind == "metrics_compare":
        return api_queries.metrics_compare(read("metrics_daily"), read("regions"), arg)
    if kind == "dashboard_kpis":
        return api_queries.dashboard_kpis(
            api_queries.metrics_latest(read("metrics_daily"), read("regions"), arg)
        )
    if kind == "available_dates":
        return api_queries.available_dates(read("metrics_daily"), full=arg == "full")
    if kind == "coverage":
        return api_queries.coverage(read("metrics_daily"), 2)
    if kind == "coverage_best_date":
        return api_queries.coverage_best_date(read("metrics_daily"), 2)
    return api_queries.runs_latest(read("pipeline_runs"))


DATED = ("capacity_latest", "metrics_latest", "metrics_compare", "dashboard_kpis")
# Spark jobs per request, as measured: a dated request is one plan with
# no exchange; available_dates is a driver-local relation; coverage and
# the run log keep one parallel aggregate or window (2 jobs under AQE).
JOB_BUDGET = {
    **{kind: 1 for kind in DATED},
    "available_dates": 0,
    "coverage": 2,
    "coverage_best_date": 2,
    "runs_latest": 2,
}


def test_dashboard_request_job_budget(spark, base_lake):
    """Counter tripwire: every request kind, with a date and with the
    ``date=None`` default, stays in its job budget."""
    sc = spark.sparkContext
    for name in DASHBOARD_TABLES:  # resolve each table once, as a warm dashboard has
        lake_table(spark, base_lake, name).read()
    day = START + dt.timedelta(N_DATES - 3)
    requests = [(kind, d) for kind in DATED for d in (day, None)]
    requests += [("available_dates", "summary"), ("available_dates", "full")]
    requests += [(kind, None) for kind in ("coverage", "coverage_best_date", "runs_latest")]
    jobs, answers = {}, {}
    outer = sc.getLocalProperty("spark.jobGroup.id")
    for kind, arg in requests:
        group = f"dashboard-{kind}-{arg}"
        sc.setJobGroup(group, group)
        try:
            answers[kind, arg] = _request(spark, base_lake, kind, arg).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            sc.setLocalProperty("spark.job.description", outer)
        jobs[kind, arg] = group
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    counts = {k: len(tracker.getJobIdsForGroup(g)) for k, g in jobs.items()}
    over = {k: n for k, n in counts.items() if n > JOB_BUDGET[k[0]]}
    assert not over, counts

    last = START + dt.timedelta(N_DATES - 1)
    assert [r.region for r in answers["metrics_latest", None]] == REGIONS
    assert {r.date for r in answers["capacity_latest", None]} == {last}
    assert {r.date for r in answers["metrics_compare", day]} == {day}
    assert all(r.delta is not None for r in answers["metrics_compare", day])
    assert answers["available_dates", "summary"][0] == (START, last, N_DATES)
    assert [r.date for r in answers["available_dates", "full"]] == [
        START + dt.timedelta(d) for d in range(N_DATES)
    ]
    assert answers["coverage_best_date", None][0] == (last, len(REGIONS))


def _answers(metrics, capacity, regions):
    """The date-only answers and the default-date requests over the
    given frames, collected."""
    return {
        "available_dates": api_queries.available_dates(metrics).collect(),
        "available_dates_full": api_queries.available_dates(metrics, full=True).collect(),
        "metrics_latest": api_queries.metrics_latest(metrics, regions).collect(),
        "metrics_compare": api_queries.metrics_compare(metrics, regions).collect(),
        "capacity_latest": api_queries.capacity_latest(capacity, regions).collect(),
    }


def _assert_listing_is_the_aggregate(spark, lake_dir):
    """The answers over ``LakeTable.read()`` frames, which the listing
    serves, equal those over plain ``spark.read.parquet`` frames of the
    same paths, which run the aggregates; returns them."""
    names = ("metrics_daily", "capacity_daily", "regions")
    snap = {n: lake_table(spark, lake_dir, n).read() for n in names}
    for name in ("metrics_daily", "capacity_daily"):
        assert listed_partitions(snap[name]) is not None
    plain = {
        n: spark.read.option("mergeSchema", "true").parquet(os.path.join(lake_dir, n))
        for n in names
    }
    assert listed_partitions(plain["metrics_daily"]) is None
    got = _answers(snap["metrics_daily"], snap["capacity_daily"], snap["regions"])
    want = _answers(plain["metrics_daily"], plain["capacity_daily"], plain["regions"])
    assert got == want
    for full in (False, True):
        assert (
            api_queries.available_dates(snap["metrics_daily"], full).schema
            == api_queries.available_dates(plain["metrics_daily"], full).schema
        )
    return got


def test_listing_answers_equal_the_aggregates(spark, base_lake, tmp_path):
    """The partition listing answers exactly what the aggregates answer,
    because no partition a ``LakeTable`` writes is without rows: after
    the pipeline's upserts add a date, and with a NULL date partition (skipped by min/max/count, first in the full list).
    A filtered snapshot frame is not the snapshot: it runs the
    aggregate and sees only its own dates."""
    lake_dir = str(tmp_path / "lake")
    shutil.copytree(base_lake, lake_dir)
    last = START + dt.timedelta(N_DATES - 1)
    added = last + dt.timedelta(1)
    ingest_capacity_csv(spark, _csv(tmp_path / "day.csv", [N_DATES]), "d", lake_dir)
    compute_metrics(spark, lake_dir, dates=[str(added)])
    got = _assert_listing_is_the_aggregate(spark, lake_dir)
    assert got["available_dates"][0] == (START, added, N_DATES + 1)
    assert {r.date for r in got["metrics_compare"]} == {added}
    assert all(r.prev_strain_index is not None for r in got["metrics_compare"])

    for name in ("metrics_daily", "capacity_daily"):
        t = lake_table(spark, lake_dir, name)
        t.upsert(t.read().limit(1).withColumn("date", F.lit(None).cast("date")))
    assert os.path.isdir(
        os.path.join(lake_dir, "metrics_daily", f"date={LakeTable._NULL_PARTITION}")
    )
    got = _assert_listing_is_the_aggregate(spark, lake_dir)
    assert got["available_dates"][0] == (START, added, N_DATES + 1)
    assert got["available_dates_full"][0].date is None
    assert len(got["available_dates_full"]) == N_DATES + 2
    assert {r.date for r in got["metrics_latest"]} == {added}

    metrics = lake_table(spark, lake_dir, "metrics_daily").read()
    regions = lake_table(spark, lake_dir, "regions").read()
    older = metrics.filter(F.col("date") < F.lit(added))
    assert listed_partitions(older) is None
    assert api_queries.available_dates(older).collect()[0] == (START, last, N_DATES)
    assert {r.date for r in api_queries.metrics_latest(older, regions).collect()} == {last}

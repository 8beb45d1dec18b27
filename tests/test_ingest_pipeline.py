"""End-to-end domain pipeline tests (FIXTURES.md §A6/§A8): reject rules
with first-match-wins reasons, ingest idempotency, metrics derivation,
and calendar-day delta semantics."""

from __future__ import annotations

import contextlib
import csv
import datetime as dt
import io
import os

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    api_queries,
    compute_metrics,
    ingest_capacity_csv,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

HEADERS = [
    "date",
    "state",
    "inpatient_beds",
    "inpatient_beds_used",
    "total_staffed_adult_icu_beds",
    "staffed_adult_icu_bed_occupancy",
]


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADERS)
        w.writerows(rows)
    return path


GOOD_ROWS = [
    ["2026-01-01", "CA", 1000, 850, 100, 92],
    ["2026-01-01", "NY", 800, 400, 50, 25],
    ["2026-01-02", "CA", 1000, 900, 100, 95],
    ["2026-01-02", "NY", 800, 500, 50, 30],
    # gap: no 2026-01-03 for CA, then 2026-01-04 (delta must be NULL)
    ["2026-01-04", "CA", 1000, 700, 100, 60],
]

# one row per validation rule, expected first-match-wins reason
REJECT_CASES = [
    (["", "CA", 100, 50, "", ""], "date is required"),
    (["2026-01-01", "", 100, 50, "", ""], "region is required"),
    (["2026-01-01", "CA", "", 50, "", ""], "total_beds is required"),
    (["2026-01-01", "CA", 100, "", "", ""], "occupied_beds is required"),
    (["2026-01-01", "CA", -1, 0, "", ""], "total_beds cannot be negative"),
    (["2026-01-01", "CA", 100, -5, "", ""], "occupied_beds cannot be negative"),
    (["2026-01-01", "CA", 100, 150, "", ""], "occupied_beds cannot exceed total_beds"),
    (["2026-01-01", "CA", 100, 50, -2, ""], "icu_beds cannot be negative"),
    (["2026-01-01", "CA", 100, 50, 10, -1], "icu_occupied cannot be negative"),
    (["2026-01-01", "CA", 100, 50, 10, 20], "icu_occupied cannot exceed icu_beds"),
    # first-match-wins: date NULL AND total_beds < 0 → date reason
    (["", "CA", -1, 50, "", ""], "date is required"),
    # non-numeric bed count: try_cast → NULL → required-rule reject
    # (ANSI mode would otherwise abort the whole batch on the cast)
    (["2026-01-01", "CA", "NA", 50, "", ""], "total_beds is required"),
]


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """Ingest good + reject rows once; derive metrics; share the lake."""
    base = tmp_path_factory.mktemp("lake")
    csv_path = _write_csv(
        str(base / "batch1.csv"), GOOD_ROWS + [c for c, _ in REJECT_CASES]
    )
    lake_dir = str(base / "tables")
    res = ingest_capacity_csv(spark, csv_path, "test-batch", lake_dir)
    metrics = compute_metrics(spark, lake_dir)
    return {"dir": lake_dir, "ingest": res, "metrics": metrics, "base": base}


def _bronze(spark, lake):
    return spark.read.parquet(os.path.join(lake["dir"], "capacity_daily"))


def _silver(spark, lake):
    return spark.read.parquet(os.path.join(lake["dir"], "metrics_daily"))


def _regions(spark, lake):
    return spark.read.parquet(os.path.join(lake["dir"], "regions"))


def test_scan_uri_scheme_contract(spark, tmp_path):
    """op-scan-s3 contract: ``read_hhs_csv`` takes any Hadoop-compatible
    URI, not just a bare local path — exercised here through the
    ``file://`` scheme (same code path that accepts ``s3a://bucket/key``
    on a cluster with the S3A connector; the reference instead stages
    the object via boto3, ingest_capacity_s3.py:22-45). No S3 endpoint
    exists in this environment, so the scheme-URI read IS the testable
    half of the contract."""
    from hospital_stain_tracker_data_pipeline_spark.sources.csv_source import read_hhs_csv

    p = _write_csv(str(tmp_path / "uri batch.csv"), GOOD_ROWS)
    # Hadoop Path takes the decoded form; an URL-encoded S3 event key
    # must be url_decode'd BEFORE this call (the streaming ingest's
    # source_file column demonstrates the decode step)
    uri = "file://" + p
    df = read_hhs_csv(spark, uri)
    assert df.count() == len(GOOD_ROWS)
    assert set(df.columns) >= {"date", "region", "total_beds", "occupied_beds"}


def test_seed_lake_idempotent(spark, tmp_path):
    """seed.py analog (seed.py:14-56): one region with population, one
    run-log row, one capacity row for today — re-running reuses the
    region and updates (never duplicates) the capacity row."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.seed import seed_lake

    lake_dir = str(tmp_path / "seeded")
    rid1 = seed_lake(spark, lake_dir)
    rid2 = seed_lake(spark, lake_dir)
    assert rid1 == rid2  # get-or-create reuses the region
    regions = spark.read.parquet(os.path.join(lake_dir, "regions"))
    [r] = regions.filter(F.col("name") == "Test Region").collect()
    assert r.population == 1_000_000
    cap = spark.read.parquet(os.path.join(lake_dir, "capacity_daily"))
    assert cap.count() == 1  # same (date, region) row merged, not appended
    runs = spark.read.parquet(os.path.join(lake_dir, "pipeline_runs"))
    assert runs.filter(F.col("source") == "manual_seed").count() == 2


def test_seed_keeps_the_ingested_dimension_of_a_uri_lake(spark, tmp_path):
    """Seeding a lake named by a ``file://`` URI adds "Test Region" to
    the dimension an ingest wrote there and keeps every ingested
    region, so every bronze ``region_id`` still resolves. The seed once
    decided with a local-path check that no dimension existed at a URI
    and overwrote it with "Test Region" alone."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.seed import seed_lake

    rows = [["2026-01-01", r, 100, 50, 10, 5] for r in ("AA", "BB", "CC")]
    csv_path = _write_csv(str(tmp_path / "three.csv"), rows)
    lake_dir = "file://" + str(tmp_path / "lake")
    ingest_capacity_csv(spark, csv_path, "three", lake_dir)
    seed_lake(spark, lake_dir)

    regions = spark.read.parquet(os.path.join(lake_dir, "regions")).collect()
    assert sorted(r.name for r in regions) == ["AA", "BB", "CC", "Test Region"]
    assert {r.name: r.population for r in regions}["Test Region"] == 1_000_000
    bronze = spark.read.parquet(os.path.join(lake_dir, "capacity_daily"))
    assert bronze.count() == 4
    assert {r.region_id for r in bronze.collect()} <= {r.region_id for r in regions}


def test_ingest_counts(spark, lake):
    res = lake["ingest"]
    assert res.rows_in == len(GOOD_ROWS) + len(REJECT_CASES)
    assert res.rows_loaded == len(GOOD_ROWS)
    assert res.rows_rejected == len(REJECT_CASES)
    assert _bronze(spark, lake).count() == len(GOOD_ROWS)


def test_reject_reasons_first_match_wins(spark, lake):
    rejects = spark.read.option("header", True).csv(
        lake["ingest"].rejects_path
    )
    reasons = {r["_reject_reason"] for r in rejects.collect()}
    assert reasons == {reason for _, reason in REJECT_CASES}
    assert rejects.count() == len(REJECT_CASES)
    # the reject contract carries the reference's _original_index analog
    # (unique per-row source position, csv_source.py::_source_row)
    idxs = [r["_source_row"] for r in rejects.collect()]
    assert len(idxs) == len(set(idxs)) and all(i is not None for i in idxs)


def test_region_get_or_create(spark, lake):
    names = {r.name for r in _regions(spark, lake).collect()}
    assert names == {"CA", "NY"}


def test_idempotent_reingest_updates(spark, lake):
    """Same batch twice: row count unchanged; an updated row wins
    (semantics of ON CONFLICT DO UPDATE, ingest_capacity.py:183-192)."""
    updated = [r[:] for r in GOOD_ROWS]
    updated[0][3] = 999  # CA 2026-01-01 occupied_beds 850 → 999
    csv2 = _write_csv(str(lake["base"] / "batch2.csv"), updated)
    ingest_capacity_csv(spark, csv2, "test-batch-2", lake["dir"])

    bronze = _bronze(spark, lake)
    assert bronze.count() == len(GOOD_ROWS)
    [row] = bronze.filter(
        (F.col("date") == "2026-01-01")
        & (F.col("region_id").isin(
            [r.region_id for r in _regions(spark, lake).filter("name='CA'").collect()]
        ))
    ).collect()
    assert row.occupied_beds == 999
    # dimension not duplicated either
    assert _regions(spark, lake).count() == 2


def test_metrics_golden_values(spark, lake):
    silver = _silver(spark, lake)
    regions = _regions(spark, lake)
    ca = {r.name: r.region_id for r in regions.collect()}["CA"]
    [m] = silver.filter(
        (F.col("date") == "2026-01-02") & (F.col("region_id") == ca)
    ).collect()
    # 1000/900/100/95 → bed .9, icu .95, strain .4*90+.6*95 = 93.0
    assert m.bed_occ_pct == 0.9
    assert m.icu_occ_pct == 0.95
    assert m.strain_index == 93.0


def test_compare_calendar_day_delta(spark, lake):
    """compare(d+1) numeric delta; date after a gap → NULL delta
    (main.py:264-268) — where plain lag would wrongly bridge the gap."""
    compute_metrics(spark, lake["dir"])  # refresh after re-ingest
    silver = _silver(spark, lake)
    regions = _regions(spark, lake)

    out = {
        r.region: r
        for r in api_queries.metrics_compare(silver, regions, "2026-01-02").collect()
    }
    assert out["CA"].delta is not None
    assert out["CA"].prev_strain_index is not None

    out4 = {
        r.region: r
        for r in api_queries.metrics_compare(silver, regions, "2026-01-04").collect()
    }
    # 2026-01-03 absent → prev/delta NULL despite a 01-02 observation
    assert out4["CA"].prev_strain_index is None
    assert out4["CA"].delta is None


def test_compare_reads_only_the_day_and_the_day_before(spark, tmp_path):
    """compare(d) windows just d and d-1: the scan of a date-partitioned
    table prunes to those two partitions, and a region seen on d-2 but
    not on d-1 still gets a NULL prev/delta — no lag reaches past the
    missing day."""
    days = [dt.date(2026, 1, 1) + dt.timedelta(days=i) for i in range(10)]
    d, before = days[-1], days[-2]
    rows = [
        (day, region, float(10 * i + j))
        for i, day in enumerate(days)
        for j, region in enumerate(["r1", "r2"])
        if (day, region) != (before, "r1")
    ]
    metrics = LakeTable(
        spark, str(tmp_path / "metrics"), keys=["date", "region_id"], version_col=None
    )
    metrics.overwrite(
        spark.createDataFrame(rows, "date date, region_id string, strain_index double")
    )
    regions = spark.createDataFrame(
        [("r1", "A"), ("r2", "B")], "region_id string, name string"
    )

    q = api_queries.metrics_compare(metrics.read(), regions, str(d))
    out = {r.region: r for r in q.collect()}
    assert (out["A"].strain_index, out["A"].prev_strain_index, out["A"].delta) == (
        90.0, None, None
    )
    assert (out["B"].strain_index, out["B"].prev_strain_index, out["B"].delta) == (
        91.0, 81.0, 10.0
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    pf_line = buf.getvalue().split("PartitionFilters")[1].splitlines()[0]
    assert str(before) in pf_line and str(d) in pf_line, pf_line


def test_available_dates_and_coverage(spark, lake):
    silver = _silver(spark, lake)
    [r] = api_queries.available_dates(silver).collect()
    assert str(r.min_date) == "2026-01-01"
    assert str(r.max_date) == "2026-01-04"
    assert r.n_dates == 3

    cov = {str(r.date): r.rows for r in api_queries.coverage(silver, 2).collect()}
    assert cov == {"2026-01-01": 2, "2026-01-02": 2}

    [best] = api_queries.coverage_best_date(silver, 2).collect()
    assert str(best.date) == "2026-01-02"


def test_runs_log(spark, lake):
    """The fixture's own two runs, as the /runs query reports them: the
    ingest run carries its IngestResult's counts and the metrics run
    succeeded. Other tests may add runs to the shared lake."""
    runs = spark.read.parquet(os.path.join(lake["dir"], "pipeline_runs"))
    latest = {r.run_id: r for r in api_queries.runs_latest(runs).collect()}
    ingest = lake["ingest"]
    run = latest[ingest.run_id]
    assert (run.source, run.status) == ("test-batch", "success")
    assert (run.rows_in, run.rows_loaded, run.rows_rejected) == (
        ingest.rows_in, ingest.rows_loaded, ingest.rows_rejected
    )
    run = latest[lake["metrics"].run_id]
    assert (run.source, run.status) == ("metrics-job", "success")


def test_dashboard_kpis(spark, lake):
    silver = _silver(spark, lake)
    regions = _regions(spark, lake)
    day = api_queries.metrics_latest(silver, regions, "2026-01-02")
    [k] = api_queries.dashboard_kpis(day).collect()
    assert k.highest_strain_region == "CA"
    assert k.highest_strain == 93.0
    assert k.crisis_count == 1


def test_scan_s3a_env_ceiling_is_the_jar_not_the_code(spark):
    """op-scan-s3, the untestable half, pinned as far as the sandbox
    allows: pointing ``read_hhs_csv`` at an ``s3a://`` URI must reach
    Hadoop's FileSystem scheme resolution and fail there with
    ClassNotFoundException for ``org.apache.hadoop.fs.s3a.S3AFileSystem``
    — i.e. the engine's read path is fully wired for S3 and the ONLY
    missing piece is the connector jar this environment doesn't ship
    (``hadoop-aws-3.4.2.jar`` + ``bundle`` AWS SDK, matching the
    installed hadoop-client 3.4.2). On a real cluster those jars are
    present and the same call reads the object directly — no boto3
    staging copy (reference: ingest_capacity_s3.py:22-45). Any other
    failure mode here (our code raising before Hadoop resolves the
    scheme, or a different exception class) is a regression in the
    contract."""
    from hospital_stain_tracker_data_pipeline_spark.sources.csv_source import (
        read_hhs_csv,
    )

    with pytest.raises(Exception) as exc_info:
        read_hhs_csv(spark, "s3a://no-such-bucket/key.csv").count()
    msg = str(exc_info.value)
    assert "org.apache.hadoop.fs.s3a.S3AFileSystem" in msg
    assert "ClassNotFoundException" in msg


def test_non_numeric_optional_icu_loads_as_null(spark, tmp_path):
    """A non-numeric value in an OPTIONAL numeric column (icu_beds) must
    not abort the batch (ANSI cast) nor reject the row — try_cast turns
    it into NULL and the row loads with icu metrics absent, matching the
    reference's coercion semantics (ingest_capacity.py:15-20)."""
    csv_path = _write_csv(
        str(tmp_path / "icu_na.csv"),
        [["2026-02-01", "WA", 100, 50, "NA", "NA"]],
    )
    lake_dir = str(tmp_path / "tables")
    res = ingest_capacity_csv(spark, csv_path, "icu-na", lake_dir)
    assert res.rows_loaded == 1 and res.rows_rejected == 0
    [row] = (
        spark.read.parquet(os.path.join(lake_dir, "capacity_daily"))
        .select("total_beds", "icu_beds", "icu_occupied")
        .collect()
    )
    assert row["total_beds"] == 100.0
    assert row["icu_beds"] is None and row["icu_occupied"] is None


def test_failed_ingest_releases_its_caches(spark, tmp_path, monkeypatch):
    """A batch whose upsert raises leaves nothing in Spark's cache
    manager: the accepted/rejected frames are released on the failure
    path too, not only on success."""

    def failing_upsert(self, df, *args, **kwargs):
        raise RuntimeError("upsert failed")

    csv_path = _write_csv(str(tmp_path / "batch.csv"), GOOD_ROWS)
    spark.catalog.clearCache()
    monkeypatch.setattr(LakeTable, "upsert", failing_upsert)
    with pytest.raises(RuntimeError, match="upsert failed"):
        ingest_capacity_csv(spark, csv_path, "failing", str(tmp_path / "tables"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

"""The partition-scoped ``LakeTable.read`` and the upsert, compaction and
incremental-metrics paths built on it: partition values are matched by
the writer's own rendering (escaped names, NULL, integer-looking
strings), only the touched directories are listed and read, and an
ingest with no new region names leaves the dimension's files alone."""

from __future__ import annotations

import csv
import importlib.util
import os
import types

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    compute_metrics,
    ingest_capacity_csv,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

# values that need escaping in a directory name, the NULL partition, and
# integer-looking strings ("01" infers as the integer 1 when read alone)
TOUCHED = ["a:b", "x y", "50%", "a/b", None, "1", "2", "01"]
UNTOUCHED = ["a", "b=c"]


def _frame(spark, parts, version):
    rows = [(p, k, f"{p}-{k}-v{version}") for p in parts for k in range(3)]
    return spark.createDataFrame(rows, "p string, k int, x string")


def _rows(t):
    return sorted((r.p is None, r.p or "", r.k, r.x) for r in t.read().collect())


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_upsert_matches_escaped_null_and_numeric_partitions(spark, tmp_path, fmt):
    t = LakeTable(
        spark, str(tmp_path / "t"), keys=["p", "k"], partition_col="p",
        version_col=None, data_format=fmt,
    )
    t.upsert(_frame(spark, UNTOUCHED + TOUCHED, 0))
    full_type = dict(t.read().dtypes)["p"]
    assert full_type == "string"
    untouched_before = [r for r in _rows(t) if r[1] in UNTOUCHED]

    t.upsert(_frame(spark, TOUCHED, 1))
    # a batch touching only integer-looking values: a subset inference
    # would turn "01" into 1 and move its rows into partition "1"
    t.upsert(_frame(spark, ["01", "2"], 2))

    got = _rows(t)
    assert dict(t.read().dtypes)["p"] == full_type
    assert [r for r in got if r[1] in UNTOUCHED] == untouched_before
    want = {"01": 2, "2": 2}
    for p in TOUCHED:
        rows = [r for r in got if (r[0], r[1]) == (p is None, p or "")]
        assert sorted(r[2] for r in rows) == [0, 1, 2], (p, rows)
        assert {r[3] for r in rows} == {
            f"{p}-{k}-v{want.get(p, 1)}" for k in range(3)
        }
    assert len(got) == 3 * len(UNTOUCHED + TOUCHED)
    assert sorted(t.partition_file_counts()) == sorted(
        v if v is not None else LakeTable._NULL_PARTITION
        for v in UNTOUCHED + TOUCHED
    )

    # the scoped read returns the raw directory values as strings
    scoped = t.read(["01", None, "a:b", "absent"])
    assert dict(scoped.dtypes)["p"] == "string"
    assert sorted({r.p or "" for r in scoped.collect()}) == ["", "01", "a:b"]
    assert t.read(["absent"]) is None

    # compaction reads through the scoped path and writes every
    # partition, the NULL one included, back to its own directory
    dirs_before = sorted(t.partition_file_counts())
    assert sorted(t.compact(min_files=1)) == dirs_before
    assert sorted(t.partition_file_counts()) == dirs_before
    assert _rows(t) == got


def test_upsert_batch_of_only_new_partitions(spark, tmp_path):
    t = LakeTable(
        spark, str(tmp_path / "t"), keys=["p", "k"], partition_col="p",
        version_col=None,
    )
    t.upsert(_frame(spark, ["a", "b"], 0))
    before = _rows(t)
    t.upsert(_frame(spark, ["c", None], 1))
    got = _rows(t)
    assert [r for r in got if r[1] in ("a", "b")] == before
    assert len(got) == 12
    assert dict(t.read().dtypes)["p"] == "string"


def test_upsert_lists_only_touched_partitions(spark, tmp_path):
    """Counter tripwire: an upsert touching 2 of 40 date partitions runs
    no Spark job as wide as the table — a full listing of the root would
    be one task per partition directory."""
    n_dates = 40
    t = LakeTable(spark, str(tmp_path / "t"), keys=["date", "k"], version_col="v")
    day = (F.col("id") % n_dates).cast("int")
    base = spark.range(n_dates * 5).select(
        F.date_add(F.lit("2026-01-01").cast("date"), day).alias("date"),
        F.col("id").alias("k"),
        F.lit(0).alias("v"),
    )
    t.overwrite(base)
    batch = base.filter(F.col("date") <= "2026-01-02").withColumn("v", F.lit(1))

    sc = spark.sparkContext
    group = "lake-scoped-upsert-tripwire"
    sc.setJobGroup(group, "upsert touching 2 of 40 partitions")
    try:
        t.upsert(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    widths = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert widths, "the upsert ran no job in its group"
    assert max(widths) < n_dates, widths

    got = t.read()
    assert got.count() == n_dates * 5
    assert got.filter(F.col("v") == 1).count() == 10


HEADERS = [
    "date", "state", "inpatient_beds", "inpatient_beds_used",
    "total_staffed_adult_icu_beds", "staffed_adult_icu_bed_occupancy",
]
ROWS = [
    ["2026-01-01", "CA", 1000, 850, 100, 92],
    ["2026-01-01", "NY", 800, 400, 50, 25],
    ["2026-01-02", "CA", 1000, 900, 100, 95],
]


def _csv(path, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(HEADERS)
        w.writerows(rows)
    return str(path)


def _files(d):
    stats = {f: os.stat(os.path.join(d, f)) for f in os.listdir(d)}
    return {f: (st.st_mtime_ns, st.st_size) for f, st in stats.items()}


def test_reingest_without_new_regions_keeps_region_files(spark, tmp_path):
    lake_dir = str(tmp_path / "lake")
    ingest_capacity_csv(spark, _csv(tmp_path / "b1.csv", ROWS), "t", lake_dir)
    regions_dir = os.path.join(lake_dir, "regions")
    before = _files(regions_dir)

    res = ingest_capacity_csv(
        spark, _csv(tmp_path / "b2.csv", ROWS[1:]), "t", lake_dir
    )
    assert res.rows_loaded == 2
    assert _files(regions_dir) == before
    bronze = spark.read.parquet(os.path.join(lake_dir, "capacity_daily"))
    assert bronze.count() == 3
    assert bronze.filter(F.col("region_id").isNull()).count() == 0

    # a new name still appends to the dimension
    ingest_capacity_csv(
        spark, _csv(tmp_path / "b3.csv", [["2026-01-02", "TX", 10, 5, "", ""]]),
        "t", lake_dir,
    )
    names = spark.read.parquet(regions_dir).select("name").collect()
    assert sorted(r.name for r in names) == ["CA", "NY", "TX"]


def test_compute_metrics_for_dates_absent_from_bronze(spark, tmp_path):
    lake_dir = str(tmp_path / "lake")
    ingest_capacity_csv(spark, _csv(tmp_path / "b1.csv", ROWS), "t", lake_dir)
    assert compute_metrics(spark, lake_dir, dates=["2026-01-02"]).rows_in == 1
    res = compute_metrics(spark, lake_dir, dates=["2030-01-01", "2030-01-02"])
    assert (res.rows_in, res.rows_loaded) == (0, 0)
    silver = spark.read.parquet(os.path.join(lake_dir, "metrics_daily"))
    assert silver.count() == 1
    assert dict(silver.dtypes)["date"] == "date"


def test_naming_a_test_file_disables_the_slow_tier(tmp_path):
    """``pytest tests/<file>.py`` must run that file's slow tests too,
    exactly like a node id does; a directory argument keeps the tier."""
    spec = importlib.util.spec_from_file_location(
        "conftest_under_test", os.path.join(os.path.dirname(__file__), "conftest.py")
    )
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    manifest = tmp_path / "slow_manifest.txt"
    manifest.write_text("test_x.py\n")
    conftest._SLOW_MANIFEST = str(manifest)
    (tmp_path / "test_x.py").write_text("")

    def marked(args):
        item = types.SimpleNamespace(nodeid="tests/test_x.py::test_a", marks=[])
        item.add_marker = item.marks.append
        config = types.SimpleNamespace(
            args=args, invocation_params=types.SimpleNamespace(dir=tmp_path)
        )
        conftest.pytest_collection_modifyitems(config, [item])
        return bool(item.marks)

    assert marked(["."])
    assert not marked(["test_x.py"])
    assert not marked(["test_x.py::test_a"])

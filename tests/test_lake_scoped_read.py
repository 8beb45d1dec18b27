"""The partition-scoped ``LakeTable.read`` and the upsert and
incremental-metrics paths built on it: partition values are matched by
the writer's own rendering (escaped names, NULL, integer-looking
strings), only the touched directories are listed and read, and an
ingest with no new region names leaves the dimension's files alone.
Also the full read's reuse of its resolved frame: no job while the
files are unchanged, a fresh frame after any write, one cache per
session. And the metrics job over a lake that has no bronze row yet."""

from __future__ import annotations

import csv
import glob
import importlib.util
import os
import shutil
import sys
import threading
import types

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    compute_metrics,
    ingest_capacity_csv,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline import lake
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


def test_upsert_matches_escaped_null_and_numeric_partitions(spark, tmp_path):
    t = LakeTable(
        spark, str(tmp_path / "t"), keys=["p", "k"], partition_col="p",
        version_col=None,
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


N_DATES = 40


def _dated_table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), keys=["date", "k"], version_col="v")
    day = (F.col("id") % N_DATES).cast("int")
    base = spark.range(N_DATES * 5).select(
        F.date_add(F.lit("2026-01-01").cast("date"), day).alias("date"),
        F.col("id").alias("k"),
        F.lit(0).alias("v"),
    )
    t.overwrite(base)
    return t, base


def _stage_widths(spark, group, fn):
    """``fn()`` and the task count of every stage it ran, from the
    jobs Spark ran in ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
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
    return out, widths


def test_upsert_lists_only_touched_partitions(spark, tmp_path):
    """Counter tripwire: an upsert touching 2 of 40 date partitions runs
    no Spark job as wide as the table — a full listing of the root would
    be one task per partition directory."""
    t, base = _dated_table(spark, tmp_path)
    batch = base.filter(F.col("date") <= "2026-01-02").withColumn("v", F.lit(1))

    _, widths = _stage_widths(spark, "lake-scoped-upsert-tripwire", lambda: t.upsert(batch))
    assert widths, "the upsert ran no job in its group"
    assert max(widths) < N_DATES, widths

    got = t.read()
    assert got.count() == N_DATES * 5
    assert got.filter(F.col("v") == 1).count() == 10


def test_unchanged_table_full_read_runs_no_job(spark, tmp_path):
    """Counter tripwire: resolving a full read of a 40-partition table
    lists it in a job of one task per partition; a second full read of
    the unchanged table reuses that frame and runs no job at all."""
    t, _ = _dated_table(spark, tmp_path)
    first, widths = _stage_widths(spark, "lake-full-read-resolve", t.read)
    assert widths and max(widths) >= N_DATES, widths

    again, widths = _stage_widths(spark, "lake-full-read-reuse", t.read)
    assert widths == []
    assert again is first
    assert again.count() == N_DATES * 5


def _delete_one_file(spark, t):
    [victim] = glob.glob(os.path.join(t.path, "p=b", "*.parquet"))
    os.remove(victim)


def _drop_one_partition(spark, t):
    shutil.rmtree(os.path.join(t.path, "p=c"))


# Every kind of writer a lake directory sees, LakeTable's own and the
# plain writers that bypass it (the regions dimension, the run log).
CHANGES = {
    "upsert_rewrites_partition": lambda spark, t: t.upsert(_frame(spark, ["a"], 1)),
    "upsert_adds_partition": lambda spark, t: t.upsert(_frame(spark, ["d"], 1)),
    "plain_overwrite": lambda spark, t: (
        _frame(spark, ["z"], 2).write.mode("overwrite").parquet(t.path)
    ),
    "plain_append": lambda spark, t: (
        _frame(spark, ["a"], 3).write.mode("append").partitionBy("p").parquet(t.path)
    ),
    "out_of_band_delete": _delete_one_file,
    "out_of_band_partition_drop": _drop_one_partition,
    "write_adds_column": lambda spark, t: t.overwrite(
        _frame(spark, ["a"], 4).withColumn("extra", F.lit(1))
    ),
}


def _collected(df):
    cols = sorted(df.columns)
    return cols, sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("change", sorted(CHANGES))
def test_full_read_after_any_write_sees_the_new_files(spark, tmp_path, change):
    """Staleness matrix: after each writer the full read returns what a
    fresh reader sees — never the reused frame, whose files may be
    gone (FileNotFoundException) or no longer the whole table."""
    t = LakeTable(
        spark, str(tmp_path / "t"), keys=["p", "k"], partition_col="p",
        version_col=None,
    )
    t.upsert(_frame(spark, ["a", "b", "c"], 0))
    before = _collected(t.read())

    CHANGES[change](spark, t)

    fresh = _collected(spark.read.option("mergeSchema", "true").parquet(t.path))
    assert _collected(t.read()) == fresh
    assert fresh != before
    if change == "write_adds_column":
        assert "extra" in t.read().columns


def test_full_read_follows_the_session_conf(spark, tmp_path):
    """Resolution reads the session conf (here partition type inference),
    so a conf change resolves again instead of reusing a frame whose
    schema the new conf would not produce."""
    t = LakeTable(
        spark, str(tmp_path / "t"), keys=["p", "k"], partition_col="p",
        version_col=None,
    )
    t.upsert(_frame(spark, ["1", "2"], 0))
    assert dict(t.read().dtypes)["p"] == "int"
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    try:
        assert dict(t.read().dtypes)["p"] == "string"
    finally:
        spark.conf.unset(key)
    assert dict(t.read().dtypes)["p"] == "int"


def test_full_read_frame_stays_in_its_session(spark, tmp_path):
    """A frame is reused only by the session that resolved it: another
    session over the same path resolves and keeps its own."""
    t = LakeTable(
        spark, str(tmp_path / "t"), keys=["p", "k"], partition_col="p",
        version_col=None,
    )
    t.upsert(_frame(spark, ["a", "b"], 0))
    mine = t.read()
    assert t.read() is mine

    other = spark.newSession()
    theirs = LakeTable(other, t.path, keys=t.keys, partition_col="p").read()
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert LakeTable(other, t.path, keys=t.keys, partition_col="p").read() is theirs
    assert t.read() is mine


def test_concurrent_full_reads_share_one_bounded_cache(spark, tmp_path, monkeypatch):
    """Threads sharing a session read three tables through a cache bound
    to two frames, so entries are replaced and evicted under contention:
    every read returns a frame over its own table's files and the cache
    never grows past its bound."""
    monkeypatch.setattr(lake, "_SNAPSHOTS_PER_SESSION", 2)
    tables = []
    for i in range(3):
        t = LakeTable(
            spark, str(tmp_path / f"t{i}"), keys=["p", "k"], partition_col="p",
            version_col=None,
        )
        t.upsert(_frame(spark, [f"v{i}"], i))
        tables.append(t)
    errors = []

    def reader(n):
        try:
            for j in range(12):
                t = tables[(n + j) % len(tables)]
                files = t.read().inputFiles()
                if not files or not all(t.path + "/" in f for f in files):
                    errors.append((t.path, files))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(n,)) for n in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(spark._lake_snapshots.frames) <= 2


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


def test_compute_metrics_after_an_all_rejected_first_batch(spark, tmp_path):
    """A fresh lake whose first batch is all rejects holds no bronze
    row, so there is no schema to read: the full metrics job reports 0
    rows, writes no silver table and logs a successful run."""
    lake_dir = str(tmp_path / "lake")
    bad = ["2026-01-01", "CA", -5, 0, "", ""]
    ing = ingest_capacity_csv(spark, _csv(tmp_path / "b1.csv", [bad]), "t", lake_dir)
    assert (ing.rows_loaded, ing.rows_rejected) == (0, 1)

    res = compute_metrics(spark, lake_dir)
    assert (res.rows_in, res.rows_loaded) == (0, 0)
    assert not os.path.exists(os.path.join(lake_dir, "metrics_daily"))
    runs = spark.read.parquet(os.path.join(lake_dir, "pipeline_runs"))
    [run] = runs.filter(
        (F.col("run_id") == res.run_id) & (F.col("status") != "running")
    ).collect()
    assert (run.status, run.rows_in, run.rows_loaded) == ("success", 0, 0)


def test_naming_a_test_file_disables_the_slow_tier(tmp_path, monkeypatch):
    """``pytest tests/<file>.py`` must run that file's slow tests too,
    exactly like a node id does; a directory argument keeps the tier.
    Checked with the default tier on, whatever tier this run uses."""
    monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
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

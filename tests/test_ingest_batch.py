"""What one weekly ingest batch costs and writes: its Spark job budget
(run-log rows and the upsert's touched set cost no job), the run-log
file format next to files an older Spark-based writer left, the
driver-side bounds on collected sets, and the row count the metrics
job reports."""

from __future__ import annotations

import csv
import datetime as dt
import importlib
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark import session
from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    api_queries,
    compute_metrics,
    ingest_capacity_csv,
    lake,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline import ingest_capacity as ingest_mod
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable
from hospital_stain_tracker_data_pipeline_spark.schemas import PIPELINE_RUNS_SCHEMA
from hospital_stain_tracker_data_pipeline_spark.session import local_rows_df
from hospital_stain_tracker_data_pipeline_spark.sources import sinks
from hospital_stain_tracker_data_pipeline_spark.sources.sinks import (
    append_run_log,
    run_log_row,
)

# the module, which the package's ``compute_metrics`` function shadows
metrics_mod = importlib.import_module(
    "hospital_stain_tracker_data_pipeline_spark.pipeline.compute_metrics"
)

HEADERS = [
    "date", "state", "inpatient_beds", "inpatient_beds_used",
    "total_staffed_adult_icu_beds", "staffed_adult_icu_bed_occupancy",
]
REGIONS = ["CA", "NY", "TX"]
START = dt.date(2026, 1, 1)
N_DATES = 40


def _csv(path, days):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(HEADERS)
        for d in days:
            for i, region in enumerate(REGIONS):
                w.writerow([START + dt.timedelta(d), region, 1000, 500 + d + i, 100, 40])
    return str(path)


def _base_lake(spark, tmp_path):
    """A lake of ``N_DATES`` date partitions, built by the pipeline."""
    lake_dir = str(tmp_path / "lake")
    ingest_capacity_csv(spark, _csv(tmp_path / "history.csv", range(N_DATES)), "h", lake_dir)
    compute_metrics(spark, lake_dir)
    return lake_dir


def _weekly_csv(tmp_path):
    """The last day restated, 7 new days, and two bad rows."""
    path = _csv(tmp_path / "week.csv", range(N_DATES - 1, N_DATES + 7))
    with open(path, "a", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["", "CA", 10, 5, "", ""])
        w.writerow([START + dt.timedelta(N_DATES), "NY", 10, 50, "", ""])
    return path, [str(START + dt.timedelta(d)) for d in range(N_DATES - 1, N_DATES + 7)]


# Spark jobs of one weekly batch (ingest + dated metrics) into the base
# lake, as measured: the CSV header scan, the one observed
# materialization, the region dimension's resolution and collect, the
# rejects CSV, the metrics job's bronze slice's schema, and per upsert
# ``UPSERT_JOB_BUDGET``. The parent design ran 35, and 18 while each
# upsert deduped and checkpointed the batch in a window of its own and
# checkpointed the merge again (6 jobs an upsert).
BATCH_JOB_BUDGET = 14
# Spark jobs of one upsert: the observed materialization of the raw
# batch, the touched slice's schema (its ``mergeSchema`` footer read),
# and the merge window's shuffle and the write that follows it.
UPSERT_JOB_BUDGET = 4


def _job_names(tracker, job_ids):
    """Each job's name, as Spark's UI gives it: the call site of its
    last stage."""
    return [
        getattr(tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)), "name", None)
        for j in job_ids
    ]


def test_weekly_batch_job_budget(spark, tmp_path, monkeypatch):
    """Counter tripwire on a weekly-style batch: the whole batch stays in
    its job budget, every run-log row is written without a Spark job,
    and each upsert stays in its own budget, runs no job to collect its
    touched partition values, and checkpoints nothing after it has
    materialized its batch."""
    lake_dir = _base_lake(spark, tmp_path)
    week, dates = _weekly_csv(tmp_path)
    sc = spark.sparkContext
    groups: list[tuple[str, str]] = []

    def grouped(kind, fn):
        def run(*args, **kwargs):
            group = f"weekly-batch-{kind}-{len(groups)}"
            groups.append((kind, group))
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)
                sc.setLocalProperty("spark.job.description", outer)

        return run

    # both jobs write their run-log rows through the one lifecycle in sinks
    monkeypatch.setattr(sinks, "append_run_log", grouped("run_log", append_run_log))
    monkeypatch.setattr(LakeTable, "upsert", grouped("upsert", LakeTable.upsert))

    def batch():
        res = ingest_capacity_csv(spark, week, "weekly", lake_dir)
        return res, compute_metrics(spark, lake_dir, dates=dates)

    res, met = grouped("batch", batch)()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {group: sorted(tracker.getJobIdsForGroup(group)) for _, group in groups}
    # the failure message: every group's jobs by name, one group a line
    names = "\n".join(
        f"{group}: {_job_names(tracker, ids)}" for group, ids in jobs.items()
    )

    assert (res.rows_in, res.rows_loaded, res.rows_rejected) == (26, 24, 2)
    assert met.rows_in == 24
    assert sum(len(j) for j in jobs.values()) <= BATCH_JOB_BUDGET, names
    run_logs = [g for kind, g in groups if kind == "run_log"]
    assert len(run_logs) == 4
    assert all(jobs[g] == [] for g in run_logs), names
    upserts = [g for kind, g in groups if kind == "upsert"]
    assert len(upserts) == 2
    for group in upserts:
        assert len(jobs[group]) <= UPSERT_JOB_BUDGET, names
        stages = [
            [
                getattr(tracker.getStageInfo(s), "name", "")
                for s in tracker.getJobInfo(j).stageIds
            ]
            for j in jobs[group]
        ]
        assert stages and not any(
            n.startswith("collect at") for job in stages for n in job
        ), names
        # the first job materializes the batch; nothing after it does
        assert not any(
            n.startswith("localCheckpoint at") for job in stages[1:] for n in job
        ), names


def _legacy_append(spark, path, row):
    """The run-log writer this package used before: a one-row Spark
    parquet write (INT96 timestamps)."""
    local_rows_df(spark, [row], PIPELINE_RUNS_SCHEMA).write.mode("append").parquet(path)


UTC = dt.timezone.utc
T0 = dt.datetime(2026, 3, 1, 8, 30, 15, 123456, tzinfo=UTC)
RUN_ROWS = [
    run_log_row("r1", "hhs", "running", T0, notes="Input file: a.csv"),
    run_log_row("r1", "hhs", "success", T0, T0 + dt.timedelta(seconds=7, microseconds=1),
                rows_in=10, rows_loaded=9, rows_rejected=1, notes="Input file: a.csv"),
    run_log_row("r2", "metrics-job", "running", T0 + dt.timedelta(minutes=1)),
    # a naive datetime is local time, as Spark's own writer takes it
    run_log_row("r2", "metrics-job", "failed", dt.datetime(2026, 3, 1, 8, 31, 59, 999999),
                dt.datetime(2026, 3, 1, 8, 32, 0, 1), notes="Error: boom"),
]


def _as_utc(value):
    return value.astimezone(UTC) if isinstance(value, dt.datetime) else value


@pytest.mark.parametrize("scheme", ["file", "viewfs"])
def test_run_log_reads_alongside_spark_written_files(spark, tmp_path, scheme):
    """A run log holding one file of the older Spark writer and rows of
    the current one reads with the declared column types, the exact
    timestamps, and the same ``runs_latest`` answer as an all-Spark log
    — through ``spark.read`` and ``LakeTable.read``, on a local path and
    on a non-file: scheme (viewfs://, mount-tabled onto tmp_path)."""
    if scheme == "viewfs":
        spark._jsc.hadoopConfiguration().set(
            "fs.viewfs.mounttable.runlogtest.link./lake", "file:" + str(tmp_path)
        )
        base = "viewfs://runlogtest/lake"
    else:
        base = str(tmp_path)
    mixed, legacy = f"{base}/mixed/pipeline_runs", f"{base}/legacy/pipeline_runs"
    _legacy_append(spark, mixed, RUN_ROWS[0])
    for row in RUN_ROWS[1:]:
        append_run_log(spark, mixed, row)
    for row in RUN_ROWS:
        _legacy_append(spark, legacy, row)

    want = sorted(tuple(_as_utc(v) for v in row) for row in RUN_ROWS)
    table = LakeTable(spark, mixed, keys=["run_id"], partition_col="run_id")
    for df in (spark.read.parquet(mixed), table.read()):
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in PIPELINE_RUNS_SCHEMA
        ]
        assert sorted(tuple(_as_utc(v) for v in r) for r in df.collect()) == want
    assert sorted(spark.read.parquet(mixed).collect()) == sorted(
        spark.read.parquet(legacy).collect()
    )
    assert (
        api_queries.runs_latest(table.read()).collect()
        == api_queries.runs_latest(spark.read.parquet(legacy)).collect()
    )


def _java_error(spark, cls, message):
    """A ``Py4JJavaError`` carrying a real Java exception of the fully
    qualified class ``cls``, as a failed call on a JVM object raises it."""
    exc = spark._jvm
    for part in cls.split("."):
        exc = getattr(exc, part)
    return Py4JJavaError("An error occurred while calling a Hadoop FileSystem", exc(message))


class _FailingFs:
    """A table's Hadoop ``FileSystem`` with the named calls failing, as
    they do on a denied directory or a full or unreachable store; every
    other call goes to the real one."""

    def __init__(self, spark, fs, fail):
        self._spark, self._fs, self._fail = spark, fs, fail

    def __getattr__(self, name):
        if name in self._fail:
            return self._fail[name]
        return getattr(self._fs, name)


def _patch_fs(monkeypatch, spark, fail):
    """Hand every filesystem-seam call a ``_FailingFs``."""
    real = session._fs

    def failing(*paths):
        seam, fs, *jpaths = real(*paths)
        return (seam, _FailingFs(spark, fs, fail(fs)), *jpaths)

    monkeypatch.setattr(session, "_fs", failing)


def _run_log_files(path):
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


@pytest.mark.parametrize("failing", ["write", "close", "rename"])
def test_failed_run_log_write_leaves_no_file(spark, tmp_path, monkeypatch, failing):
    """A run-log row whose write, close or rename fails raises and
    leaves neither its committed file nor its hidden temp file."""
    path = str(tmp_path / "pipeline_runs")
    append_run_log(spark, path, RUN_ROWS[0])
    before = _run_log_files(path)
    assert len([f for f in before if f.startswith("part-")]) == 1

    def fail(fs):
        def raising(*_):
            raise _java_error(spark, "java.io.IOException", "No space left on device")

        if failing == "rename":
            return {"rename": lambda *_: False}

        class Stream:
            def __init__(self, out):
                self.out = out

            def write(self, data):
                if failing == "write":
                    raising()
                self.out.write(data)

            def close(self):
                self.out.close()
                if failing == "close":
                    raising()

        return {"create": lambda *a: Stream(fs.create(*a))}

    _patch_fs(monkeypatch, spark, fail)
    with pytest.raises((Py4JJavaError, OSError)):
        append_run_log(spark, path, RUN_ROWS[1])
    assert _run_log_files(path) == before


def test_unlistable_table_raises_and_keeps_its_partitions(spark, tmp_path, monkeypatch):
    """Only a missing root reads as an empty table. When the root cannot
    be listed for another reason (here a denied permission), ``exists``,
    a scoped ``read`` and ``upsert`` raise, and the upsert leaves every
    partition as it was: taking the table for an empty one would
    overwrite each touched partition with the batch's rows alone."""
    t = LakeTable(spark, str(tmp_path / "t"), keys=["date", "k"], version_col="v")
    frame = spark.range(6).select(
        F.date_add(F.lit("2026-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("date"),
        F.col("id").alias("k"),
        F.lit(0).alias("v"),
    )
    t.overwrite(frame)
    before = _tree(t.path)

    def denied(fs):
        def list_status(*_):
            raise _java_error(spark, "java.nio.file.AccessDeniedException", t.path)

        return {"listStatus": list_status}

    _patch_fs(monkeypatch, spark, denied)
    batch = frame.filter(F.col("k") == 0).withColumn("v", F.lit(1))
    for op in (t.exists, lambda: t.read(["2026-01-01"]), lambda: t.upsert(batch)):
        with pytest.raises(Py4JJavaError, match="AccessDeniedException"):
            op()
    assert _tree(t.path) == before

    monkeypatch.undo()
    missing = LakeTable(spark, str(tmp_path / "missing"), keys=["date", "k"], version_col="v")
    assert not missing.exists() and missing.read(["2026-01-01"]) is None
    missing.upsert(batch)
    assert missing.read().count() == 1


def _tree(path):
    """``{relative file path: (mtime_ns, size)}`` of every file under path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.relpath(os.path.join(root, f), path)] = (st.st_mtime_ns, st.st_size)
    return out


def test_touched_partition_bound_raises_before_any_write(spark, tmp_path, monkeypatch):
    t = LakeTable(spark, str(tmp_path / "t"), keys=["date", "k"], version_col="v")
    frame = spark.range(6).select(
        F.date_add(F.lit("2026-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("date"),
        F.col("id").alias("k"),
        F.lit(0).alias("v"),
    )
    t.overwrite(frame)
    before = _tree(t.path)
    monkeypatch.setattr(lake, "_MAX_TOUCHED_PARTITIONS", 2)
    with pytest.raises(ValueError, match="driver-side bound of 2"):
        t.upsert(frame.withColumn("v", F.lit(1)))
    assert _tree(t.path) == before
    # at the bound the upsert goes through
    t.upsert(frame.filter(F.col("date") < "2026-01-03").withColumn("v", F.lit(1)))
    assert t.read().filter(F.col("v") == 1).count() == 4


def test_region_name_bound_raises_before_any_write(spark, tmp_path, monkeypatch):
    lake_dir = str(tmp_path / "lake")
    monkeypatch.setattr(ingest_mod, "_MAX_REGION_NAMES", 2)
    with pytest.raises(ValueError, match="driver-side bound of 2"):
        ingest_capacity_csv(spark, _csv(tmp_path / "b.csv", range(2)), "b", lake_dir)
    # only the run log: the running row and the failed one
    assert os.listdir(lake_dir) == ["pipeline_runs"]
    runs = spark.read.parquet(os.path.join(lake_dir, "pipeline_runs"))
    assert sorted(r.status for r in runs.collect()) == ["failed", "running"]


def test_failed_metrics_run_logs_its_failure(spark, tmp_path, monkeypatch):
    """A metrics run whose body raises leaves its running and failed
    rows in the run log, the failed one noting the error, and the
    exception reaches the caller."""
    lake_dir = str(tmp_path / "lake")
    ingest_capacity_csv(spark, _csv(tmp_path / "b.csv", range(2)), "b", lake_dir)

    def failing(capacity, run_id=None):
        raise RuntimeError("derivation failed")

    monkeypatch.setattr(metrics_mod, "metrics_from_capacity", failing)
    with pytest.raises(RuntimeError, match="derivation failed"):
        compute_metrics(spark, lake_dir)
    runs = spark.read.parquet(os.path.join(lake_dir, "pipeline_runs"))
    rows = runs.filter(F.col("source") == "metrics-job").collect()
    assert len({r.run_id for r in rows}) == 1
    assert sorted(r.status for r in rows) == ["failed", "running"]
    [failed] = [r for r in rows if r.status == "failed"]
    assert failed.notes == "Error: derivation failed"
    assert not os.path.exists(os.path.join(lake_dir, "metrics_daily"))


def test_metrics_rows_in_is_the_silver_row_count(spark, tmp_path):
    """The metrics job reports the rows it upserted, observed during
    the upsert: all of silver after a full run, the rows on the asked
    dates after a dated run."""
    lake_dir = _base_lake(spark, tmp_path)
    silver_path = os.path.join(lake_dir, "metrics_daily")
    assert compute_metrics(spark, lake_dir).rows_in == N_DATES * len(REGIONS)
    assert spark.read.parquet(silver_path).count() == N_DATES * len(REGIONS)

    week, dates = _weekly_csv(tmp_path)
    ingest_capacity_csv(spark, week, "weekly", lake_dir)
    dated = compute_metrics(spark, lake_dir, dates=dates)
    silver = spark.read.parquet(silver_path)
    assert dated.rows_in == silver.filter(F.col("date").isin(dates)).count() == 24
    full = compute_metrics(spark, lake_dir)
    assert full.rows_in == spark.read.parquet(silver_path).count() == (N_DATES + 7) * len(REGIONS)


def _py4j_calls(spark, monkeypatch, fn, replies=None) -> int:
    """Py4J calls the driver makes while ``fn()`` runs; each call's
    reply is appended to ``replies`` when given."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(command, *args, **kwargs):
        # memory commands release garbage-collected proxies, whenever
        # Python's collector runs; they are not calls the code makes
        if not command.startswith("m\n"):
            calls.append(1)
        reply = send(command, *args, **kwargs)
        if replies is not None:
            replies.append(reply)
        return reply

    monkeypatch.setattr(client, "send_command", counted)
    try:
        fn()
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return len(calls)


def test_exists_and_scoped_read_make_the_same_py4j_calls_at_any_width(
    spark, tmp_path, monkeypatch
):
    """``exists()`` and a one-partition ``read`` make as many Py4J calls
    on a 40-partition table as on a 4-partition one: the root's names
    are listed and joined in the JVM, never fetched one call per
    partition directory."""
    costs = []
    for width in (4, N_DATES):
        t = LakeTable(spark, str(tmp_path / f"w{width}"), keys=["date", "k"], version_col="v")
        t.overwrite(
            spark.range(width).select(
                F.date_add(F.lit("2026-01-01").cast("date"), F.col("id").cast("int")).alias("date"),
                F.col("id").alias("k"),
                F.lit(0).alias("v"),
            )
        )
        assert t.exists() and t.read(["2026-01-02"]).count() == 1
        costs.append((
            _py4j_calls(spark, monkeypatch, t.exists),
            _py4j_calls(spark, monkeypatch, lambda: t.read(["2026-01-02"])),
        ))
    assert costs[0] == costs[1], costs


def test_fs_isdir_makes_three_py4j_calls(spark, tmp_path, monkeypatch):
    """A seam call resolves its context's JVM handles once, not per
    call: ``fs_isdir`` is a ``Path``, its ``FileSystem`` and the check."""
    path = str(tmp_path)
    assert session.fs_isdir(path)
    assert _py4j_calls(spark, monkeypatch, lambda: session.fs_isdir(path)) <= 3


def test_fs_list_names_sends_only_names(spark, tmp_path, monkeypatch):
    """``fs_list_names`` over 200 entries returns exactly their names,
    and no Py4J reply during the call carries the directory's path: the
    names are taken and joined in the JVM, so a wide directory's reply
    stays small."""
    dirs = {f"date=2026-01-{i:03d}" for i in range(100)}
    files = {f"part-{i:05d}.parquet" for i in range(100)}
    for name in dirs:
        (tmp_path / name).mkdir()
    for name in files:
        (tmp_path / name).touch()
    replies = []
    listed = []
    _py4j_calls(
        spark, monkeypatch, lambda: listed.extend(session.fs_list_names(str(tmp_path))), replies
    )
    assert sorted(listed) == sorted(dirs | files)
    assert replies and not any(str(tmp_path) in r for r in replies)


def test_region_lookup_makes_the_same_py4j_calls_at_any_width(spark, monkeypatch):
    """The ingest's region lookup map is built with as many Py4J calls
    for 1 000 region names as for the reference's 56, and maps every
    name to its id; an empty dimension maps nothing."""
    costs = []
    for width in (56, 1000):
        ids = {f"region-{i}": f"id-{i}" for i in range(width)}
        costs.append(_py4j_calls(spark, monkeypatch, lambda: ingest_mod._region_lookup(ids)))
        lookup = ingest_mod._region_lookup(ids)
        names = spark.createDataFrame(
            [(n,) for n in [*ids, "unknown"]], "region string"
        ).select("region", lookup[F.col("region")].alias("region_id"))
        assert dict(names.collect()) == {**ids, "unknown": None}
    assert costs[0] == costs[1], costs
    empty = spark.range(1).select(ingest_mod._region_lookup({})[F.lit("CA")].alias("id"))
    assert empty.first().id is None

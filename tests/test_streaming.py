"""Streaming ingest properties (SURVEY.md §2.9): once-per-file via
checkpoint, replay-safety via the natural-key merge, per-batch run-log
observability, and windowed-agg equivalence to the batch rollup."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)
from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
    stream_ingest_events,
    stream_windowed_event_counts,
)


@pytest.fixture()
def staged(sf_dir):
    work = tempfile.mkdtemp(prefix="stream_test_")
    input_dir = os.path.join(work, "incoming")
    os.makedirs(input_dir)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(input_dir, "events.parquet"),
    )
    yield work, input_dir
    shutil.rmtree(work, ignore_errors=True)


def test_stream_ingest_checkpoint_makes_rerun_noop(spark, staged):
    work, input_dir = staged
    res1 = stream_ingest_events(spark, input_dir, work)
    assert res1.batches >= 1 and res1.rows_loaded > 0
    n1 = spark.read.parquet(res1.table_path).count()

    # same checkpoint, no new files → zero new batches (once-per-file)
    res2 = stream_ingest_events(spark, input_dir, work)
    assert res2.batches == 0
    assert spark.read.parquet(res1.table_path).count() == n1


def test_stream_replay_with_fresh_checkpoint_is_idempotent(spark, staged):
    work, input_dir = staged
    res1 = stream_ingest_events(spark, input_dir, work)
    n1 = spark.read.parquet(res1.table_path).count()

    # fresh checkpoint = redelivery of the same file (the reference's
    # S3 re-put); the natural-key merge absorbs it (op-stream-replay)
    res2 = stream_ingest_events(
        spark, input_dir, work,
        checkpoint_dir=os.path.join(work, "_checkpoints", "replay"),
    )
    assert res2.batches >= 1
    assert spark.read.parquet(res1.table_path).count() == n1


def test_stream_ingest_urldecodes_source_file(spark, sf_dir):
    """op-fn-urldecode (aws/lambda_handler.py:27-28): the source-file
    lineage column must carry the DECODED path — a file name with a
    space arrives from input_file_name() percent-encoded (%20), exactly
    like the reference's URL-encoded S3 object key."""
    work = tempfile.mkdtemp(prefix="stream_urldec_")
    try:
        input_dir = os.path.join(work, "incoming")
        os.makedirs(input_dir)
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(input_dir, "events 2026 copy.parquet"),
        )
        res = stream_ingest_events(spark, input_dir, work)
        assert res.rows_loaded > 0
        files = [
            r.source_file
            for r in spark.read.parquet(res.table_path)
            .select("source_file").distinct().collect()
        ]
        assert files and all(f.endswith("events 2026 copy.parquet") for f in files)
        assert all("%20" not in f for f in files)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stream_run_log_appends_per_batch(spark, staged):
    work, input_dir = staged
    spark.catalog.clearCache()
    res = stream_ingest_events(spark, input_dir, work)
    # each micro-batch's validation cache is released before it returns
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    runs = spark.read.parquet(os.path.join(work, "pipeline_runs"))
    assert runs.filter(F.col("status") == "success").count() >= res.batches
    [r] = runs.orderBy(F.desc("started_at")).limit(1).collect()
    assert r.rows_loaded == res.rows_loaded


def test_windowed_counts_match_batch_rollup(spark, staged, sf_dir):
    _, input_dir = staged
    streamed = stream_windowed_event_counts(spark, input_dir)
    batch = (
        load_fixture_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("window_day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    s = {(r.window_day, r.event_type): r.n for r in streamed.collect()}
    b = {(r.window_day, r.event_type): r.n for r in batch.collect()}
    assert s == b


def test_stream_sessionize_matches_batch(spark, staged, sf_dir):
    """availableNow = one batch, so the stateful streaming sessionizer
    must produce exactly the batch sessionization result."""
    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
        stream_sessionize_events,
    )
    from pyspark.sql import Window

    _, input_dir = staged
    streamed = stream_sessionize_events(spark, input_dir, gap_s=1800)
    s = {
        (r.user_id, r.session_id): (r.n_events, r.duration_s)
        for r in streamed.collect()
    }

    ev = load_fixture_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    batch = (
        ev.select(
            "user_id",
            F.col("ts").cast("long").alias("tsec"),
            (
                F.sum(new_sess).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - 1
            ).alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("tsec") - F.min("tsec")).alias("duration_s"),
        )
    )
    b = {
        (r.user_id, r.session_id): (r.n_events, r.duration_s)
        for r in batch.collect()
    }
    assert s == b


def test_stream_dedup_collapses_redelivery(spark, sf_dir):
    """dropDuplicatesWithinWatermark must collapse a full redelivery of
    the fixture (staged twice) back to exactly the distinct event set."""
    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
        stream_dedup_events,
    )

    work = tempfile.mkdtemp(prefix="test_stream_dedup_")
    input_dir = os.path.join(work, "incoming")
    os.makedirs(input_dir)
    for copy in ("a", "b"):
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(input_dir, f"events_{copy}.parquet"),
        )
    out = stream_dedup_events(spark, input_dir)
    n_src = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert out.count() == n_src
    assert out.select("event_id").distinct().count() == n_src


@pytest.fixture()
def staged_multibatch(sf_dir):
    """Events split into three TIME-ORDERED parquet files with strictly
    increasing modification times, so maxFilesPerTrigger=1 forces three
    micro-batches arriving in event-time order — state genuinely
    crosses batch boundaries."""
    import duckdb

    work = tempfile.mkdtemp(prefix="stream_multibatch_")
    input_dir = os.path.join(work, "incoming")
    os.makedirs(input_dir)
    src = os.path.join(sf_dir, "events.parquet")
    n = duckdb.sql(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    third = n // 3 + 1
    for i in range(3):
        path = os.path.join(input_dir, f"part{i}.parquet")
        duckdb.sql(
            f"""
            COPY (
              SELECT * FROM (
                SELECT *, row_number() OVER (ORDER BY ts NULLS FIRST, event_id) AS _rn
                FROM '{src}'
              ) WHERE _rn > {i * third} AND _rn <= {(i + 1) * third}
            ) TO '{path}' (FORMAT PARQUET)
            """
        )
        os.utime(path, (1700000000 + i * 1000, 1700000000 + i * 1000))
    yield work, input_dir
    shutil.rmtree(work, ignore_errors=True)


def test_windowed_counts_multibatch_matches_batch(spark, staged_multibatch, sf_dir):
    """Three micro-batches instead of one: the watermarked windowed agg
    must still converge to the batch rollup (complete mode re-emits the
    full state after the last batch)."""
    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
        stream_windowed_event_counts,
    )

    _, input_dir = staged_multibatch
    streamed = stream_windowed_event_counts(
        spark, input_dir, max_files_per_trigger=1
    )
    got = {
        (r.window_day, r.event_type): (r.n, r.sum_value)
        for r in streamed.collect()
    }
    ev = load_fixture_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    batch = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("window_day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    want = {
        (r.window_day, r.event_type): (r.n, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_sessionize_multibatch_state_crosses_batches(
    spark, staged_multibatch, sf_dir
):
    """The applyInPandasWithState sessionizer with three in-order
    micro-batches: per-user state must carry across batches. Open-tail
    sessions re-emit when extended — dedup by natural key keeping the
    final (max n_events) emission, then the result must equal the
    batch sessionization exactly."""
    from pyspark.sql import Window

    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
        stream_sessionize_events,
    )

    _, input_dir = staged_multibatch
    streamed = stream_sessionize_events(
        spark, input_dir, gap_s=1800, max_files_per_trigger=1
    )
    w = Window.partitionBy("user_id", "session_id").orderBy(
        F.desc("n_events"), F.desc("duration_s")
    )
    final = (
        streamed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    s = {
        (r.user_id, r.session_id): (r.n_events, r.duration_s)
        for r in final.collect()
    }

    ev = load_fixture_table(spark, sf_dir, "events")
    bw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(bw)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    batch = (
        ev.select(
            "user_id",
            F.col("ts").cast("long").alias("tsec"),
            (
                F.sum(new_sess).over(
                    bw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - 1
            ).alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("tsec") - F.min("tsec")).alias("duration_s"),
        )
    )
    b = {
        (r.user_id, r.session_id): (r.n_events, r.duration_s)
        for r in batch.collect()
    }
    assert s == b and len(s) > 0


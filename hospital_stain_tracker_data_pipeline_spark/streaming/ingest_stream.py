"""Streaming ingest: file source → validate → idempotent upsert via
foreachBatch (SURVEY.md §2.9 op-stream-ingest / op-stream-replay /
op-stream-obs).

The reference's "streaming" is an S3-Put-triggered Lambda batch
(aws/lambda_handler.py:7-47). The Spark-native equivalent: a file
source with ``Trigger.AvailableNow`` — each new file becomes a
micro-batch, the checkpoint replaces S3 event delivery as the
exactly-once bookkeeping, and the foreachBatch natural-key merge
preserves the replay-safety the reference gets from ON CONFLICT
(ingest_capacity.py:178-193). Per-batch counters append to the run log
like pipeline_runs (op-stream-obs).

At scale: maxFilesPerTrigger bounds micro-batch size; the upsert only
rewrites partitions the batch touches (see pipeline.lake.LakeTable).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.validate import (
    REJECT_REASON,
    reject_reason_column,
    split_on_reason,
)
from ..pipeline.lake import lake_table
from ..session import _materialize_observed, local_rows_df
from ..sources.sinks import append_run_log, new_run_id, run_log_row, utcnow
from ..sources.tables import normalize_event_ts

# Fallback declaration only — used when the parquet footer can't be
# sniffed (e.g. the source dir is empty at start time). ts matches the
# current fixture encoding (timestamp[us] → TIMESTAMP_NTZ); when files
# ARE present the schema is read from the footer instead, so a
# nano-encoded producer works too (see _events_stream).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _events_stream(
    spark: SparkSession,
    source_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Build the events file-source stream with TYPE-DRIVEN ``ts``
    handling: a streaming file source requires a declared schema, so
    sniff the parquet footer via a batch-read of ``source_path`` (footer
    metadata only — no data scan is triggered) and declare exactly what
    the files carry, then normalize ``ts`` to canonical TimestampType
    with the same helper the batch loader uses. This makes every
    streaming operator agnostic to whether the producer wrote
    micro-, nano-, NTZ- or UTC-encoded event time — assuming one fixed
    physical encoding is how silent 1000× time-scale bugs happen."""
    # lets a TIMESTAMP(NANOS) producer be read at all (as long);
    # harmless for micro encodings
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ→TIMESTAMP normalization is session-timezone-sensitive; pin
    # UTC for caller-provided sessions (same rationale as the batch
    # loader, sources.tables.load_fixture_table)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the PUBLIC base class — covers both the classic (captured) and
    # Spark Connect exception hierarchies
    from pyspark.errors import AnalysisException

    try:
        schema = spark.read.parquet(source_path).schema
    except AnalysisException:
        # only the cannot-infer case (empty/not-yet-populated dir) gets
        # the declared fallback — a nano-encoded producer that starts
        # delivering later will then conflict with the declared NTZ and
        # fail loudly rather than misread. Auth/permission/IO errors
        # are NOT caught: failing at construction beats streaming with
        # a guessed schema.
        schema = EVENTS_STREAM_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(source_path))


def event_validation_rules():
    return [
        (F.col("event_id").isNull(), "event_id is required"),
        (F.col("event_type").isNull(), "event_type is required"),
        (F.col("value").isNull(), "value is required"),
        (F.col("value") < 0, "value cannot be negative"),
    ]


@dataclass
class StreamIngestResult:
    table_path: str
    batches: int = 0
    rows_loaded: int = 0
    rows_rejected: int = 0
    run_ids: list[str] = field(default_factory=list)


def stream_ingest_events(
    spark: SparkSession,
    source_path: str,
    lake_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamIngestResult:
    """Run one availableNow pass over ``source_path`` (a directory or
    glob of parquet files), micro-batch-upserting into
    ``<lake_dir>/events_clean``. Re-running with the same checkpoint is
    a no-op (exactly-once); re-running without one is still idempotent
    thanks to the natural-key merge (op-stream-replay)."""
    table = lake_table(spark, lake_dir, "events_clean")
    runs_path = lake_table(spark, lake_dir, "pipeline_runs").path
    checkpoint_dir = checkpoint_dir or os.path.join(lake_dir, "_checkpoints", "events")
    result = StreamIngestResult(table_path=table.path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = new_run_id()
        started = utcnow()
        reason = F.col(REJECT_REASON)
        # one validation pass fills the cache the upsert reads and
        # yields both counts on the way (the batch ingest's pattern)
        checked, seen = _materialize_observed(
            batch_df.withColumn(
                REJECT_REASON, reject_reason_column(event_validation_rules())
            ),
            cache=True,
            accepted=F.count_if(reason.isNull()),
            rejected=F.count_if(reason.isNotNull()),
        )
        try:
            accepted, _ = split_on_reason(checked)
            table.upsert(accepted.withColumn("event_date", F.to_date("ts")))
        finally:
            checked.unpersist()
        n_acc, n_rej = seen["accepted"], seen["rejected"]
        append_run_log(
            spark,
            runs_path,
            run_log_row(
                run_id,
                f"stream-batch-{batch_id}",
                "success",
                started,
                utcnow(),
                rows_in=n_acc + n_rej,
                rows_loaded=n_acc,
                rows_rejected=n_rej,
            ),
        )
        result.batches += 1
        result.rows_loaded += n_acc
        result.rows_rejected += n_rej
        result.run_ids.append(run_id)

    # op-fn-urldecode (aws/lambda_handler.py:27-28): the reference
    # unquote_plus-decodes the URL-encoded S3 object key from the event
    # before reading. Spark's file source delivers the same thing as a
    # percent-encoded URI via input_file_name(); decode it into a
    # per-row lineage column (try_ variant: a malformed escape must
    # not fail the batch, matching the try_to_date reject philosophy).
    stream = _events_stream(spark, source_path, max_files_per_trigger).withColumn(
        "source_file", F.try_url_decode(F.input_file_name())
    )

    query = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
        .start()
    )
    query.awaitTermination()
    return result


def _drain_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """Materialize a memory-sink table and drop its temp view: the
    memory sink buffers results on the driver for the LIFETIME of the
    view, so a long-lived session calling these helpers repeatedly
    would accumulate every past result set. localCheckpoint pins the
    data to executor blocks instead and the view is released."""
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def stream_windowed_event_counts(
    spark: SparkSession,
    source_path: str,
    watermark: str = "1 hour",
    window_len: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark (beyond
    the reference surface — it has no event-time windowing): per
    (1-day window, event_type) row counts and an exact decimal sum.

    The watermark bounds streaming state: windows older than
    max(event_ts) - watermark are finalized and evicted, which is what
    keeps an unbounded stream's agg state finite on a real cluster. Run
    here with availableNow + an in-memory sink in *complete* mode, so
    one call processes the fixture like a batch and returns every
    window — making the result oracle-comparable."""
    import uuid

    stream = _events_stream(spark, source_path, max_files_per_trigger).withWatermark(
        "ts", watermark
    )
    agg = (
        stream.groupBy(F.window("ts", window_len).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    name = f"windowed_counts_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return _drain_memory_sink(spark, name).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("window_day"),
        "event_type",
        "n",
        "sum_value",
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_s", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_tsec", T.LongType()),
        T.StructField("next_session_id", T.LongType()),
        T.StructField("sess_start", T.LongType()),
        T.StructField("sess_n", T.LongType()),
    ]
)


def stream_sessionize_events(
    spark: SparkSession,
    source_path: str,
    gap_s: int = 1800,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the extension point for operators Spark's built-in streaming aggs
    can't express): per-user sessionization with a gap timeout, state =
    (last event time, next session id) per user — O(1) state per key
    regardless of stream length, the property that matters on an
    unbounded 100 TB/day stream.

    Run with availableNow + memory sink; sessions are emitted per batch
    (the fixture arrives as one batch, so every session including the
    open tail is emitted — making the output comparable to the batch
    sessionizer in tests)."""
    import uuid

    import pandas as pd

    def sessionize(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            last_tsec, next_sid, sess_start, sess_n = state.get
            cur = [next_sid - 1, sess_start, last_tsec, sess_n]
        else:
            last_tsec, next_sid, cur = None, 0, None
        rows = []
        for pdf in pdfs:
            # a null event time has no position in a gap sessionization;
            # NaT would otherwise cast to INT64_MIN and fabricate a
            # garbage session (the SQL oracle drops null ts the same way)
            pdf = pdf.dropna(subset=["ts"]).sort_values(["ts", "event_id"])
            tsecs = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 10**9
            )
            for t in (int(x) for x in tsecs):
                if last_tsec is None or t - last_tsec > gap_s:
                    if cur is not None:
                        rows.append(cur)
                    cur = [next_sid, t, t, 1]
                    next_sid += 1
                else:
                    cur[2] = t
                    cur[3] += 1
                last_tsec = t
        if cur is not None:
            # emit the open tail too; a later batch extending it will
            # re-emit the same (user, session_id) — dedup downstream by
            # natural key, last-writer-wins (same as the ingest merge)
            rows.append(cur)
            state.update((last_tsec, next_sid, cur[1], cur[3]))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(rows),
                "session_id": [r[0] for r in rows],
                "n_events": [r[3] for r in rows],
                "duration_s": [r[2] - r[1] for r in rows],
            }
        )

    stream = _events_stream(spark, source_path, max_files_per_trigger)
    from pyspark.sql.streaming.state import GroupStateTimeout

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _drain_memory_sink(spark, name)


def stream_dedup_events(
    spark: SparkSession,
    source_path: str,
    watermark: str = "30 days",
) -> DataFrame:
    """Streaming exactly-once deduplication:
    ``dropDuplicatesWithinWatermark`` on the event natural key, state
    bounded by the event-time watermark (beyond the reference surface —
    its replay safety comes from the sink-side upsert, §2.9
    op-stream-replay; this dedups IN the stream, before any sink).

    Scale: per-key state lives only until the watermark passes the
    event's timestamp, so state size is keys-per-watermark-window, not
    keys-ever-seen — the difference between a bounded and an unbounded
    state store on an infinite stream. The run here uses availableNow +
    a generous watermark so a redelivered fixture dedups exactly,
    making the result oracle-comparable (each event once, first
    delivery wins; deliveries are byte-identical so 'first' is
    value-deterministic)."""
    import uuid

    deduped = (
        _events_stream(spark, source_path)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"dedup_events_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return _drain_memory_sink(spark, name).select("event_id", "user_id", "event_type", "value")


def _read_batch_sink(spark: SparkSession, out_dir: str, empty):
    """Read back a per-batch-partitioned parquet sink, tolerating the
    zero-output case: a run whose every micro-batch wrote no rows (an
    empty source) leaves no part files, and a bare
    ``spark.read.parquet`` would fail with UNABLE_TO_INFER_SCHEMA.
    ``empty`` builds the correctly-typed empty frame."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(out_dir).drop("_batch_id")
    except AnalysisException:
        return empty().limit(0)


def _run_batch_sink_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    batch_fn,
    out_dir: str,
    empty,
) -> DataFrame:
    """Effectively-exactly-once sink runner: per micro-batch,
    ``batch_fn(batch_df)`` produces the rows to land, which are
    partitioned by micro-batch id and written with dynamic partition
    overwrite — a replayed batch rewrites its own partition, never
    appends. Checkpoint lives under ``out_dir/_checkpoint``
    (underscore-hidden from the read-back), one availableNow pass,
    then the batch view of the sink via ``_read_batch_sink``."""

    def _write(batch_df: DataFrame, epoch: int) -> None:
        (
            batch_fn(batch_df)
            .withColumn("_batch_id", F.lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option(
            "checkpointLocation", os.path.join(out_dir, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _read_batch_sink(spark, out_dir, empty)


def stream_ann_ingest(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    out_dir: str,
    schema: str = "vec_id long, embedding array<float>",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental ANN serving-index maintenance as a STREAM (round
    12): embedding batches land continuously as parquet files in
    ``source_dir``; each new FILE is encoded exactly once under the
    index's frozen fits and appended to the persistent artifact
    (``operators.pq.append_ann_index`` per micro-batch — O(delta),
    the embedding lake is never re-read), so the serving index stays
    fresh between nightly refits. Sink rows are the per-batch DRIFT
    LEDGER — ``(appended, occupancy_shift_tv, err_ratio,
    refit_recommended)`` — the artifact an operator's cron reads to
    schedule the full ``build_ann_index`` when frozen-fit quality
    decays.

    Exactly-once nuance: the shared sink runner's dynamic-overwrite
    makes the LEDGER replay-safe, but ``append_ann_index`` MUTATES the
    artifact, which foreachBatch's at-least-once delivery would
    double-append on a replay. The batch is therefore anti-joined
    against the ids already in ``codes`` first — a replayed
    micro-batch becomes an explicit appended=0 ledger row instead of
    a silent duplicate. This rides the lifecycle's existing
    id-immutability contract (updating a vector means remove →
    compact → re-append, never append-over); genuinely new ids are
    unaffected. The anti-join reads the codes table's ID COLUMN only
    (parquet column pruning) — not the byte codes."""
    from ..operators.dedup import _index_layout
    from ..operators.pq import _ann_meta, append_ann_index

    id_col = _ann_meta(index_path, "stream appends into")["id_col"]
    codes, _ = _index_layout(index_path)

    ledger_schema = (
        "appended long, occupancy_shift_tv double, err_ratio double, "
        "refit_recommended boolean"
    )
    vecs = spark.readStream.schema(schema).parquet(source_dir)

    def _append(batch_df: DataFrame) -> DataFrame:
        existing = spark.read.parquet(codes).select(id_col)
        # dropDuplicates first: a producer retry can land the SAME ids
        # twice within one micro-batch (two files, one trigger) — the
        # anti-join alone only guards against ids already in codes
        fresh = (
            batch_df.dropDuplicates([id_col])
            .join(existing, id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        if fresh.count() == 0:
            row = (0, None, None, False)
        else:
            rep = append_ann_index(spark, index_path, fresh, vec_col=vec_col)
            row = (
                int(rep.get("appended", 0)),
                rep.get("occupancy_shift_tv"),
                rep.get("err_ratio"),
                bool(rep.get("refit_recommended", False)),
            )
        # one driver-local row → ONE slice (not defaultParallelism
        # pickled slices, i.e. 32 Python-worker tasks for one row)
        return local_rows_df(spark, [row], ledger_schema)

    return _run_batch_sink_stream(
        spark,
        vecs,
        _append,
        out_dir,
        empty=lambda: spark.createDataFrame([], ledger_schema),
    )

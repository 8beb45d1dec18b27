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
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.validate import split_valid_invalid
from ..pipeline.lake import LakeTable
from ..sources.sinks import append_run_log, new_run_id, run_log_row, utcnow
from ..sources.tables import normalize_event_ts

if TYPE_CHECKING:
    from ..operators.fingerprint import FingerprintFamily

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
    table_path = os.path.join(lake_dir, "events_clean")
    runs_path = os.path.join(lake_dir, "pipeline_runs")
    checkpoint_dir = checkpoint_dir or os.path.join(lake_dir, "_checkpoints", "events")
    result = StreamIngestResult(table_path=table_path)

    table = LakeTable(
        spark,
        table_path,
        keys=["event_id"],
        partition_col="event_date",
        version_col="ts",
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = new_run_id()
        started = utcnow()
        accepted, rejected = split_valid_invalid(batch_df, event_validation_rules())
        accepted = accepted.withColumn("event_date", F.to_date("ts"))
        n_rej = rejected.count()
        table.upsert(accepted)
        n_acc = accepted.count()
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


def stream_stream_attribution_join(
    spark: SparkSession,
    source_path: str,
    window_s: int = 86400,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join (§2.9 extension; the
    streaming analog of the batch ``range_join_binned``): purchases ⋈
    views by the same user within the preceding ``window_s`` seconds.

    Both sides carry event-time watermarks AND the join condition is
    time-interval-bounded — the two requirements Spark imposes so it
    can evict buffered rows: a view older than
    purchase-watermark − window can never match again and is dropped
    from state, which is what keeps an unbounded two-stream join's
    memory finite at production scale. Run with availableNow + a memory
    sink in append mode; returns the joined (purchase_id, view_id)
    pairs for the caller to aggregate (aggregation after the join is
    presentation — keeping the streaming stage join-only keeps its
    output append-mode incremental)."""
    import uuid

    def _side(event_type: str, id_alias: str, user_alias: str, ts_alias: str):
        return (
            _events_stream(spark, source_path)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, watermark)
        )

    purchases = _side("purchase", "purchase_id", "p_user", "p_ts")
    views = _side("view", "view_id", "v_user", "v_ts")
    joined = purchases.join(
        views,
        F.expr(
            f"p_user = v_user AND v_ts >= p_ts - INTERVAL {window_s} SECONDS "
            f"AND v_ts <= p_ts"
        ),
        "inner",
    ).select("purchase_id", "view_id")

    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    query = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return _drain_memory_sink(spark, name)


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


def stream_static_enrich(
    spark: SparkSession,
    source_path: str,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_name", "c_nationkey"),
) -> DataFrame:
    """Stream-static enrichment join (§2.9 extension; the streaming
    analog of the batch broadcast dim join, reference shape
    backend/app/main.py:155-170's region-name enrichment): each
    micro-batch of the events stream joins a STATIC dimension frame.

    Scale: Spark re-plans the static side per micro-batch, so a small
    dim becomes a broadcast hash join inside every batch — no shuffle
    of the stream, no state store at all (unlike stream-stream joins,
    a stream-static inner join needs no watermark: the static side
    never grows, so nothing is buffered). The dim is projected to the
    join key + needed columns BEFORE the join, keeping the broadcast
    payload minimal. Left-semi/anti against a static blocklist is the
    same shape — the streaming form of `set_membership_ops`."""
    import uuid

    slim = dim.select(F.col(dim_key).alias(stream_key), *dim_cols)
    enriched = (
        _events_stream(spark, source_path)
        .join(F.broadcast(slim), stream_key, "inner")
        .select("event_id", stream_key, "event_type", "value", *dim_cols)
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _drain_memory_sink(spark, name)


def stream_score_perplexity(
    spark: SparkSession,
    source_path: str,
    lm,
    out_dir: str,
    schema: str = "doc_id long, text string",
) -> DataFrame:
    """Score-on-ingest: LM-perplexity-score a STREAM of documents with
    the batch operator reused verbatim inside ``foreachBatch``
    (§2.9 extension — a real curation pipeline scores documents as
    they land, not in a nightly batch).

    Why foreachBatch instead of a streaming aggregation: the per-doc
    aggregate is BATCH-LOCAL by construction — a document arrives as
    one row, and ``score_perplexity``'s explode keeps all of its grams
    inside that same micro-batch, so no cross-batch state (and thus no
    watermark, no state store) is needed; ``foreachBatch`` lets the
    exact batch plan (JVM gram construction + two broadcast model
    joins + per-doc agg) run per micro-batch with zero semantic drift
    from the batch path — pinned by the stream-equals-batch test.

    The scored rows land in ``out_dir`` as parquet partitioned by
    micro-batch id, and each batch OVERWRITES its own ``_batch_id``
    partition (dynamic partition overwrite). ``foreachBatch`` is
    at-least-once — a crash between the write and the checkpoint
    commit replays the batch — so the deterministic per-batch
    location is what upgrades the sink to effectively-exactly-once:
    a replay rewrites partition ``_batch_id=N`` in place instead of
    appending a duplicate copy of its rows. Returns a batch DataFrame
    over the sink (without the bookkeeping column).
    """
    from ..operators.lm import score_perplexity

    docs = spark.readStream.schema(schema).parquet(source_path)

    return _run_batch_sink_stream(
        spark,
        docs,
        lambda batch_df: score_perplexity(batch_df, lm),
        out_dir,
        empty=lambda: score_perplexity(
            spark.createDataFrame([], schema), lm
        ),
    )


def _read_batch_sink(spark: SparkSession, out_dir: str, empty):
    """Read back a per-batch-partitioned parquet sink, tolerating the
    zero-output case: a run whose every micro-batch wrote no rows (all
    docs dropped, or an empty source) leaves no part files, and a bare
    ``spark.read.parquet`` would fail with UNABLE_TO_INFER_SCHEMA —
    for a dedup gate, "everything was a duplicate" is an expected
    steady state, not an error. ``empty`` builds the correctly-typed
    empty frame."""
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
    """The module's ONE effectively-exactly-once sink runner (the
    perplexity / incremental-dedup / quality-gate / WARC streams all
    share it): per micro-batch, ``batch_fn(batch_df)`` produces the
    rows to land (or ``None`` to skip the write entirely), which are
    partitioned by micro-batch id and written with dynamic partition
    overwrite — a replayed batch rewrites its own partition, never
    appends. Checkpoint lives under ``out_dir/_checkpoint``
    (underscore-hidden from the read-back), one availableNow pass,
    then the batch view of the sink via ``_read_batch_sink``."""

    def _write(batch_df: DataFrame, epoch: int) -> None:
        out = batch_fn(batch_df)
        if out is None:
            return
        (
            out.withColumn("_batch_id", F.lit(epoch))
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


def stream_dedup_against_corpus(
    spark: SparkSession,
    source_path: str,
    corpus_index: DataFrame,
    out_dir: str,
    schema: str = "doc_id long, text string",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """Incremental-ingest near-dup gate: documents STREAM in and are
    dropped when they near-dup anything in an EXISTING corpus's
    MinHash signature index (``operators.dedup.dedup_against_corpus``
    reused verbatim per micro-batch — stream and batch answers are
    identical by construction, pinned by the stream-equals-batch
    test).

    Why foreachBatch: the corpus index is a STATIC frame joined into
    every micro-batch (a stream-static equi-join needs no watermark or
    state store — the per-doc decision depends only on the batch row
    and the static index), and foreachBatch lets the exact batch plan
    (signature UDF → banded bucket join → estimate verify) run
    unchanged. Within-stream duplicates are NOT deduped here (compose
    with ``stream_dedup``); the corpus index is also not updated
    mid-stream — an incremental deployment refreshes the index
    between runs, not between micro-batches (index-freshness races
    would make results timing-dependent).

    Survivors land partitioned by micro-batch id with dynamic
    partition overwrite — the same effectively-exactly-once sink shape
    as ``stream_score_perplexity`` (a replayed batch rewrites its own
    partition instead of appending duplicates). Returns a batch frame
    over the sink without the bookkeeping column."""
    from ..operators.dedup import dedup_against_corpus

    docs = spark.readStream.schema(schema).parquet(source_path)

    return _run_batch_sink_stream(
        spark,
        docs,
        lambda batch_df: dedup_against_corpus(
            batch_df, corpus_index, threshold,
            num_hashes=num_hashes, bands=bands, k=k,
        ),
        out_dir,
        empty=lambda: spark.createDataFrame([], schema),
    )


def stream_quality_gate(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    redact: bool = True,
    text_col: str = "text",
    **gopher_thresholds,
) -> DataFrame:
    """Filter-on-ingest: documents STREAM in, the Gopher/C4 rule
    battery drops the junk, and (optionally) PII is scrubbed from the
    survivors before they land — the front door of an incremental
    training-data lake, composed from the batch operators verbatim
    (``operators.quality.filter_gopher_quality`` + ``redact_pii`` per
    micro-batch; stream and batch answers are identical by
    construction, pinned by the stream-equals-batch test).

    Why foreachBatch: every rule is a PER-DOCUMENT scalar predicate —
    no cross-batch state, no watermark — so the exact batch plan (one
    signal projection + one combined filter + the regex scrub chain)
    runs unchanged per micro-batch. Survivors land partitioned by
    micro-batch id with dynamic partition overwrite (the same
    effectively-exactly-once sink shape as the perplexity/dedup
    streams: a replayed batch rewrites its own partition). When
    ``redact`` the sink's ``text_col`` column IS the redacted form (the
    raw text never lands — scrub-before-persist is the PII contract);
    the per-kind counts land as ``n_pii_email/ipv4/phone``. Returns a
    batch frame over the sink without the bookkeeping column."""
    from ..operators.quality import filter_gopher_quality, redact_pii

    docs = spark.readStream.schema(schema).parquet(source_path)

    def _gate(batch_df: DataFrame) -> DataFrame:
        # text_col is an explicit parameter (NOT smuggled through the
        # threshold kwargs) so the filter, the scrub, and the rebuilt
        # output column all agree on which column is the text
        clean = filter_gopher_quality(
            batch_df, text_col=text_col, **gopher_thresholds
        )
        if not redact:
            return clean
        red = redact_pii(clean, text_col=text_col)
        keep = [c for c in clean.columns if c != text_col]
        return red.select(
            *keep,
            F.col("text_redacted").alias(text_col),
            "n_pii_email", "n_pii_ipv4", "n_pii_phone",
        )

    return _run_batch_sink_stream(
        spark,
        docs,
        _gate,
        out_dir,
        empty=lambda: _gate(spark.createDataFrame([], schema)),
    )


def stream_warc_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    path_glob: str = "*.warc*",
) -> DataFrame:
    """Incremental crawl ingestion: WARC files LAND continuously in
    ``source_dir`` and each new file is parsed exactly once into the
    ``(doc_id, url, fetch_date, html)`` documents sink — the streaming
    twin of ``sources.warc.warc_to_documents`` (same parser, same
    doc_id construction, stream == batch by construction).

    Spark shape: the STREAM carries file *listings*, not file bytes —
    ``binaryFile`` with ``path``-only projection (column pruning skips
    the content read; checkpointed file tracking is the new-file
    detector, the same mechanism CC-scale pipelines poll a landing
    bucket with). Each micro-batch collects its tiny path list
    driver-side and re-distributes it through ``read_warc``'s
    mapInPandas scan — parse parallelism is per-FILE regardless of how
    many files a batch contains. Sink: per-batch dynamic partition
    overwrite (the module's effectively-exactly-once shape — a
    replayed batch rewrites its own partition, never appends).

    LANDING CONTRACT (the standard Spark file-source contract, stated
    because the parser's truncation tolerance makes violating it
    SILENT): files must appear in ``source_dir`` atomically — write
    to a dot-prefixed temp name or a staging directory, then rename.
    The file stream tracks paths, so a file first seen mid-write is
    parsed up to its truncation point, checkpointed as done, and its
    remaining records are NEVER revisited when the write completes.
    Dot/underscore-prefixed names are invisible to the source (Spark
    hidden-file convention), which is what makes the temp-then-rename
    recipe safe.
    """
    from ..sources.warc import warc_to_documents

    files = (
        spark.readStream.format("binaryFile")
        # binaryFile's fixed schema, declared explicitly (streaming
        # sources don't infer); the path-only projection below prunes
        # the content column so file BYTES never enter the stream
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", path_glob)
        .load(source_dir)
        .select("path")
    )

    def _ingest_batch(batch_df: DataFrame) -> DataFrame | None:
        # one row per FILE — tiny by construction (the 100 TB corpus
        # is ~100k rows here), so the driver-side collect is safe
        uris = [r["path"] for r in batch_df.collect()]
        paths = []
        for u in uris:
            # binaryFile yields Hadoop Path strings: file:/abs (or
            # file:///abs) for local files, raw and NOT
            # percent-encoded — so strip the scheme with plain string
            # ops. urlparse/unquote here would corrupt legitimate
            # names containing '%' or split at '#' (round-8 review);
            # remote schemes pass through for pyarrow.fs resolution.
            if u.startswith("file:"):
                p = u[len("file:"):]
                paths.append("/" + p.lstrip("/"))
            else:
                paths.append(u)
        if not paths:
            return None
        return warc_to_documents(spark, sorted(paths))

    return _run_batch_sink_stream(
        spark,
        files,
        _ingest_batch,
        out_dir,
        empty=lambda: spark.createDataFrame(
            [], "doc_id long, url string, fetch_date string, html string"
        ),
    )


def _stream_sketch(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    item_expr: str,
    schema: str,
    sketch_fn,
    merge_fn,
    empty_schema: str,
) -> DataFrame:
    """Shared scaffolding for the sketch streaming twins: read the
    document stream, sketch each micro-batch's items (``item_expr`` is
    a SQL expression producing items per input row; empty strings are
    dropped like the batch word profile), land each batch's sketch in
    its own ``_batch_id`` partition, and merge the read-back into one
    sketch frame."""
    docs = spark.readStream.schema(schema).parquet(source_path)

    def _sketch(batch_df: DataFrame) -> DataFrame:
        items = batch_df.selectExpr(f"{item_expr} AS item").filter(
            F.col("item") != ""
        )
        return sketch_fn(items)

    batches = _run_batch_sink_stream(
        spark,
        docs,
        _sketch,
        out_dir,
        empty=lambda: spark.createDataFrame([], empty_schema),
    )
    return merge_fn(batches)


def stream_hll_cardinality(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    item_expr: str = "explode(split(text, '\\\\s+'))",
    schema: str = "doc_id long, text string",
    p: int = 12,
) -> DataFrame:
    """Incremental distinct-counting over a document stream: each
    micro-batch sketches its items (``operators.sketch.hll_registers``
    reused verbatim — stream and batch registers are identical by
    construction) and lands its ≤ 2^p-row register table in its own
    ``_batch_id`` partition; the read-back union is max-merged into
    ONE register table, returned ready for ``hll_estimate``.

    This is the streaming answer HLL's merge algebra makes free:
    register max is idempotent and commutative, so a REPLAYED batch
    (same partition, dynamic overwrite) or any batch arrival order
    yields the same merged sketch — exactly-once semantics without a
    state store, watermark, or dedup bookkeeping. Max-merge is even
    robust to a LOST CHECKPOINT over a surviving sink: re-batched
    reprocessing leaves stale partitions behind, but max over a
    superset of the same observations cannot change. The sink stays
    KB-sized forever: ``n_batches * 2^p`` register rows, never
    items."""
    from ..operators.sketch import hll_merge, hll_registers

    return _stream_sketch(
        spark, source_path, out_dir, item_expr, schema,
        sketch_fn=lambda items: hll_registers(items, "item", p=p),
        merge_fn=hll_merge,
        empty_schema="register int, max_rho int",
    )


def stream_cms_frequencies(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    item_expr: str = "explode(split(text, '\\\\s+'))",
    schema: str = "doc_id long, text string",
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Incremental point-frequency sketching over a document stream —
    the count-min twin of ``stream_hll_cardinality``: each micro-batch
    lands its ≤ width·depth-row cell table in its own ``_batch_id``
    partition (``operators.sketch.cms_sketch`` reused verbatim), and
    the read-back is cell-wise summed into ONE sketch ready for
    ``cms_query``.

    Exactly-once holds for SUM-merge only WITH the checkpoint intact:
    a replayed batch REWRITES its own partition (dynamic overwrite),
    so its counts enter the sum once no matter how many times the
    batch fires. Unlike the HLL twin's idempotent max, summed counts
    are NOT robust to a lost checkpoint over a surviving sink — a
    fresh run can re-batch the source into different partition ids,
    leaving stale partitions that then double-count. If the checkpoint
    is lost, delete ``out_dir`` and rebuild (the sketch is cheap; the
    corpus is the expensive part and is untouched). The sink stays
    KB-sized forever (``n_batches * width * depth`` cells at most,
    sparse in practice)."""
    from ..operators.sketch import cms_merge, cms_sketch

    return _stream_sketch(
        spark, source_path, out_dir, item_expr, schema,
        sketch_fn=lambda items: cms_sketch(
            items, "item", width=width, depth=depth
        ),
        merge_fn=cms_merge,
        empty_schema="row int, col int, cnt long",
    )


def stream_bloom_membership(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    item_expr: str = "explode(split(text, '\\\\s+'))",
    schema: str = "doc_id long, text string",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Incremental membership sketching over a document stream — the
    Bloom twin of ``stream_hll_cardinality``: each micro-batch lands
    its ≤ m_bits/64-row word table in its own ``_batch_id`` partition
    (``operators.sketch.bloom_sketch`` reused verbatim), and the
    read-back is word-wise OR-merged into ONE filter ready for
    ``bloom_query``/``filter_unseen``.

    Like the HLL twin (and unlike the CMS sum), bit-OR is IDEMPOTENT:
    a replayed batch, any arrival order, and even a LOST CHECKPOINT
    over a surviving sink all yield the same merged filter — OR over a
    superset of the same observations cannot change, so the
    no-false-negatives contract survives every failure mode. The sink
    stays small forever (``n_batches * m_bits/64`` word rows at most,
    sparse while the filter is under-full)."""
    from ..operators.sketch import bloom_merge, bloom_sketch

    return _stream_sketch(
        spark, source_path, out_dir, item_expr, schema,
        sketch_fn=lambda items: bloom_sketch(
            items, "item", m_bits=m_bits, k=k
        ),
        merge_fn=bloom_merge,
        empty_schema="word int, bits long",
    )


def stream_fp_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_index: DataFrame,
    out_dir: str,
    family: FingerprintFamily,
    path_glob: str = "*",
    max_hamming: int | None = None,
    fake_decode: bool = False,
    **params,
) -> DataFrame:
    """Incremental MEDIA ingest for one fingerprint family
    (``operators.fingerprint.IMAGE`` / ``AUDIO`` / ``VIDEO``): files
    land continuously in ``source_dir``; each new file is decoded and
    fingerprinted exactly once and dropped when it near-dups anything
    in the EXISTING corpus index (corpus wins — the streaming twin of
    ``operators.fingerprint.dedup_fp_against_corpus``, same gate per
    micro-batch). Sink rows are the SURVIVORS' ``(media_id, path,
    mime, <family.hash_col>, decoded)`` — the hash is included so the
    operator appends survivors straight onto the index after the run
    (``dedup.append_fp_index``); pixels, PCM and frames never reach
    the sink.

    Spark shape: unlike the WARC twin, file BYTES do enter the stream
    (``binaryFile`` content) — a media file is ONE record with no
    within-file structure to re-scan, so the file source's
    checkpointed tracking replaces a listing+parse layer outright, and
    the decode runs executor-side where the bytes already are. Each
    batch is fingerprinted ONCE: the gate joins the tiny (id, hash)
    frame against the index, never re-decoding survivors. ``media_id
    = xxhash64(path)`` — deterministic across replays, so the
    per-batch dynamic-overwrite sink stays effectively exactly-once.
    The WARC twin's atomic-landing contract applies verbatim
    (temp-then-rename; dot-prefixed names are invisible)."""
    from ..operators.dedup import materialize

    params = family.params(**params)
    hash_col = family.hash_col
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", path_glob)
        .load(source_dir)
        .select("path", "content")
    )

    def _gate(batch_df: DataFrame) -> DataFrame | None:
        media = batch_df.select(
            F.xxhash64("path").alias("media_id"),
            "path",
            F.col("content").alias("payload"),
        )
        # materialize the slim hash frame HERE: it feeds both the gate
        # join and the sink write — without this the fingerprint
        # mapInPandas plan (a full decode of the batch) would
        # re-execute for the sink, decoding every file twice
        fps = materialize(family.fingerprint(media, fake_decode, **params))
        # media_id is xxhash64(path): a 64-bit collision between two
        # distinct paths would silently alias them through the gate and
        # the survivor join — surface it instead (one agg over the
        # already-materialized slim frame; a real collision is a stop
        # ship, not a merge)
        collided = (
            fps.groupBy("media_id").count().filter(F.col("count") > 1).first()
        )
        if collided is not None:
            raise ValueError(
                "xxhash64(path) collision within batch on media_id="
                f"{collided['media_id']} — distinct files would alias in "
                "the dedup gate; rename one or switch the id scheme"
            )
        matched = family.match_corpus(fps, corpus_index, params, max_hamming)
        return (
            fps.join(matched, "media_id", "left_anti")
            .join(media.select("media_id", "path"), "media_id")
            .select("media_id", "path", "mime", hash_col, "decoded")
        )

    return _run_batch_sink_stream(
        spark,
        files,
        _gate,
        out_dir,
        empty=lambda: spark.createDataFrame(
            [],
            f"media_id long, path string, mime string, {hash_col} long, "
            "decoded boolean",
        ),
    )


def stream_rank_quantiles(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    value_expr: str = "length(text)",
    schema: str = "doc_id long, text string",
    levels: int = 20,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Incremental rank/quantile tracking over a document stream: each
    micro-batch builds its dyadic rank sketch
    (``operators.sketch.dyadic_rank_sketch`` reused verbatim — stream
    and batch cells are identical by construction) and lands its cell
    table in its own ``_batch_id`` partition; the read-back union is
    sum-merged into ONE sketch, returned ready for
    ``quantiles_from_sketch``. The same merge-algebra argument as the
    HLL/CMS twins: cell-wise sum over dynamically-overwritten batch
    partitions is replay-safe, so quantiles over the whole stream cost
    no state store and no sort, and the sink stays KB-sized —
    ``n_batches * (levels+1) * width * depth`` cells worst case, never
    values. ``value_expr`` must produce integers in ``[0, 2^levels)``
    (the batch operator's fail-fast guard applies per micro-batch)."""
    from ..operators.sketch import dyadic_rank_merge, dyadic_rank_sketch

    docs = spark.readStream.schema(schema).parquet(source_path)

    def _sketch(batch_df: DataFrame) -> DataFrame:
        values = batch_df.selectExpr(f"{value_expr} AS v")
        return dyadic_rank_sketch(values, "v", levels, width, depth)

    batches = _run_batch_sink_stream(
        spark,
        docs,
        _sketch,
        out_dir,
        empty=lambda: spark.createDataFrame(
            [], "lvl int, row int, col int, cnt long"
        ),
    )
    return dyadic_rank_merge(batches)


def stream_pdf_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    path_glob: str = "*",
    fake_decode: bool = False,
) -> DataFrame:
    """Incremental PDF ingest: documents land continuously as PDF
    files in ``source_dir``; each new file is parsed + text-extracted
    exactly once (the streaming twin of
    ``operators.pdf.extract_pdf_text`` — same extraction per
    micro-batch) and the sink rows are ordinary documents ``(media_id,
    path, n_pages, text, extracted)`` ready for the quality/dedup/
    packing pipeline. Spark shape is the image/audio/video twins'
    verbatim: one file = one ``binaryFile`` record, parse runs
    executor-side where the bytes are, ``media_id = xxhash64(path)``
    with the in-batch collision assertion, checkpointed
    effectively-exactly-once sink. The WARC atomic-landing contract
    applies (temp-then-rename; dot-prefixed names are invisible)."""
    from ..operators.dedup import materialize
    from ..operators.pdf import extract_pdf_text

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", path_glob)
        .load(source_dir)
        .select("path", "content")
    )

    def _extract(batch_df: DataFrame) -> DataFrame | None:
        media = batch_df.select(
            F.xxhash64("path").alias("media_id"),
            "path",
            F.col("content").alias("payload"),
        )
        docs = materialize(extract_pdf_text(media, fake_decode=fake_decode))
        collided = (
            docs.groupBy("media_id").count().filter(F.col("count") > 1).first()
        )
        if collided is not None:
            raise ValueError(
                "xxhash64(path) collision within batch on media_id="
                f"{collided['media_id']} — distinct files would alias in "
                "the sink; rename one or switch the id scheme"
            )
        return docs.join(media.select("media_id", "path"), "media_id").select(
            "media_id", "path", "n_pages", "text", "extracted"
        )

    return _run_batch_sink_stream(
        spark,
        files,
        _extract,
        out_dir,
        empty=lambda: spark.createDataFrame(
            [],
            "media_id long, path string, n_pages int, text string, "
            "extracted boolean",
        ),
    )


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
    import json as _json

    marker = os.path.join(index_path, "_INDEX_OK")
    if not os.path.exists(marker):
        raise ValueError(
            f"{index_path} has no _INDEX_OK marker — build the index "
            "with build_ann_index before streaming appends into it"
        )
    with open(marker) as f:
        id_col = _json.load(f)["id_col"]

    ledger_schema = (
        "appended long, occupancy_shift_tv double, err_ratio double, "
        "refit_recommended boolean"
    )
    vecs = spark.readStream.schema(schema).parquet(source_dir)

    def _append(batch_df: DataFrame) -> DataFrame | None:
        existing = spark.read.parquet(
            os.path.join(index_path, "codes")
        ).select(id_col)
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
            from ..operators.pq import append_ann_index

            rep = append_ann_index(spark, index_path, fresh, vec_col=vec_col)
            row = (
                int(rep.get("appended", 0)),
                rep.get("occupancy_shift_tv"),
                rep.get("err_ratio"),
                bool(rep.get("refit_recommended", False)),
            )
        from ..session import local_rows_df

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

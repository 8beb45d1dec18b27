"""CLI mirroring the reference's entry points (SURVEY.md §2.11):

    ingest_capacity --input --source   (reference ingest_capacity.py:229-253)
    compute_metrics --source           (reference compute_metrics.py:116-126)
    query <endpoint> [--date|--min-rows|--full]  (the 7 REST endpoints,
                                        reference main.py:110-373)
    stream_ingest --input-dir          (§2.9 availableNow file-source ingest,
                                        the Spark stand-in for the S3→Lambda
                                        trigger in aws/lambda_handler.py:7-47)
    curate --input --output            (training-data extension: the corpus
                                        curation recipe → stream-ordered
                                        packed chunks)
    dedup_index --input --output       (incremental dedup: build the
                                        text-free MinHash signature index)
    dedup_filter --input --index --output  (drop new docs near-duplicating
                                        the indexed corpus; corpus wins)
    fp_index --kind --input --output   (media near-dup index: image,
                                        audio or video fingerprints)
    fp_filter --kind --input --index --output  (the media corpus-wins
                                        gate; --append-survivors)
    corpus_diff --old --new            (snapshot reconciliation: summary
                                        JSON + optional per-doc ledger;
                                        --forbid-added/--forbid-removed
                                        make it a promotion gate)
    bpe_train --input --output         (learn BPE merges, save the JSON
                                        merge artifact)
    tokenize --input --merges --output (encode with a merge artifact +
                                        print the bytes/token report)
    sample --input --output --k        (deterministic exact-k sample;
                                        --strata-col for per-stratum
                                        k or --fraction)
    plan_crawl --sitemap --fetched --robots --output
                                       (the frontier trio in one shot:
                                        sitemap parse -> recrawl
                                        reconciliation -> robots gate ->
                                        fetch-plan parquet)

A user of the reference pipeline can run the same workflows against a
parquet lake directory instead of Postgres:

    python scripts/run_pipeline.py ingest_capacity \
        --input data/raw.csv --lake /tmp/lake --source manual-upload
    python scripts/run_pipeline.py compute_metrics --lake /tmp/lake
    python scripts/run_pipeline.py query metrics_compare --lake /tmp/lake
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hospital_stain_tracker_data_pipeline_spark import pipeline
from hospital_stain_tracker_data_pipeline_spark.pipeline import api_queries as api
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import lake_table
from hospital_stain_tracker_data_pipeline_spark.session import get_spark


def _read(spark, lake_dir: str, table: str):
    """The whole table as the dashboard reads it: merged schema, and
    date questions answered from the partition listing."""
    return lake_table(spark, lake_dir, table).read()


def cmd_ingest(args) -> None:
    spark = get_spark(app_name="ingest_capacity")
    res = pipeline.ingest_capacity_csv(
        spark, args.input, lake_dir=args.lake, source=args.source
    )
    print(
        f"run={res.run_id} rows_in={res.rows_in} rows_loaded={res.rows_loaded} "
        f"rows_rejected={res.rows_rejected} rejects={res.rejects_path}"
    )


def cmd_metrics(args) -> None:
    spark = get_spark(app_name="compute_metrics")
    res = pipeline.compute_metrics(spark, lake_dir=args.lake, source=args.source)
    print(f"run={res.run_id} rows_loaded={res.rows_loaded}")


def cmd_stream_ingest(args) -> None:
    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
        stream_ingest_events,
    )

    spark = get_spark(app_name="stream_ingest")
    res = stream_ingest_events(spark, args.input_dir, args.lake)
    print(
        f"batches={res.batches} rows_loaded={res.rows_loaded} "
        f"rows_rejected={res.rows_rejected} table={res.table_path}"
    )


def cmd_seed(args) -> None:
    from hospital_stain_tracker_data_pipeline_spark.pipeline.seed import seed_lake

    spark = get_spark(app_name="seed")
    region_id = seed_lake(spark, args.lake)
    print(f"seeded region_id={region_id}")


def cmd_query(args) -> None:
    spark = get_spark(app_name="query")
    lake = args.lake
    name = args.endpoint
    if name == "runs":
        df = api.runs_latest(_read(spark, lake, "pipeline_runs"))
    elif name == "capacity_latest":
        df = api.capacity_latest(
            _read(spark, lake, "capacity_daily"),
            _read(spark, lake, "regions"),
            date=args.date,
        )
    elif name == "metrics_latest":
        df = api.metrics_latest(
            _read(spark, lake, "metrics_daily"),
            _read(spark, lake, "regions"),
            date=args.date,
        )
    elif name == "metrics_compare":
        df = api.metrics_compare(
            _read(spark, lake, "metrics_daily"),
            _read(spark, lake, "regions"),
            date=args.date,
        )
    elif name == "available_dates":
        df = api.available_dates(_read(spark, lake, "metrics_daily"), full=args.full)
    elif name == "coverage":
        df = api.coverage(_read(spark, lake, "metrics_daily"), min_rows=args.min_rows)
    elif name == "coverage_best_date":
        df = api.coverage_best_date(
            _read(spark, lake, "metrics_daily"), min_rows=args.min_rows
        )
    else:
        raise SystemExit(f"unknown endpoint: {name}")
    if args.csv_out:
        # op-sink-csv-export: quoting/header handled by the writer
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(args.csv_out)
        print(f"wrote {args.csv_out}")
    else:
        # op-sink-json: one JSON object per row
        for line in df.toJSON().collect():
            print(line)


def cmd_curate(args) -> None:
    """Training-data extension: run the corpus-curation recipe over a
    parquet documents table and write the packed chunks in stream
    order (operators/packing.py::write_packed_corpus)."""
    import dataclasses

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        write_packed_corpus,
    )
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        curate_documents,
        unpersist_curated,
    )

    spark = get_spark(app_name="curate")
    docs = spark.read.parquet(args.input)
    stages = None
    if args.gopher:
        # the published Gopher/C4 rule battery instead of the C4-ish
        # default funnel; per-rule attrition lands in the report
        from hospital_stain_tracker_data_pipeline_spark.operators.quality import (
            gopher_stage_predicates,
        )

        stages = gopher_stage_predicates()
    # fail-loud flag pairing, mirroring the perplexity gate's
    # ValueError contract: a gate flag that silently does nothing
    # writes an UNFILTERED corpus the user believes is gated
    if args.probe_train is not None and args.probe_weights is not None:
        raise ValueError(
            "--probe-train and --probe-weights are mutually exclusive "
            "(train a new gate OR load a saved artifact)"
        )
    if args.save_probe is not None and args.probe_train is None:
        raise ValueError("--save-probe requires --probe-train")
    probe_requested = (
        args.probe_train is not None or args.probe_weights is not None
    )
    if not probe_requested and (
        args.min_probe_score is not None or args.probe_dim is not None
    ):
        raise ValueError(
            "--min-probe-score/--probe-dim require --probe-train or "
            "--probe-weights"
        )
    min_probe_score = (
        args.min_probe_score if args.min_probe_score is not None else 0.5
    )
    quality_probe = None
    probe_dim = args.probe_dim if args.probe_dim is not None else 128
    if args.probe_train is not None:
        # FineWeb-style classifier gate: train the probe on a LABELED
        # parquet (doc_id, text, label in {0,1}) — curated-vs-junk
        # exemplars — then gate the corpus at --min-probe-score
        from hospital_stain_tracker_data_pipeline_spark.operators.features import (
            save_text_probe,
            train_text_probe,
        )
        from hospital_stain_tracker_data_pipeline_spark.operators.inference import (
            linear_probe_scorer,
        )

        w, b, _ = train_text_probe(
            spark.read.parquet(args.probe_train), dim=probe_dim
        )
        if args.save_probe:
            save_text_probe(args.save_probe, w, b, probe_dim)
        quality_probe = linear_probe_scorer(w, b)
    elif args.probe_weights is not None:
        from hospital_stain_tracker_data_pipeline_spark.operators.features import (
            load_text_probe,
        )
        from hospital_stain_tracker_data_pipeline_spark.operators.inference import (
            linear_probe_scorer,
        )

        w, b, artifact_dim = load_text_probe(args.probe_weights)
        if args.probe_dim is not None and args.probe_dim != artifact_dim:
            raise ValueError(
                f"--probe-dim {args.probe_dim} contradicts the artifact's "
                f"dim {artifact_dim} — the artifact's featurization wins; "
                "drop the flag"
            )
        probe_dim = artifact_dim
        quality_probe = linear_probe_scorer(w, b)
    ppl_lm = None
    if args.trusted_docs is not None:
        # CCNet gate: train the quality LM on the TRUSTED corpus, not
        # on the corpus being filtered
        from hospital_stain_tracker_data_pipeline_spark.operators.lm import (
            train_ngram_lm,
        )

        ppl_lm = train_ngram_lm(
            spark.read.parquet(args.trusted_docs), n=2, min_count=2
        )
    chunks, report = curate_documents(
        docs,
        stages=stages,
        budget=args.budget,
        n_shards=args.shards,
        seed=args.seed,
        near_dup_threshold=args.near_dup_threshold,
        near_dup_policy=args.near_dup_policy,
        html_col=args.html_col,
        span_dedup_delim=args.span_delim,
        max_per_source=args.max_per_source,
        substring_min_tokens=args.substring_min_tokens,
        no_split=args.no_split,
        ppl_lm=ppl_lm,
        max_perplexity=args.max_perplexity,
        url_col=args.url_col,
        quality_probe=quality_probe,
        min_probe_score=(
            min_probe_score if quality_probe is not None else None
        ),
        probe_dim=probe_dim,
        run_dir=args.run_dir,
    )
    write_packed_corpus(chunks, args.output)
    if args.manifest_out:
        # accounting sidecar: recompute from what actually LANDED so
        # the manifest certifies the files, not the plan
        from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
            shard_manifest,
        )

        shard_manifest(spark.read.parquet(args.output)).coalesce(
            1
        ).write.mode("overwrite").parquet(args.manifest_out)
        print(f"manifest -> {args.manifest_out}")
    unpersist_curated(chunks)
    for k, v in dataclasses.asdict(report).items():
        print(f"{k}={v}")
    # machine-readable twin of the k=v lines: the full report —
    # including the operational telemetry (cc_iterations, the
    # near-dup stage's hot_buckets_dropped) — as ONE JSON line an
    # adopter's monitoring can parse without scraping
    import json as _json

    print(_json.dumps(dataclasses.asdict(report)))
    print(f"wrote {args.output}")


def _add_index_lifecycle_args(parser) -> None:
    """The shared --remove/--compact flag set for the three index
    commands, dedup_index, fp_index and ann_index (one definition: the
    command bodies already share _index_lifecycle)."""
    parser.add_argument("--remove",
                        help="parquet of ids (the index's id column) to "
                        "TOMBSTONE from --output (takedown path: "
                        "suppressed at every probe or search "
                        "immediately, files untouched until --compact); "
                        "prints the report JSON")
    parser.add_argument("--compact", action="store_true",
                        help="fold tombstones into the index files "
                        "(threshold-gated, count-validated rewrite); "
                        "prints the report JSON")
    parser.add_argument("--compact-min-ratio", type=float, default=0.1,
                        help="minimum tombstones/rows ratio before "
                        "--compact actually rewrites")
    parser.add_argument("--compact-force", action="store_true",
                        help="compact regardless of ratio")


def _index_lifecycle(
    spark, args, remove_fn, compact_fn, batch_flag="input"
) -> bool:
    """Shared --remove/--compact handling for dedup_index, fp_index and
    ann_index: tombstone ids from a parquet of ids, or fold tombstones
    into the files. Returns True when a lifecycle action ran (the
    build path is skipped); otherwise requires the command's batch
    flag (``--<batch_flag>``)."""
    import json as _json

    if args.remove and args.compact:
        raise SystemExit(
            "--remove and --compact are mutually exclusive — one "
            "lifecycle action per invocation"
        )
    if args.remove:
        report = remove_fn(
            spark, args.output, spark.read.parquet(args.remove)
        )
        print(_json.dumps(report))
        return True
    if args.compact:
        report = compact_fn(
            spark, args.output,
            min_ratio=args.compact_min_ratio,
            force=args.compact_force,
        )
        print(_json.dumps(report))
        return True
    if not getattr(args, batch_flag):
        raise SystemExit(
            f"--{batch_flag} is required (only --remove/--compact "
            "operate without a batch to index)"
        )
    return False


def cmd_dedup_index(args) -> None:
    """Build (or refresh) the text-free MinHash signature index for a
    corpus — the artifact `dedup_filter` probes. Run nightly / per
    corpus version; the index is ~256 B/doc regardless of text size.
    num_hashes AND the shingle size k ride the artifact
    (`save_dedup_index`), so the probe side can't silently mismatch —
    a k=3 index probed with k=5 would estimate garbage Jaccard with no
    runtime signal."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        load_dedup_index,
        minhash_signature_index,
        save_dedup_index,
    )

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        compact_dedup_index,
        remove_from_dedup_index,
    )

    spark = get_spark(app_name="dedup_index")
    if _index_lifecycle(
        spark, args, remove_from_dedup_index, compact_dedup_index
    ):
        return
    docs = spark.read.parquet(args.input)
    idx = minhash_signature_index(
        docs, num_hashes=args.num_hashes, k=args.shingle_k
    )
    save_dedup_index(idx, args.num_hashes, args.shingle_k, args.output)
    n = load_dedup_index(spark, args.output)[0].count()
    print(f"indexed {n} docs -> {args.output}")


def cmd_ann_index(args) -> None:
    """Fit and persist the complete IVF-PQ search artifact (coarse
    centroids + product codebooks + the encoded corpus) — the
    nightly-fit half; `ann_search` serves queries from it without ever
    rereading the raw embedding lake. With --append, `--embeddings` is
    a DELTA batch encoded under the EXISTING fits and appended to the
    codes table (O(delta), the lake is never re-read); the drift
    report (occupancy shift + quantization-error ratio vs fit time)
    prints as JSON so an operator/cron can gate a full rebuild on
    `refit_recommended`. With --drift the same report prints WITHOUT
    mutating the index (read-only monitoring probe). --remove/--compact
    run the takedown lifecycle shared with dedup_index and fp_index."""
    import json as _json

    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        ann_index_drift,
        append_ann_index,
        build_ann_index,
        compact_ann_index,
        remove_from_ann_index,
    )

    modes = [
        m for m, on in [
            ("--append", args.append), ("--drift", args.drift),
            ("--remove", bool(args.remove)), ("--compact", args.compact),
        ] if on
    ]
    if len(modes) > 1:
        raise SystemExit(
            f"ann_index: {' and '.join(modes)} are mutually exclusive — "
            "one lifecycle action per invocation"
        )
    spark = get_spark(app_name="ann_index")
    if _index_lifecycle(
        spark, args, remove_from_ann_index, compact_ann_index,
        batch_flag="embeddings",
    ):
        return
    emb = spark.read.parquet(args.embeddings)
    if args.drift:
        report = ann_index_drift(
            spark, args.output, emb, vec_col=args.vec_col
        )
        print(_json.dumps(report))
        return
    if args.append:
        report = append_ann_index(
            spark, args.output, emb, vec_col=args.vec_col
        )
        print(_json.dumps(report))
        return
    build_ann_index(
        emb,
        args.output,
        n_clusters=args.clusters,
        m=args.m,
        n_codes=args.codes,
        iters=args.iters,
        id_col=args.id_col,
        vec_col=args.vec_col,
    )
    n = spark.read.parquet(f"{args.output}/codes").count()
    print(f"indexed {n} vectors -> {args.output}")


def cmd_index_fsck(args) -> None:
    """Read-only health check for ANY persisted index artifact (ANN /
    MinHash / media fingerprint / IVF and PQ fits / text probe): kind
    detection, loader validation, lifecycle state (tombstones, stale
    swap dirs) — one JSON report per --path, ok=false + error text
    instead of a crash, so a fleet sweep reports per-artifact."""
    import json as _json

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        index_fsck,
    )

    spark = get_spark(app_name="index_fsck")
    for p in args.path:
        print(_json.dumps(index_fsck(spark, p)))


def cmd_ann_stream(args) -> None:
    """Streaming twin of `ann_index --append`: embedding parquet files
    land continuously in --landing; each new file appends O(delta)
    under the index's frozen fits (replayed files append 0 — the
    id-immutability guard), and the per-batch drift ledger lands at
    --ledger and prints as JSON lines."""
    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (  # noqa: E501
        stream_ann_ingest,
    )

    spark = get_spark(app_name="ann_stream")
    ledger = stream_ann_ingest(
        spark, args.landing, args.index, args.ledger,
        schema=args.schema, vec_col=args.vec_col,
    )
    for line in ledger.toJSON().collect():
        print(line)


def cmd_ann_search(args) -> None:
    """ADC top-k search against a persisted `ann_index` artifact:
    queries parquet (query_id, embedding) in, (query_id, id, adc_dist)
    parquet out."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pq import (
        search_ann_index,
    )

    spark = get_spark(app_name="ann_search")
    queries = spark.read.parquet(args.queries)
    out = search_ann_index(
        spark,
        args.index,
        queries,
        k=args.k,
        nprobe=args.nprobe,
        query_id_col=args.query_id_col,
        vec_col=args.vec_col,
        exclude_self=args.exclude_self,
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"wrote {n} result rows -> {args.output}")


def cmd_plan_crawl(args) -> None:
    """The crawl frontier trio as ONE command: parse the sitemap(s),
    reconcile against the lake's fetch history (`plan_recrawl`), gate
    by robots.txt (`robots_filter`) — writes the fetch-plan parquet
    (url, status, lastmod_ts, last_fetch_ts, robots_allowed,
    robots_rule) and prints the status x allowed census. The fetcher
    consumes `status IN ('new','stale') AND robots_allowed`.

    `--schedule` additionally assigns the fetchable rows their
    politeness timeline (`schedule_fetch` waves x `robots_crawl_delays`
    via `fetch_timeline`): columns domain, wave, crawl_delay_s,
    earliest_fetch_offset_s — NULL on rows the fetcher must skip
    (blocked / fresh / gone), so one parquet carries plan AND
    schedule."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.web import (
        fetch_timeline,
        plan_recrawl,
        robots_crawl_delays,
        robots_filter,
        robots_rules,
        schedule_fetch,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.xml_source import (
        read_sitemap,
    )

    spark = get_spark(app_name="plan_crawl")
    frontier, rejected = read_sitemap(spark, args.sitemap)
    n_rejected = rejected.count()
    if args.fetched:
        fetched = spark.read.parquet(args.fetched)
    else:
        fetched = spark.createDataFrame(
            [], "url string, fetch_ts timestamp"
        )
    plan = plan_recrawl(frontier, fetched)
    if args.robots:
        rules = robots_rules(spark.read.parquet(args.robots))
        plan = robots_filter(plan, rules, user_agent=args.user_agent)
    else:
        plan = plan.withColumn("robots_allowed", F.lit(True)).withColumn(
            "robots_rule", F.lit(None).cast("string")
        )
    if args.schedule:
        fetchable = F.col("robots_allowed") & F.col("status").isin(
            "new", "stale"
        )
        if args.robots:
            delays = robots_crawl_delays(
                spark.read.parquet(args.robots), user_agent=args.user_agent
            )
        else:
            delays = spark.createDataFrame(
                [], "domain string, crawl_delay_s double"
            )
        timed = fetch_timeline(
            schedule_fetch(
                plan.filter(fetchable),
                per_domain_per_wave=args.per_domain_per_wave,
            ),
            delays,
            default_delay_s=args.default_delay_s,
        )
        # skipped rows keep NULL schedule columns — unionByName fills
        # the missing columns; no frontier-sized join
        plan = plan.filter(~fetchable).unionByName(
            timed, allowMissingColumns=True
        )
    plan.write.mode("overwrite").parquet(args.output)
    census = (
        spark.read.parquet(args.output)
        .groupBy("status", "robots_allowed")
        .count()
        .orderBy("status", "robots_allowed")
        .collect()
    )
    for r in census:
        print(
            f"status={r['status']} allowed={r['robots_allowed']} "
            f"count={r['count']}"
        )
    print(f"sitemap_rejects={n_rejected}")
    # the collected census already carries the fetch-list size — no
    # second job over the written parquet
    n_fetch = sum(
        r["count"]
        for r in census
        if r["robots_allowed"] and r["status"] in ("new", "stale")
    )
    print(f"fetch_list={n_fetch} -> {args.output}")


def cmd_warc_ingest(args) -> None:
    """Crawl front-door: parse WARC file(s) (path, glob, or
    comma-separated list) into a (doc_id, url, fetch_date, html)
    documents parquet — the input shape `curate --html-col html
    --url-col url` consumes. With --wet the input is CommonCrawl's
    pre-extracted text sidecar (conversion records) and the output
    column is `text` (no --html-col needed downstream). Optionally
    also writes the CDX capture index sidecar for random access
    (sources/warc.py::warc_cdx_index)."""
    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        read_warc,
        warc_cdx_index,
        warc_to_documents,
        wet_to_documents,
    )

    spark = get_spark(app_name="warc_ingest")
    paths = (
        [p for p in args.input.split(",") if p]
        if "," in args.input
        else args.input
    )
    if not paths:
        raise SystemExit(f"--input {args.input!r} names no paths")
    # ONE parse: read_warc once, derive docs and the CDX sidecar from
    # the same records frame (the doc_id recipe lives in
    # _records_to_documents either way). With --cdx-out the frame is
    # disk-persisted across the two writes — the gzip+WARC+HTTP parse
    # is the expensive part; replaying it per output would double
    # ingest CPU and could even see a different file set between
    # listings.
    kind = "conversion" if args.wet else "response"
    recs = read_warc(
        spark, paths, warc_types=(kind,), parallelism=args.parallelism
    )
    if args.cdx_out:
        from pyspark import StorageLevel

        recs = recs.persist(StorageLevel.DISK_ONLY)
    to_docs = wet_to_documents if args.wet else warc_to_documents
    docs = to_docs(spark, records=recs)
    docs.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    if args.cdx_out:
        warc_cdx_index(recs).write.mode("overwrite").parquet(args.cdx_out)
        recs.unpersist()
        print(f"cdx -> {args.cdx_out}")
    print(f"ingested {n} {kind} records -> {args.output}")


def cmd_dedup_filter(args) -> None:
    """Drop new documents that near-dup anything in an existing corpus
    index (corpus always wins), writing the survivors. The incremental
    ingest gate: old corpus text is never re-read. A `save_dedup_index`
    artifact supplies its own num_hashes + shingle k (--num-hashes is
    ignored then — the artifact is authoritative); a legacy plain
    signature parquet falls back to the flags."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_against_corpus,
        load_dedup_index,
    )

    spark = get_spark(app_name="dedup_filter")
    new_docs = spark.read.parquet(args.input)
    raw = spark.read.parquet(args.index)
    if {"_mh_num_hashes", "_mh_k"}.issubset(raw.columns):
        index, num_hashes, k = load_dedup_index(spark, args.index)
    else:
        index, num_hashes, k = raw, args.num_hashes, 3
    kept = dedup_against_corpus(
        new_docs, index,
        threshold=args.threshold, num_hashes=num_hashes, k=k,
    )
    kept.write.mode("overwrite").parquet(args.output)
    n_in, n_out = new_docs.count(), spark.read.parquet(args.output).count()
    print(f"kept {n_out}/{n_in} docs -> {args.output}")


def cmd_fp_index(args) -> None:
    """Build (or refresh) the fingerprint index of a media corpus for
    one --kind (image dHash/aHash, audio lag-energy, video frame
    vote): decode + fingerprint every payload once and persist
    (media_id, hash) with the family tag recording every parameter
    (`save_fp_index`), 8 B + an id per item. `fp_filter` probes it
    without re-reading old payloads. --remove/--compact run the
    takedown lifecycle instead of a build."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        compact_fp_index,
        load_fp_index,
        remove_from_fp_index,
        save_fp_index,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (  # noqa: E501
        FAMILIES,
    )

    family = FAMILIES[args.kind]
    given = {
        k: v
        for k in ("algo", "hash_size", "n_samples")
        if (v := getattr(args, k)) is not None
    }
    try:  # a flag this kind does not take is an error, not a no-op
        params = family.params(**given)
    except ValueError as exc:
        raise SystemExit(f"fp_index --kind {args.kind}: {exc}") from None
    spark = get_spark(app_name="fp_index")
    if _index_lifecycle(
        spark, args,
        lambda s, p, ids: remove_from_fp_index(s, p, ids, family),
        lambda s, p, **kw: compact_fp_index(s, p, family, **kw),
    ):
        return
    media = spark.read.parquet(args.input)
    fps = family.fingerprint(media, args.fake_decode, **params)
    save_fp_index(fps, args.output, family, **params)
    n = load_fp_index(spark, args.output, family)[0].count()
    print(f"indexed {n} {args.kind} fingerprints -> {args.output}")


def cmd_fp_filter(args) -> None:
    """Drop new media whose fingerprint near-dups anything in an
    existing `fp_index` artifact of the same --kind (corpus wins),
    writing the survivors — the incremental-ingest gate, mirroring
    `dedup_filter`. Params come FROM the artifact (mismatch
    impossible); the batch is fingerprinted exactly once.
    --append-survivors appends the survivors' fingerprints to the
    index so the next batch dedups against them too."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        append_fp_index,
        load_fp_index,
        materialize,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (  # noqa: E501
        FAMILIES,
    )

    family = FAMILIES[args.kind]
    spark = get_spark(app_name="fp_filter")
    media = spark.read.parquet(args.input)
    index, params = load_fp_index(spark, args.index, family)
    # materialize the slim fingerprint frame: it feeds the gate join,
    # the survivor anti-join, and (optionally) the index append —
    # without this the mapInPandas decode would re-run per consumer
    fps = materialize(family.fingerprint(media, args.fake_decode, **params))
    gate_tel: dict = {}
    matched = family.match_corpus(
        fps, index, params, args.max_hamming,
        max_bucket=args.max_bucket or None, telemetry=gate_tel,
    )
    survivors = media.join(matched, "media_id", "left_anti")
    survivors.write.mode("overwrite").parquet(args.output)
    n_in = media.count()
    n_out = spark.read.parquet(args.output).count()
    if args.append_survivors:
        n_app = append_fp_index(
            spark, args.index, fps.join(matched, "media_id", "left_anti"),
            family,
        )
        print(f"appended {n_app} survivor fingerprints -> {args.index}")
    print(
        f"kept {n_out}/{n_in} {args.kind} items "
        f"(hot_buckets_dropped={gate_tel.get('hot_buckets_dropped', 0)}) "
        f"-> {args.output}"
    )


def cmd_pdf_extract(args) -> None:
    """Extract text from a PDF media lake into an ordinary documents
    parquet (media_id, n_pages, text, extracted) — the PDF leg of the
    crawl-ingestion surface beside warc_ingest's HTML path."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (
        extract_pdf_text,
    )

    spark = get_spark(app_name="pdf_extract")
    media = spark.read.parquet(args.input)
    docs = extract_pdf_text(media, fake_decode=args.fake_decode)
    docs.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n = out.count()
    n_ok = out.filter("extracted").count()
    print(f"extracted {n_ok}/{n} pdfs -> {args.output}")


def cmd_curate_media(args) -> None:
    """Run the mixed-lake media curation recipe (exact payload dedup →
    modality routing → per-modality near-dup tiers) and land the
    survivors; the per-stage attrition report prints as JSON."""
    import dataclasses
    import json

    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        curate_media,
    )

    spark = get_spark(app_name="curate_media")
    media = spark.read.parquet(args.input)
    survivors, rep = curate_media(
        media,
        image_max_hamming=args.image_max_hamming,
        audio_max_hamming=args.audio_max_hamming,
        video_max_hamming=args.video_max_hamming,
        fake_decode=args.fake_decode,
        pdf_text_stage=args.pdf_text_stage,
        pdf_near_dup_threshold=args.pdf_near_dup_threshold,
    )
    survivors.write.mode("overwrite").parquet(args.output)
    print(json.dumps(dataclasses.asdict(rep)))


def cmd_corpus_diff(args) -> None:
    """Reconcile two corpus snapshots — the promotion / takedown gate.
    Prints the one-row summary as JSON; --ledger-out lands the per-doc
    added/removed/changed ledger; --forbid-added / --forbid-removed
    turn the run into a hard gate (exit 3 when the invariant a refresh
    class promises is violated — e.g. a takedown run must add
    nothing)."""
    import json as _json

    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.diffs import (
        corpus_diff,
        summarize_diff,
    )

    spark = get_spark(app_name="corpus_diff")
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    # ONE reconciliation join feeds both outputs: persist the diff,
    # filter for the ledger, aggregate for the summary — re-deriving
    # each from (old, new) would scan both snapshots twice
    d = corpus_diff(
        old, new, args.id_col, args.text_col, include_unchanged=True
    )
    if args.ledger_out:
        d = d.persist()
        d.filter(F.col("status") != "unchanged").write.mode(
            "overwrite"
        ).parquet(args.ledger_out)
    [s] = summarize_diff(d).collect()
    if args.ledger_out:
        d.unpersist()
    summary = s.asDict()
    print(_json.dumps(summary, sort_keys=True))
    violations = []
    if args.forbid_added and summary["n_added"] > 0:
        violations.append(f"n_added={summary['n_added']}")
    if args.forbid_removed and summary["n_removed"] > 0:
        violations.append(f"n_removed={summary['n_removed']}")
    if violations:
        print(
            f"corpus_diff gate violated: {', '.join(violations)}",
            file=sys.stderr,
        )
        raise SystemExit(3)


def cmd_bpe_train(args) -> None:
    """Learn BPE merges over a documents parquet and save them as a
    JSON artifact (ordered [[left, right], ...] plus the settings that
    produced them) — the vocabulary-learning step; `tokenize` consumes
    the artifact."""
    import json as _json

    from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
        train_bpe,
    )

    spark = get_spark(app_name="bpe_train")
    docs = spark.read.parquet(args.input)
    merges = train_bpe(
        docs,
        n_merges=args.n_merges,
        text_col=args.text_col,
        merges_per_round=args.merges_per_round,
    )
    with open(args.output, "w") as f:
        _json.dump(
            {
                "merges": [list(m) for m in merges],
                "n_merges": len(merges),
                "text_col": args.text_col,
                "merges_per_round": args.merges_per_round,
            },
            f,
        )
    print(f"learned {len(merges)} merges -> {args.output}")


def cmd_tokenize(args) -> None:
    """Encode a documents parquet with a saved merge artifact: writes
    the corpus with a `bpe_tokens` column and prints the one-row
    tokenizer_efficiency report as JSON (bytes/token is the number a
    token-budget plan needs)."""
    import json as _json

    from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
        bpe_encode,
        tokenizer_efficiency,
    )

    spark = get_spark(app_name="tokenize")
    with open(args.merges) as f:
        artifact = _json.load(f)
    merges = [tuple(m) for m in artifact["merges"]]
    # the artifact records the column the merges were LEARNED on;
    # default to it so mismatched-column encodes need an explicit ask
    text_col = args.text_col or artifact.get("text_col", "text")
    if args.text_col and args.text_col != artifact.get("text_col"):
        print(
            f"warning: encoding column {args.text_col!r} with merges "
            f"learned on {artifact.get('text_col')!r}",
            file=sys.stderr,
        )
    docs = spark.read.parquet(args.input)
    bpe_encode(docs, merges, text_col=text_col).write.mode(
        "overwrite"
    ).parquet(args.output)
    [row] = tokenizer_efficiency(
        docs, merges, text_col=text_col
    ).collect()
    print(_json.dumps(row.asDict(), sort_keys=True))


def cmd_sample(args) -> None:
    """Deterministic corpus sampling from the shell: exact-k uniform
    (default), or per-stratum exact-k / per-stratum fraction with
    --strata-col — the 'give me N random docs to eyeball / tune
    thresholds on' workflow, bit-identical on re-run with the same
    seed."""
    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        sample_exact_k,
        sample_stratified,
    )

    if (args.k is None) == (args.fraction is None):
        raise SystemExit("pass exactly one of --k / --fraction")
    if args.fraction is not None and args.strata_col is None:
        raise SystemExit("--fraction needs --strata-col")

    spark = get_spark(app_name="sample")
    docs = spark.read.parquet(args.input)
    if args.strata_col is not None:
        out = sample_stratified(
            docs, args.strata_col,
            k=args.k, fraction=args.fraction,
            seed=args.seed, id_col=args.id_col,
        )
    else:
        out = sample_exact_k(docs, args.k, seed=args.seed, id_col=args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"sampled {n} rows -> {args.output}")


def main() -> None:
    p = argparse.ArgumentParser(prog="run_pipeline")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest_capacity")
    pi.add_argument("--input", required=True)
    pi.add_argument("--lake", required=True)
    pi.add_argument("--source", default="manual-upload")
    pi.set_defaults(fn=cmd_ingest)

    pm = sub.add_parser("compute_metrics")
    pm.add_argument("--lake", required=True)
    pm.add_argument("--source", default="metrics-job")
    pm.set_defaults(fn=cmd_metrics)

    ps = sub.add_parser("stream_ingest")
    ps.add_argument("--input-dir", required=True)
    ps.add_argument("--lake", required=True)
    ps.set_defaults(fn=cmd_stream_ingest)

    # reference seed.py: idempotent Test Region + run-log + capacity row
    pe = sub.add_parser("seed")
    pe.add_argument("--lake", required=True)
    pe.set_defaults(fn=cmd_seed)

    pq = sub.add_parser("query")
    pq.add_argument(
        "endpoint",
        choices=[
            "runs",
            "capacity_latest",
            "metrics_latest",
            "metrics_compare",
            "available_dates",
            "coverage",
            "coverage_best_date",
        ],
    )
    pq.add_argument("--lake", required=True)
    pq.add_argument("--date", default=None)
    pq.add_argument("--min-rows", type=int, default=1)
    pq.add_argument("--full", action="store_true")
    pq.add_argument("--csv-out", default=None)
    pq.set_defaults(fn=cmd_query)

    pc = sub.add_parser("curate")
    pc.add_argument("--input", required=True, help="documents parquet path")
    pc.add_argument("--output", required=True, help="packed-chunk parquet out")
    pc.add_argument(
        "--manifest-out", default=None,
        help="also write the per-shard accounting manifest here "
        "(operators/packing.py::shard_manifest)",
    )
    pc.add_argument("--budget", type=int, default=2048)
    pc.add_argument("--shards", type=int, default=32)
    pc.add_argument("--seed", type=int, default=0)
    pc.add_argument("--near-dup-threshold", type=float, default=0.9)
    pc.add_argument(
        "--html-col",
        default=None,
        help="treat this column as raw HTML: extract text from it as "
        "the first pipeline stage (crawl ingest)",
    )
    pc.add_argument(
        "--near-dup-policy",
        choices=["lowest_id", "best_quality"],
        default="lowest_id",
        help="near-dup survivor: lowest doc_id (cheap, default) or the "
        "best quality_score member per duplicate cluster",
    )
    pc.add_argument("--span-delim", default=None)
    pc.add_argument("--max-per-source", type=int, default=None)
    pc.add_argument("--substring-min-tokens", type=int, default=None)
    pc.add_argument(
        "--url-col", default=None,
        help="column holding each doc's URL; enables exact-URL dedup",
    )
    pc.add_argument(
        "--gopher", action="store_true",
        help="use the published Gopher/C4 quality rules as the funnel",
    )
    pc.add_argument("--no-split", action="store_true")
    pc.add_argument(
        "--trusted-docs", default=None,
        help="parquet of trusted docs to train the CCNet LM gate on",
    )
    pc.add_argument("--max-perplexity", type=float, default=None)
    pc.add_argument(
        "--probe-train", default=None,
        help="labeled parquet (doc_id, text, label) to train the "
        "model-based quality gate on",
    )
    pc.add_argument(
        "--probe-weights", default=None,
        help="saved probe artifact (save_text_probe JSON) to gate with",
    )
    pc.add_argument("--save-probe", default=None,
                    help="write the trained probe artifact here")
    pc.add_argument("--min-probe-score", type=float, default=None,
                    help="probe gate threshold (default 0.5 when a "
                    "probe source is given; error without one)")
    pc.add_argument("--probe-dim", type=int, default=None,
                    help="featurization dim for --probe-train "
                    "(default 128; --probe-weights carries its own)")
    pc.add_argument(
        "--run-dir", default=None,
        help="durable stage-artifact directory: a rerun with the same "
        "--run-dir and config resumes after a crash instead of "
        "recomputing completed stages (one run-dir per corpus "
        "snapshot + side-input set)",
    )
    pc.set_defaults(fn=cmd_curate)

    pw = sub.add_parser("warc_ingest")
    pw.add_argument(
        "--input", required=True,
        help="WARC path, glob, or comma-separated list",
    )
    pw.add_argument("--output", required=True, help="documents parquet out")
    pw.add_argument("--cdx-out", default=None,
                    help="also write the CDX capture index here")
    pw.add_argument(
        "--wet", action="store_true",
        help="input is WET (pre-extracted text; conversion records) — "
             "output column is `text`, not `html`",
    )
    pw.add_argument("--parallelism", type=int, default=None)
    pw.set_defaults(fn=cmd_warc_ingest)

    pdi = sub.add_parser("dedup_index")
    pdi.add_argument("--input", help="documents parquet path")
    pdi.add_argument("--output", required=True, help="signature index out")
    pdi.add_argument("--num-hashes", type=int, default=32)
    pdi.add_argument("--shingle-k", type=int, default=3,
                     help="word-shingle size; recorded on the artifact "
                     "so dedup_filter probes with the same k")
    _add_index_lifecycle_args(pdi)
    pdi.set_defaults(fn=cmd_dedup_index)

    kinds = ["image", "audio", "video"]
    pfx = sub.add_parser("fp_index")
    pfx.add_argument("--kind", required=True, choices=kinds)
    pfx.add_argument("--input",
                     help="media parquet (media_id, payload binary)")
    pfx.add_argument("--output", required=True,
                     help="fingerprint index artifact dir")
    pfx.add_argument("--algo", choices=["dhash", "ahash"],
                     help="image/video: per-frame hash (default dhash)")
    pfx.add_argument("--hash-size", type=int,
                     help="image/video: hash grid side, bits = size² "
                     "(default 8)")
    pfx.add_argument("--n-samples", type=int,
                     help="video: frames sampled per clip for the "
                     "majority vote (default 8)")
    pfx.add_argument("--fake-decode", action="store_true",
                     help="deterministic payload-hash stand-in bits for "
                     "payloads the native decoders cannot handle")
    _add_index_lifecycle_args(pfx)
    pfx.set_defaults(fn=cmd_fp_index)

    pff = sub.add_parser("fp_filter")
    pff.add_argument("--kind", required=True, choices=kinds)
    pff.add_argument("--input", required=True,
                     help="NEW media parquet (media_id, payload)")
    pff.add_argument("--index", required=True,
                     help="index dir from fp_index of the same --kind "
                     "(params come from the artifact tag)")
    pff.add_argument("--output", required=True,
                     help="survivors parquet out")
    pff.add_argument("--max-hamming", type=int,
                     help="default per kind: image 3, audio 4, video 4")
    pff.add_argument("--max-bucket", type=int, default=1024,
                     help="hot-bucket membership cap for the banded "
                     "gate join (0 disables the cap and restores "
                     "the exact uncapped definition); dropped-bucket"
                     " counts print with the kept line")
    pff.add_argument("--fake-decode", action="store_true")
    pff.add_argument("--append-survivors", action="store_true",
                     help="append the survivors' fingerprints to --index "
                     "so the next batch dedups against them too")
    pff.set_defaults(fn=cmd_fp_filter)

    ppd = sub.add_parser("pdf_extract")
    ppd.add_argument("--input", required=True,
                     help="media parquet (media_id, payload binary)")
    ppd.add_argument("--output", required=True,
                     help="documents parquet out")
    ppd.add_argument("--fake-decode", action="store_true",
                     help="deterministic stand-in for encrypted / "
                     "exotic-filter PDFs instead of the loud error")
    ppd.set_defaults(fn=cmd_pdf_extract)

    pcm_ = sub.add_parser("curate_media")
    pcm_.add_argument("--input", required=True,
                      help="media parquet (media_id, payload binary)")
    pcm_.add_argument("--output", required=True,
                      help="survivors parquet out")
    pcm_.add_argument("--image-max-hamming", type=int, default=3)
    pcm_.add_argument("--audio-max-hamming", type=int, default=4)
    pcm_.add_argument("--video-max-hamming", type=int, default=4)
    pcm_.add_argument("--fake-decode", action="store_true")
    pcm_.add_argument("--pdf-text-stage", action="store_true",
                      help="route native PDFs through the TEXT near-dup "
                      "gate (extract_pdf_text -> MinHash-LSH, same id "
                      "space) so a re-serialized PDF with identical text "
                      "dedups even though its bytes differ")
    pcm_.add_argument("--pdf-near-dup-threshold", type=float, default=0.9)
    pcm_.set_defaults(fn=cmd_curate_media)

    pdf_ = sub.add_parser("dedup_filter")
    pdf_.add_argument("--input", required=True, help="NEW documents parquet")
    pdf_.add_argument("--index", required=True, help="signature index path")
    pdf_.add_argument("--output", required=True, help="survivors parquet out")
    pdf_.add_argument("--threshold", type=float, default=0.5)
    pdf_.add_argument("--num-hashes", type=int, default=32)
    pdf_.set_defaults(fn=cmd_dedup_filter)

    pai = sub.add_parser("ann_index")
    pai.add_argument("--embeddings",
                     help="embeddings parquet (id + vector columns); "
                     "required except with --remove/--compact")
    pai.add_argument("--output", required=True, help="index artifact dir")
    pai.add_argument("--clusters", type=int, default=16)
    pai.add_argument("--m", type=int, default=8,
                     help="PQ subspaces (bytes per vector)")
    pai.add_argument("--codes", type=int, default=16,
                     help="codewords per subspace")
    pai.add_argument("--iters", type=int, default=3)
    pai.add_argument("--id-col", default="vec_id")
    pai.add_argument("--vec-col", default="embedding")
    pai.add_argument("--append", action="store_true",
                     help="treat --embeddings as a DELTA batch: encode "
                     "it under the existing index's centroids/codebooks "
                     "and append to --output (which must already hold a "
                     "completed build); prints the drift report JSON. "
                     "--clusters/--m/--codes/--iters are ignored")
    pai.add_argument("--drift", action="store_true",
                     help="READ-ONLY drift probe: route --embeddings "
                     "through the existing index's fits and print the "
                     "drift report JSON without appending anything — "
                     "the nightly refit-or-not monitoring check")
    _add_index_lifecycle_args(pai)
    pai.set_defaults(fn=cmd_ann_index)

    pfk = sub.add_parser("index_fsck")
    pfk.add_argument("--path", required=True, nargs="+",
                     help="one or more index artifact dirs to check")
    pfk.set_defaults(fn=cmd_index_fsck)

    pst = sub.add_parser("ann_stream")
    pst.add_argument("--landing", required=True,
                     help="directory where embedding parquet files land")
    pst.add_argument("--index", required=True,
                     help="ann_index artifact dir (must be built)")
    pst.add_argument("--ledger", required=True,
                     help="drift-ledger sink dir (checkpoint inside)")
    pst.add_argument("--schema",
                     default="vec_id long, embedding array<float>")
    pst.add_argument("--vec-col", default="embedding")
    pst.set_defaults(fn=cmd_ann_stream)

    pas = sub.add_parser("ann_search")
    pas.add_argument("--index", required=True, help="ann_index artifact dir")
    pas.add_argument("--queries", required=True,
                     help="queries parquet (query_id + vector)")
    pas.add_argument("--output", required=True, help="results parquet out")
    pas.add_argument("--k", type=int, default=10)
    pas.add_argument("--nprobe", type=int, default=4)
    pas.add_argument("--query-id-col", default="query_id")
    pas.add_argument("--vec-col", default="embedding")
    pas.add_argument("--exclude-self", action="store_true",
                     help="drop query_id == corpus id matches (corpus "
                     "self-query mode)")
    pas.set_defaults(fn=cmd_ann_search)

    ppc = sub.add_parser("plan_crawl")
    ppc.add_argument("--sitemap", required=True,
                     help="sitemap xml(.gz) file, glob, or directory")
    ppc.add_argument("--fetched",
                     help="fetch-history parquet (url, fetch_ts); omit "
                     "for a first crawl (everything is 'new')")
    ppc.add_argument("--robots",
                     help="robots.txt bodies parquet (domain, "
                     "robots_txt); omit to skip the politeness gate")
    ppc.add_argument("--user-agent", default="*",
                     help="our crawler's product token for robots group "
                     "selection")
    ppc.add_argument("--output", required=True,
                     help="fetch-plan parquet out")
    ppc.add_argument("--schedule", action="store_true",
                     help="also assign the fetchable rows wave + "
                     "earliest_fetch_offset_s (schedule_fetch x "
                     "robots_crawl_delays via fetch_timeline)")
    ppc.add_argument("--per-domain-per-wave", type=int, default=1,
                     help="per-host concurrency bound for --schedule")
    ppc.add_argument("--default-delay-s", type=float, default=1.0,
                     help="inter-wave seconds for hosts declaring no "
                     "Crawl-delay (--schedule)")
    ppc.set_defaults(fn=cmd_plan_crawl)

    pcd = sub.add_parser("corpus_diff")
    pcd.add_argument("--old", required=True, help="old snapshot parquet")
    pcd.add_argument("--new", required=True, help="new snapshot parquet")
    pcd.add_argument("--id-col", default="doc_id")
    pcd.add_argument("--text-col", default="text")
    pcd.add_argument(
        "--ledger-out", default=None,
        help="optional per-doc added/removed/changed ledger parquet",
    )
    pcd.add_argument(
        "--forbid-added", action="store_true",
        help="exit 3 if any doc was added (takedown-run invariant)",
    )
    pcd.add_argument(
        "--forbid-removed", action="store_true",
        help="exit 3 if any doc was removed (append-only invariant)",
    )
    pcd.set_defaults(fn=cmd_corpus_diff)

    pbt = sub.add_parser("bpe_train")
    pbt.add_argument("--input", required=True, help="documents parquet")
    pbt.add_argument("--output", required=True, help="merges JSON out")
    pbt.add_argument("--n-merges", type=int, default=1000)
    pbt.add_argument("--text-col", default="text")
    pbt.add_argument("--merges-per-round", type=int, default=8)
    pbt.set_defaults(fn=cmd_bpe_train)

    ptk = sub.add_parser("tokenize")
    ptk.add_argument("--input", required=True, help="documents parquet")
    ptk.add_argument("--merges", required=True, help="merges JSON artifact")
    ptk.add_argument("--output", required=True, help="tokenized parquet out")
    ptk.add_argument(
        "--text-col", default=None,
        help="defaults to the column the artifact was trained on",
    )
    ptk.set_defaults(fn=cmd_tokenize)

    psm = sub.add_parser("sample")
    psm.add_argument("--input", required=True, help="documents parquet")
    psm.add_argument("--output", required=True, help="sample parquet out")
    psm.add_argument("--k", type=int, default=None)
    psm.add_argument("--fraction", type=float, default=None)
    psm.add_argument(
        "--strata-col", default=None,
        help="sample per-stratum (exact k or fraction per stratum)",
    )
    psm.add_argument("--seed", type=int, default=0)
    psm.add_argument("--id-col", default="doc_id")
    psm.set_defaults(fn=cmd_sample)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()

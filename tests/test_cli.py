"""CLI integration (SURVEY.md §2.11 entry points + §2.1 presentation
sinks): one subprocess pipeline run covering ingest_capacity,
compute_metrics, query with JSON output (op-sink-json) and --csv-out
(op-sink-csv-export, writer-handled quoting/header).

One test function = two JVM boots (~40 s); kept to a single flow on
purpose — the endpoint semantics themselves are pinned by the cheaper
api_queries tests.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = os.path.join(REPO, "scripts", "run_pipeline.py")


def _run(*args: str) -> str:
    out = subprocess.run(
        [sys.executable, CLI, *args],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_cli_ingest_metrics_query_json_and_csv(tmp_path):
    lake = str(tmp_path / "lake")
    batch = tmp_path / "batch.csv"
    batch.write_text(
        "date,state,inpatient_beds,inpatient_beds_used,"
        "total_staffed_adult_icu_beds,staffed_adult_icu_bed_occupancy\n"
        '2026-03-01,"R, quoted",200,150,20,10\n'
        "2026-03-01,PLAIN,100,50,10,5\n"
    )
    out = _run("ingest_capacity", "--input", str(batch), "--lake", lake)
    assert "rows_loaded=2" in out and "rows_rejected=0" in out
    out = _run("compute_metrics", "--lake", lake)
    assert "rows_loaded=2" in out

    # op-sink-json: one JSON object per row + op-sink-csv-export: the
    # writer must round-trip a comma-carrying region name via quoting
    csv_dir = str(tmp_path / "csv_out")
    json_out = _run("query", "metrics_latest", "--lake", lake)
    rows = [json.loads(line) for line in json_out.strip().splitlines() if line.startswith("{")]
    assert {r["region"] for r in rows} == {"R, quoted", "PLAIN"}

    _run("query", "metrics_latest", "--lake", lake, "--csv-out", csv_dir)
    [part] = glob.glob(os.path.join(csv_dir, "part*.csv"))
    with open(part, newline="") as f:
        recs = list(csv.DictReader(f))
    assert {r["region"] for r in recs} == {"R, quoted", "PLAIN"}
    assert all(r["strain_index"] for r in recs)


def test_cli_curate_writes_packed_corpus(tmp_path):
    """The curate subcommand must run the full recipe over a documents
    parquet and emit stream-ordered packed chunks + the attrition
    report on stdout."""
    import subprocess
    import sys

    import duckdb

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "packed")
    manifest = str(tmp_path / "manifest")
    proc = subprocess.run(
        [
            sys.executable,
            "scripts/run_pipeline.py",
            "curate",
            "--input", src,
            "--output", out,
            "--manifest-out", manifest,
            "--budget", "256",
            "--shards", "4",
            "--max-per-source", "20",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = dict(
        line.split("=", 1)
        for line in proc.stdout.splitlines()
        if "=" in line and not line.startswith("wrote")
    )
    assert int(report["total"]) == 500
    assert int(report["after_source_cap"]) <= 500
    assert int(report["chunks"]) > 0
    # the machine-readable JSON twin carries the operational
    # telemetry: CC rounds (None under lowest_id) and the near-dup
    # hot-bucket drop count (0 on this healthy corpus)
    import json as _json

    jrep = _json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert "cc_iterations" in jrep
    assert jrep["hot_buckets_dropped"] == 0
    assert jrep["packed_tokens"] == int(report["packed_tokens"])
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n > 0
    # the manifest sidecar reconciles against the written corpus AND
    # the stdout report — same token total, every shard accounted
    man = duckdb.sql(
        f"SELECT count(*), CAST(sum(n_tokens) AS BIGINT) "
        f"FROM '{manifest}/*.parquet'"
    ).fetchone()
    assert man[0] == 4
    assert man[1] == int(report["packed_tokens"])


def test_cli_curate_with_perplexity_gate(tmp_path):
    """--trusted-docs/--max-perplexity wire the CCNet gate through the
    CLI: a tight bound drops part of the corpus and the report shows
    the stage attrition."""
    import subprocess
    import sys

    import duckdb

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "packed_ppl")
    proc = subprocess.run(
        [
            sys.executable, "scripts/run_pipeline.py", "curate",
            "--input", src, "--output", out,
            "--budget", "256", "--shards", "2",
            "--trusted-docs", src,
            "--max-perplexity", "30",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = dict(
        line.split("=", 1)
        for line in proc.stdout.splitlines()
        if "=" in line and not line.startswith("wrote")
    )
    assert report["after_perplexity"] != "None"
    assert int(report["after_perplexity"]) <= int(report["after_near_dedup"])
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n > 0


def test_cli_dedup_index_and_filter(tmp_path):
    """Incremental-dedup deployment flow: build the signature index
    over a corpus, then gate a new batch (one exact copy + one fresh
    doc) against it — the copy drops, the fresh doc survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = tmp_path / "corpus.parquet"
    new = tmp_path / "new.parquet"
    idx = str(tmp_path / "sig_index")
    out = str(tmp_path / "kept")
    shared = "the quick brown fox jumps over the lazy dog again and again"
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": [shared, "totally different words here"]}),
        corpus,
    )
    pq.write_table(
        pa.table({"doc_id": [10, 11],
                  "text": [shared, "fresh unseen content entirely new phrasing"]}),
        new,
    )
    _run("dedup_index", "--input", str(corpus), "--output", idx)
    stdout = _run(
        "dedup_filter", "--input", str(new), "--index", idx,
        "--output", out, "--threshold", "0.5",
    )
    assert "kept 1/2" in stdout
    kept = pq.read_table(glob.glob(os.path.join(out, "*.parquet"))[0])
    assert kept.column("doc_id").to_pylist() == [11]


def test_cli_curate_gopher_funnel(tmp_path):
    """--gopher swaps the funnel for the published rule battery; the
    report carries per-rule attrition names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    good = (
        "The quick brown fox jumps over the lazy dog and runs to the "
        "river bank where it finds that the water is cold and clear. "
        "Every animal in the forest seems to have come down with the "
        "same idea today. The fox waits until the bears have finished "
        "drinking before it steps forward to take a long drink of the "
        "cool water itself."
    )
    src = tmp_path / "docs.parquet"
    out = str(tmp_path / "packed")
    pq.write_table(
        pa.table({
            "doc_id": [1, 2, 3],
            "text": [good, "too short", good + " {json: true}"],
        }),
        src,
    )
    stdout = _run(
        "curate", "--input", str(src), "--output", out,
        "--budget", "64", "--shards", "2", "--gopher",
    )
    report = dict(
        line.split("=", 1) for line in stdout.splitlines() if "=" in line
    )
    assert report["total"] == "3"
    assert report["after_quality"] == "1"  # 2 fails word_count, 3 curly
    n = len(glob.glob(os.path.join(out, "*.parquet")))
    assert n > 0


def test_cli_curate_probe_gate(tmp_path):
    """--probe-train trains the model-based quality gate from a
    labeled parquet, --save-probe persists the artifact, and a second
    run gates with --probe-weights alone — same survivors both ways."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    good_words = ["clear", "concise", "prose", "article", "reference"]
    junk_words = ["zzz", "spam", "click", "buy", "winner"]
    rows_id, rows_text, rows_label = [], [], []
    for i in range(40):
        rows_id += [2 * i, 2 * i + 1]
        rows_text += [
            " ".join(good_words[(i + j) % 5] for j in range(8)),
            " ".join(junk_words[(i + j) % 5] for j in range(8)),
        ]
        rows_label += [1.0, 0.0]
    train = tmp_path / "train.parquet"
    pq.write_table(
        pa.table({"doc_id": rows_id, "text": rows_text, "label": rows_label}),
        train,
    )
    cid, ctext = [], []
    for i in range(6):
        cid += [1000 + 2 * i, 1000 + 2 * i + 1]
        ctext += [
            " ".join(good_words[(i + j) % 5] for j in range(8))
            + f" uniq{i}a uniq{i}b uniq{i}c",
            " ".join(junk_words[(i + j) % 5] for j in range(8))
            + f" sep{i}a sep{i}b sep{i}c",
        ]
    src = tmp_path / "docs.parquet"
    pq.write_table(pa.table({"doc_id": cid, "text": ctext}), src)

    probe = str(tmp_path / "probe.json")
    out1 = str(tmp_path / "packed1")
    stdout = _run(
        "curate", "--input", str(src), "--output", out1,
        "--budget", "64", "--shards", "2",
        "--probe-train", str(train), "--save-probe", probe,
        "--min-probe-score", "0.5", "--probe-dim", "64",
    )
    report = dict(
        line.split("=", 1) for line in stdout.splitlines() if "=" in line
    )
    assert report["after_quality_probe"] == "6"  # junk half dropped

    art = json.load(open(probe))
    assert art["dim"] == 64 and len(art["weights"]) == 64

    out2 = str(tmp_path / "packed2")
    stdout2 = _run(
        "curate", "--input", str(src), "--output", out2,
        "--budget", "64", "--shards", "2",
        "--probe-weights", probe, "--min-probe-score", "0.5",
    )
    report2 = dict(
        line.split("=", 1) for line in stdout2.splitlines() if "=" in line
    )
    assert report2["after_quality_probe"] == "6"


def test_cli_curate_probe_flag_pairing_fails_loud(tmp_path):
    """Probe flags without a probe source (or conflicting sources)
    must error, not silently write an unfiltered corpus — the same
    contract as the perplexity gate's paired params."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "docs.parquet"
    pq.write_table(
        pa.table({"doc_id": [1], "text": ["some words here okay"]}), src
    )
    out = str(tmp_path / "packed")

    def _expect_error(*extra):
        proc = subprocess.run(
            [sys.executable, CLI, "curate", "--input", str(src),
             "--output", out, *extra],
            capture_output=True, text=True, timeout=240, cwd=REPO,
        )
        assert proc.returncode != 0
        assert "probe" in proc.stderr.lower()

    _expect_error("--min-probe-score", "0.9")       # no source
    _expect_error("--probe-dim", "64")              # no source
    _expect_error("--save-probe", str(tmp_path / "p.json"))  # no train
    _expect_error(
        "--probe-train", str(src), "--probe-weights", str(src)
    )                                                # conflicting sources


def test_cli_warc_ingest_roundtrip(tmp_path):
    """warc_ingest parses a crawl file to the documents parquet the
    curate command consumes, writes the optional CDX sidecar, and its
    doc_ids match the library's warc_to_documents exactly."""
    import pyarrow.parquet as pq

    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        http_response_block,
        write_warc,
    )

    wf = str(tmp_path / "crawl.warc.gz")
    write_warc(
        wf,
        [
            {
                "warc_type": "response",
                "target_uri": f"http://c.example/{i}",
                "warc_date": "2026-08-15T00:00:00Z",
                "content_type": "application/http; msgtype=response",
                "block": http_response_block(
                    f"<html><body>page {i} body words here</body></html>".encode()
                ),
            }
            for i in range(3)
        ],
    )
    out = str(tmp_path / "docs")
    cdx = str(tmp_path / "cdx")
    stdout = _run(
        "warc_ingest", "--input", wf, "--output", out, "--cdx-out", cdx
    )
    assert "ingested 3 response records" in stdout
    docs = pq.read_table(out).to_pylist()
    assert len(docs) == 3 and len({d["doc_id"] for d in docs}) == 3
    assert {d["url"] for d in docs} == {f"http://c.example/{i}" for i in range(3)}
    assert all("<body>" in d["html"] for d in docs)
    idx = pq.read_table(cdx).to_pylist()
    assert len(idx) == 3
    assert all(r["http_status"] == 200 for r in idx)


def test_cli_warc_ingest_wet(tmp_path):
    """warc_ingest --wet parses CommonCrawl's pre-extracted text
    sidecar (conversion records) into a `text`-column documents
    parquet, dropping the warcinfo preamble by type."""
    import pyarrow.parquet as pq

    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        write_warc,
    )

    wf = str(tmp_path / "crawl.warc.wet.gz")
    write_warc(
        wf,
        [
            {
                "warc_type": "warcinfo",
                "block": b"software: test-rig/1.0\r\n",
                "content_type": "application/warc-fields",
            },
            *[
                {
                    "warc_type": "conversion",
                    "target_uri": f"http://w.example/{i}",
                    "warc_date": "2026-08-15T00:00:00Z",
                    "content_type": "text/plain",
                    "block": f"extracted text for page {i}".encode(),
                }
                for i in range(3)
            ],
        ],
    )
    out = str(tmp_path / "docs")
    stdout = _run("warc_ingest", "--input", wf, "--output", out, "--wet")
    assert "ingested 3 conversion records" in stdout
    docs = pq.read_table(out).to_pylist()
    assert len(docs) == 3 and len({d["doc_id"] for d in docs}) == 3
    assert {d["text"] for d in docs} == {
        f"extracted text for page {i}" for i in range(3)
    }


def test_cli_corpus_diff_gate(tmp_path, spark, sf_dir):
    """corpus_diff prints the summary JSON, lands the ledger, and the
    --forbid-added gate exits 3 on a refresh that added docs."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    docs.write.parquet(old_p)
    # takedown-shaped refresh: removals only
    docs.filter(F.col("doc_id") % 3 != 0).write.parquet(new_p)

    ledger = str(tmp_path / "ledger")
    out = _run(
        "corpus_diff", "--old", old_p, "--new", new_p,
        "--ledger-out", ledger, "--forbid-added",
    )
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["n_added"] == 0 and summary["n_removed"] > 0
    statuses = {
        r["status"]
        for r in spark.read.parquet(ledger).select("status").collect()
    }
    assert statuses == {"removed"}

    # now an add-carrying refresh must trip the gate with exit 3
    added_p = str(tmp_path / "with_add")
    docs.unionByName(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        .limit(1)
    ).write.parquet(added_p)
    proc = subprocess.run(
        [sys.executable, CLI, "corpus_diff", "--old", old_p,
         "--new", added_p, "--forbid-added"],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    assert proc.returncode == 3, proc.stderr[-500:]
    assert "gate violated" in proc.stderr


def test_cli_bpe_train_and_tokenize(tmp_path, spark, sf_dir):
    """Tokenizer lifecycle through the CLI: train merges -> JSON
    artifact -> tokenize prints the efficiency report and lands the
    encoded corpus; the report's token total equals the sum of the
    encoded array lengths."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    merges_path = str(tmp_path / "merges.json")
    out = _run(
        "bpe_train", "--input", src, "--output", merges_path,
        "--n-merges", "12", "--merges-per-round", "4",
    )
    assert "learned" in out
    artifact = json.loads(open(merges_path).read())
    assert 0 < artifact["n_merges"] <= 12
    assert all(len(m) == 2 for m in artifact["merges"])

    enc = str(tmp_path / "encoded")
    out = _run(
        "tokenize", "--input", src, "--merges", merges_path,
        "--output", enc,
    )
    report = json.loads(out.strip().splitlines()[-1])
    assert report["n_tokens"] > 0 and report["bytes_per_token"] > 0
    got = spark.read.parquet(enc)
    assert "bpe_tokens" in got.columns
    [tot] = got.agg(
        F.sum(F.size("bpe_tokens")).alias("n")
    ).collect()
    assert tot["n"] == report["n_tokens"]


def test_cli_sample_exact_and_stratified(tmp_path, spark, sf_dir):
    """sample: exact-k is deterministic across re-runs with one seed;
    stratified mode draws exactly k per stratum; mispaired flags fail
    loudly."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    out1 = str(tmp_path / "s1")
    _run("sample", "--input", src, "--output", out1, "--k", "17")
    out2 = str(tmp_path / "s2")
    _run("sample", "--input", src, "--output", out2, "--k", "17")
    ids1 = sorted(r["doc_id"] for r in spark.read.parquet(out1).collect())
    ids2 = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert ids1 == ids2 and len(ids1) == 17

    out3 = str(tmp_path / "s3")
    _run(
        "sample", "--input", src, "--output", out3,
        "--k", "4", "--strata-col", "lang",
    )
    per = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(out3)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(per.values()) == {4} and len(per) == 3

    bad = subprocess.run(
        [sys.executable, CLI, "sample", "--input", src,
         "--output", str(tmp_path / "s4")],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    assert bad.returncode != 0
    assert "exactly one of --k / --fraction" in bad.stderr


def test_cli_curate_run_dir_resume(tmp_path):
    """--run-dir writes stage artifacts and a rerun with the same
    config resumes from them (identical report, upstream markers not
    rewritten)."""
    src = "/root/testdata/sf0.001/documents.parquet"
    run_dir = str(tmp_path / "rundir")
    args = [
        "curate",
        "--input", src,
        "--output", str(tmp_path / "packed"),
        "--budget", "256",
        "--shards", "4",
        "--max-per-source", "20",
        "--run-dir", run_dir,
    ]

    def _report(stdout):
        return dict(
            line.split("=", 1)
            for line in stdout.splitlines()
            if "=" in line and not line.startswith("wrote")
        )

    rep1 = _report(_run(*args))
    marker = os.path.join(run_dir, "exact_keep", "_STAGE_OK")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(marker)

    rep2 = _report(_run(*args))
    # execution telemetry is None on resume BY DESIGN (the stage
    # loaded from its artifact instead of running, so there is no
    # drop count to report) — compare the data fields exactly and the
    # telemetry field by its resume contract
    assert rep1.pop("hot_buckets_dropped") == "0"
    assert rep2.pop("hot_buckets_dropped") == "None"
    assert rep2 == rep1
    assert os.path.getmtime(marker) == mtime, (
        "exact_keep recomputed on resume — artifact should have loaded"
    )


def test_cli_ann_index_and_search(tmp_path):
    """ann_index persists the IVF-PQ artifact; ann_search serves top-k
    from it — k rows per query, distances ascending per query."""
    import duckdb

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ann")
    out = str(tmp_path / "hits")
    _run(
        "ann_index", "--embeddings", emb, "--output", idx,
        "--clusters", "4", "--m", "8", "--codes", "16", "--iters", "1",
    )
    assert os.path.isdir(os.path.join(idx, "codes"))

    queries = str(tmp_path / "queries")
    duckdb.sql(
        f"COPY (SELECT vec_id AS query_id, embedding FROM '{emb}' "
        f"ORDER BY vec_id LIMIT 3) TO '{queries}' (FORMAT PARQUET)"
    )
    # duckdb writes a single file; the CLI reads a parquet path
    _run(
        "ann_search", "--index", idx, "--queries", queries,
        "--output", out, "--k", "5", "--nprobe", "4",
    )
    rows = duckdb.sql(
        f"SELECT query_id, count(*) AS n FROM '{out}/*.parquet' "
        f"GROUP BY query_id"
    ).fetchall()
    assert len(rows) == 3 and all(n == 5 for _, n in rows)
    ordered = duckdb.sql(
        f"SELECT count(*) FROM (SELECT *, lag(adc_dist) OVER "
        f"(PARTITION BY query_id ORDER BY adc_dist) AS prev "
        f"FROM '{out}/*.parquet') WHERE prev > adc_dist"
    ).fetchone()[0]
    assert ordered == 0


def test_cli_ann_index_append(tmp_path):
    """`ann_index --append` encodes a delta under the existing fits,
    grows the codes table by exactly the delta, and prints the drift
    report JSON (the refit gate a nightly cron reads)."""
    import json

    import duckdb

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ann")
    base = str(tmp_path / "base")
    delta = str(tmp_path / "delta")
    duckdb.sql(
        f"COPY (SELECT * FROM '{emb}' WHERE vec_id % 10 != 0) "
        f"TO '{base}' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT * FROM '{emb}' WHERE vec_id % 10 = 0) "
        f"TO '{delta}' (FORMAT PARQUET)"
    )
    _run(
        "ann_index", "--embeddings", base, "--output", idx,
        "--clusters", "4", "--m", "8", "--codes", "16", "--iters", "1",
    )
    n0 = duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0]
    out = _run(
        "ann_index", "--embeddings", delta, "--output", idx, "--append",
    )
    report = json.loads(
        [ln for ln in out.splitlines() if ln.startswith("{")][-1]
    )
    n_delta = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{delta}') "
        f"WHERE embedding IS NOT NULL"
    ).fetchone()[0]
    assert report["appended"] == n_delta
    assert isinstance(report["refit_recommended"], bool)
    n1 = duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0]
    assert n1 == n0 + n_delta


def test_cli_plan_crawl(tmp_path):
    """plan_crawl composes sitemap parse -> recrawl reconciliation ->
    robots gate into one fetch-plan parquet, with the census printed
    and sitemap rejects surfaced, not swallowed."""
    import duckdb

    sitemap = tmp_path / "sitemap.xml"
    sitemap.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "  <url><loc>https://site.example/new-page</loc></url>\n"
        "  <url><loc>https://site.example/stale-page</loc>"
        "<lastmod>2026-02-01T00:00:00+00:00</lastmod></url>\n"
        "  <url><loc>https://site.example/private/new-secret</loc></url>\n"
        "  <url><lastmod>2026-03-01</lastmod></url>\n"  # loc-less: reject
        "</urlset>\n"
    )
    fetched = str(tmp_path / "fetched")
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "('https://site.example/stale-page', TIMESTAMP '2026-01-15'), "
        "('https://site.example/gone-page', TIMESTAMP '2026-01-15')"
        ") t(url, fetch_ts)) TO '" + fetched + "' (FORMAT PARQUET)"
    )
    robots = str(tmp_path / "robots")
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES ('site.example', "
        "'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10))"
        ") t(domain, robots_txt)) TO '" + robots + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "plan")
    text = _run(
        "plan_crawl", "--sitemap", str(sitemap), "--fetched", fetched,
        "--robots", robots, "--output", out,
    )
    assert "sitemap_rejects=1" in text
    assert "fetch_list=2" in text
    rows = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"SELECT url, status, robots_allowed FROM '{out}/*.parquet'"
        ).fetchall()
    }
    assert rows["https://site.example/new-page"] == ("new", True)
    assert rows["https://site.example/stale-page"] == ("stale", True)
    assert rows["https://site.example/private/new-secret"] == (
        "new",
        False,
    )
    assert rows["https://site.example/gone-page"] == ("gone", True)


def test_cli_plan_crawl_schedule(tmp_path):
    """`plan_crawl --schedule` appends the politeness timeline to the
    FETCHABLE rows (wave x Crawl-delay via fetch_timeline) and leaves
    NULL schedule columns on blocked/fresh/gone rows — one parquet
    carries plan AND executable schedule."""
    import duckdb

    sitemap = tmp_path / "sitemap.xml"
    sitemap.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        "  <url><loc>https://site.example/a</loc></url>\n"
        "  <url><loc>https://site.example/b</loc></url>\n"
        "  <url><loc>https://site.example/c</loc></url>\n"
        "  <url><loc>https://site.example/private/x</loc></url>\n"
        "  <url><loc>https://quiet.example/only</loc></url>\n"
        "</urlset>\n"
    )
    robots = str(tmp_path / "robots")
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES ('site.example', "
        "'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10)"
        " || 'Crawl-delay: 4' || chr(10))"
        ") t(domain, robots_txt)) TO '" + robots + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "plan")
    text = _run(
        "plan_crawl", "--sitemap", str(sitemap), "--robots", robots,
        "--output", out, "--schedule", "--default-delay-s", "1.5",
    )
    assert "fetch_list=4" in text
    rows = {
        r[0]: r[1:]
        for r in duckdb.sql(
            "SELECT url, robots_allowed, wave, crawl_delay_s, "
            f"earliest_fetch_offset_s FROM '{out}/*.parquet'"
        ).fetchall()
    }
    # fetchable site.example rows: waves 0..2 (per_domain_per_wave=1,
    # url-ordered), offsets pace by the declared Crawl-delay
    assert rows["https://site.example/a"] == (True, 0, 4.0, 0.0)
    assert rows["https://site.example/b"] == (True, 1, 4.0, 4.0)
    assert rows["https://site.example/c"] == (True, 2, 4.0, 8.0)
    # undeclared-delay host paces by the default (single URL -> wave 0)
    assert rows["https://quiet.example/only"] == (True, 0, 1.5, 0.0)
    # blocked row carries NO schedule — the fetcher must skip it
    assert rows["https://site.example/private/x"] == (
        False, None, None, None,
    )


def test_cli_ann_index_drift(tmp_path):
    """`ann_index --drift` prints the drift report without growing the
    codes table — the read-only monitoring probe."""
    import json

    import duckdb

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ann")
    _run(
        "ann_index", "--embeddings", emb, "--output", idx,
        "--clusters", "4", "--m", "8", "--codes", "16", "--iters", "1",
    )
    n0 = duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0]
    out = _run("ann_index", "--embeddings", emb, "--output", idx, "--drift")
    report = json.loads(
        [ln for ln in out.splitlines() if ln.startswith("{")][-1]
    )
    assert report["appended"] == n0  # probed the same corpus
    assert report["refit_recommended"] is False
    n1 = duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0]
    assert n1 == n0


def test_cli_ann_index_remove_and_compact(tmp_path):
    """`ann_index --remove` tombstones ids (search census shrinks, codes
    untouched) and `--compact` folds them into the codes table — the
    takedown lifecycle end to end through the CLI."""
    import json

    import duckdb

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ann")
    _run(
        "ann_index", "--embeddings", emb, "--output", idx,
        "--clusters", "4", "--m", "8", "--codes", "16", "--iters", "1",
    )
    n0 = duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0]
    ids = str(tmp_path / "takedown")
    duckdb.sql(
        f"COPY (SELECT vec_id FROM read_parquet('{emb}') "
        "WHERE vec_id % 5 = 0) TO '" + ids + "' (FORMAT PARQUET)"
    )
    n_rm = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{emb}') WHERE vec_id % 5 = 0"
    ).fetchone()[0]

    out = _run("ann_index", "--output", idx, "--remove", ids)
    rep = json.loads(
        [ln for ln in out.splitlines() if ln.startswith("{")][-1]
    )
    assert rep["tombstones_total"] == n_rm
    assert rep["compact_recommended"] is True  # 1/5 >= 0.1
    # codes untouched by the tombstone write
    assert duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0] == n0

    out = _run("ann_index", "--output", idx, "--compact")
    crep = json.loads(
        [ln for ln in out.splitlines() if ln.startswith("{")][-1]
    )
    assert crep["compacted"] is True
    assert crep["index_rows_after"] == n0 - n_rm
    assert duckdb.sql(
        f"SELECT count(*) FROM '{idx}/codes/*.parquet'"
    ).fetchone()[0] == n0 - n_rm


def test_cli_curate_media(tmp_path):
    """Mixed-lake curation in one command: exact dup + a cross-codec
    image re-encode drop, a non-native payload passes through, the
    attrition report prints as JSON."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
    )

    px = np.random.RandomState(3).randint(0, 256, size=(16, 18, 3)).astype(
        "uint8"
    )
    other = np.random.RandomState(4).randint(0, 256, size=(16, 18, 3)).astype(
        "uint8"
    )
    lake = tmp_path / "lake.parquet"
    pq.write_table(
        pa.table({
            "media_id": [1, 2, 3, 4, 5],
            "payload": [
                encode_bmp(px),       # base
                encode_bmp(px),       # exact dup -> exact stage
                encode_png(px),       # re-encode -> image tier
                encode_bmp(other),    # kept
                b"opaque bytes",      # unknown -> passes through
            ],
        }),
        lake,
    )
    out_dir = str(tmp_path / "kept")
    out = _run("curate_media", "--input", str(lake), "--output", out_dir)
    rep = json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])
    assert rep["total"] == 5 and rep["after_exact_dedup"] == 4
    assert rep["image_near_dropped"] == 1 and rep["kept"] == 3
    kept = pq.read_table(glob.glob(os.path.join(out_dir, "*.parquet"))[0])
    assert sorted(kept.column("media_id").to_pylist()) == [1, 4, 5]


def test_cli_pdf_extract(tmp_path):
    """PDF lake -> documents parquet in one command; the encrypted
    payload takes the stand-in under --fake-decode and is counted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (
        build_simple_pdf,
    )

    lake = tmp_path / "pdfs.parquet"
    pq.write_table(
        pa.table({
            "media_id": [1, 2],
            "payload": [
                build_simple_pdf([["alpha"], ["beta gamma"]]),
                build_simple_pdf([["locked"]], encrypted=True),
            ],
        }),
        lake,
    )
    out_dir = str(tmp_path / "docs")
    out = _run(
        "pdf_extract", "--input", str(lake), "--output", out_dir,
        "--fake-decode",
    )
    assert "extracted 1/2 pdfs" in out
    docs = pq.read_table(glob.glob(os.path.join(out_dir, "*.parquet"))[0])
    by_id = dict(zip(
        docs.column("media_id").to_pylist(), docs.column("text").to_pylist()
    ))
    assert "alpha" in by_id[1] and "beta gamma" in by_id[1]
    assert by_id[2].startswith("pdf:")


def test_cli_index_fsck(tmp_path):
    """index_fsck CLI: one JSON report per --path; a broken artifact
    reports ok=false instead of failing the sweep."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = tmp_path / "docs.parquet"
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": ["alpha beta", "gamma delta"]}),
        docs,
    )
    idx = str(tmp_path / "mhidx")
    _run("dedup_index", "--input", str(docs), "--output", idx)
    plain = str(tmp_path / "plain")
    pq.write_table(pa.table({"x": [1]}), tmp_path / "plain")

    out = _run("index_fsck", "--path", idx, plain)
    reports = [json.loads(line) for line in out.strip().splitlines()[-2:]]
    assert reports[0]["ok"] is True and reports[0]["kind"] == "minhash"
    assert reports[1]["ok"] is False and "error" in reports[1]

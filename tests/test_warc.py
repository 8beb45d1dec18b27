"""WARC source tests (sources/warc.py): spec round-trip through the
module's own writer (the codec-rig pattern), CommonCrawl-layout gzip
member offsets, HTTP envelope parsing incl. chunked transfer-coding
and charset decode, malformed-record resilience, partitioning
determinism, and the crawl-to-tokens composition into
``curate_documents``."""

from __future__ import annotations

import gzip

import pytest

from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
    http_response_block,
    iter_warc_records,
    read_warc,
    warc_payload_text,
    warc_to_documents,
    write_warc,
)


def _sample_records():
    body_a = b"<html><head><title>A</title></head><body>alpha beta gamma delta epsilon zeta eta theta</body></html>"
    body_b = "<html><body>café résumé and plenty of the usual prose for the funnel</body></html>".encode(
        "latin-1"
    )
    return [
        {
            "warc_type": "warcinfo",
            "block": b"software: test-rig/1.0\r\n",
            "record_id": "<urn:uuid:00000000-0000-0000-0000-000000000001>",
            "warc_date": "2026-08-14T00:00:00Z",
            "content_type": "application/warc-fields",
        },
        {
            "warc_type": "request",
            "block": b"GET / HTTP/1.1\r\nHost: a.example\r\n\r\n",
            "record_id": "<urn:uuid:00000000-0000-0000-0000-000000000002>",
            "target_uri": "http://a.example/",
            "content_type": "application/http; msgtype=request",
        },
        {
            "warc_type": "response",
            "block": http_response_block(body_a),
            "record_id": "<urn:uuid:00000000-0000-0000-0000-000000000003>",
            "target_uri": "http://a.example/",
            "warc_date": "2026-08-14T00:00:01Z",
            "content_type": "application/http; msgtype=response",
        },
        {
            "warc_type": "response",
            "block": http_response_block(
                body_b,
                status=404,
                content_type="text/html; charset=latin-1",
                chunked=True,
            ),
            "record_id": "<urn:uuid:00000000-0000-0000-0000-000000000004>",
            "target_uri": "http://b.example/missing",
            "warc_date": "2026-08-14T00:00:02Z",
            "content_type": "application/http; msgtype=response",
        },
        {
            "warc_type": "metadata",
            "block": b"fetchTimeMs: 12\r\n",
            "record_id": "<urn:uuid:00000000-0000-0000-0000-000000000005>",
            "target_uri": "http://a.example/",
            "content_type": "application/warc-fields",
        },
    ], body_a, body_b


@pytest.mark.parametrize("compress", [True, False], ids=["gz", "plain"])
def test_roundtrip_all_record_types(tmp_path, compress):
    records, body_a, body_b = _sample_records()
    ext = "warc.gz" if compress else "warc"
    path = str(tmp_path / f"rt.{ext}")
    offsets = write_warc(path, records, compress=compress)

    got = list(iter_warc_records(path))
    assert [o for o, _, _ in got] == offsets  # offset contract, both layouts
    assert all(s == 0 for _, s, _ in got)     # one record per member/split
    assert [r["warc_type"] for _, _, r in got] == [
        "warcinfo", "request", "response", "response", "metadata",
    ]
    recs = [r for _, _, r in got]
    # non-http records keep the raw block as payload
    assert recs[0]["payload"] == b"software: test-rig/1.0\r\n"
    assert recs[0]["http_status"] is None
    # http request: headers stripped, empty body
    assert recs[1]["payload"] == b""
    # plain response: body extracted, status + content-type parsed
    assert recs[2]["payload"] == body_a
    assert recs[2]["http_status"] == 200
    assert recs[2]["http_content_type"] == "text/html; charset=utf-8"
    # chunked response: transfer-coding undone, latin-1 charset kept
    assert recs[3]["payload"] == body_b
    assert recs[3]["http_status"] == 404
    assert recs[3]["target_uri"] == "http://b.example/missing"
    for r, want in zip(recs, records):
        assert r["record_id"] == want["record_id"]


def test_gz_offsets_are_member_starts(tmp_path):
    """CommonCrawl index convention: each .gz record offset must be a
    real gzip member start — decompressing the file tail from that
    offset yields the record."""
    records, _, _ = _sample_records()
    path = str(tmp_path / "m.warc.gz")
    offsets = write_warc(path, records, compress=True)
    blob = open(path, "rb").read()
    for off, want in zip(offsets, records):
        member = gzip.decompress(blob[off:])  # multi-member tail
        assert member.startswith(b"WARC/1.0\r\n")
        assert ("WARC-Type: " + want["warc_type"]).encode() in member.split(
            b"\r\n\r\n"
        )[0]


def test_malformed_record_skipped_not_fatal(tmp_path):
    """A truncated capture mid-file must not kill the scan: records
    before the corruption all parse (op-validate-row philosophy on a
    binary source)."""
    records, _, _ = _sample_records()
    path = str(tmp_path / "bad.warc.gz")
    write_warc(path, records, compress=True)
    with open(path, "ab") as f:
        # trailing garbage member: valid gzip, invalid WARC inside
        f.write(gzip.compress(b"NOT-A-WARC-RECORD"))
    got = list(iter_warc_records(path))
    assert len(got) == len(records)
    # and a final gzip member truncated MID-DEFLATE-STREAM (a cut that
    # only clips the 8-byte gzip trailer still yields the full record —
    # the deflate data is complete — so cut into the member body)
    path2 = str(tmp_path / "trunc.warc.gz")
    offs = write_warc(path2, records, compress=True)
    blob = open(path2, "rb").read()
    open(path2, "wb").write(blob[: offs[-1] + 10])
    got2 = list(iter_warc_records(path2))
    assert len(got2) == len(records) - 1  # last record lost, rest fine


def test_read_warc_dataframe(spark, tmp_path):
    records, body_a, body_b = _sample_records()
    p1 = str(tmp_path / "a.warc.gz")
    p2 = str(tmp_path / "b.warc")
    write_warc(p1, records, compress=True)
    write_warc(p2, records, compress=False)

    df = read_warc(spark, str(tmp_path / "*.warc*"))
    rows = df.collect()
    # default type filter: response records only, from both files
    assert len(rows) == 4
    assert {r["warc_type"] for r in rows} == {"response"}
    assert {bytes(r["payload"]) for r in rows} == {body_a, body_b}

    all_types = read_warc(spark, [p1], warc_types=()).collect()
    assert len(all_types) == len(records)

    # partitioning determinism: 1 task vs 2 tasks, same rows
    one = {(r["warc_file"], r["record_offset"]) for r in
           read_warc(spark, [p1, p2], parallelism=1).collect()}
    two = {(r["warc_file"], r["record_offset"]) for r in
           read_warc(spark, [p1, p2], parallelism=2).collect()}
    assert one == two and len(one) == 4


def test_warc_payload_text_charset(spark, tmp_path):
    records, body_a, body_b = _sample_records()
    path = str(tmp_path / "cs.warc.gz")
    write_warc(path, records, compress=True)
    df = warc_payload_text(read_warc(spark, [path]))
    by_uri = {r["target_uri"]: r["text"] for r in df.collect()}
    assert "café résumé" in by_uri["http://b.example/missing"]
    assert "alpha beta gamma" in by_uri["http://a.example/"]


def test_warc_to_documents_curate_composition(spark, tmp_path):
    """Crawl-to-tokens end-to-end: WARC response records → documents
    frame → curate_documents(html_col=...) extracts prose and the
    funnel sees real text."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        curate_documents,
    )

    records, _, _ = _sample_records()
    path = str(tmp_path / "c.warc.gz")
    write_warc(path, records, compress=True)
    docs = warc_to_documents(spark, [path])
    rows = docs.collect()
    assert len(rows) == 2
    assert {r["url"] for r in rows} == {
        "http://a.example/", "http://b.example/missing",
    }
    assert len({r["doc_id"] for r in rows}) == 2  # deterministic, distinct
    # twice the same scan = same ids (hash of file+offset, no uuids)
    again = {r["doc_id"] for r in warc_to_documents(spark, [path]).collect()}
    assert again == {r["doc_id"] for r in rows}

    # the HTML stage extracts prose (and drops the raw markup column)
    from hospital_stain_tracker_data_pipeline_spark.operators.web import (
        parse_html_documents,
    )

    prose = {
        r["text"]
        for r in parse_html_documents(docs, html_col="html").collect()
    }
    assert any("alpha beta gamma" in t for t in prose)
    assert all("<html>" not in t and "<body>" not in t for t in prose)

    chunks, report = curate_documents(docs, html_col="html", url_col="url")
    assert report.total == 2
    assert report.after_quality == 2      # both pages carry real prose
    assert report.after_url_dedup == 2    # distinct canonical urls
    assert report.chunks >= 1
    # token mass is the EXTRACTED prose, not the markup: the packed
    # total must match the whitespace token count of the prose exactly
    want_tokens = sum(len(t.split()) for t in prose)
    assert report.packed_tokens == want_tokens
    assert chunks.count() > 0


def test_wet_to_documents_curate_composition(spark, tmp_path):
    """WET front-door: conversion records (CommonCrawl's pre-extracted
    text sidecar) → (doc_id, url, fetch_date, text) — warcinfo and
    response records in the same file are filtered by TYPE, the utf-8
    text decodes as-is (no HTML stage), and the frame composes into
    curate_documents without html_col."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        curate_documents,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        wet_to_documents,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "café résumé — prose the funnel keeps, with the usual words",
    ]
    records = [
        {
            "warc_type": "warcinfo",
            "block": b"software: test-rig/1.0\r\n",
            "warc_date": "2026-08-15T00:00:00Z",
            "content_type": "application/warc-fields",
        },
        # a stray response record: a WET reader must drop it by TYPE
        {
            "warc_type": "response",
            "target_uri": "http://a.example/raw",
            "content_type": "application/http; msgtype=response",
            "block": http_response_block(b"<html><body>raw</body></html>"),
        },
        *[
            {
                "warc_type": "conversion",
                "target_uri": f"http://a.example/{i}",
                "warc_date": f"2026-08-15T00:00:0{i + 1}Z",
                "content_type": "text/plain",
                "block": t.encode("utf-8"),
            }
            for i, t in enumerate(texts)
        ],
    ]
    path = str(tmp_path / "c.warc.wet.gz")
    write_warc(path, records, compress=True)

    docs = wet_to_documents(spark, [path])
    rows = {r["url"]: r for r in docs.collect()}
    assert set(rows) == {"http://a.example/0", "http://a.example/1"}
    assert rows["http://a.example/0"]["text"] == texts[0]
    assert rows["http://a.example/1"]["text"] == texts[1]  # utf-8 intact
    assert len({r["doc_id"] for r in rows.values()}) == 2
    # determinism: same scan → same ids (hash of file+offset+seq)
    again = {r["doc_id"] for r in wet_to_documents(spark, [path]).collect()}
    assert again == {r["doc_id"] for r in rows.values()}

    chunks, report = curate_documents(docs, url_col="url")
    assert report.total == 2
    assert report.packed_tokens == sum(len(t.split()) for t in texts)
    assert chunks.count() > 0


def test_whole_file_gzip_multi_record_member(tmp_path):
    """A whole-file-gzipped WARC (one member, many records — valid
    gzip from `gzip file.warc`, a layout non-CC writers produce): all
    records parse, share the member offset, and get distinct seq
    ordinals, so (offset, seq) — and therefore doc_id — stays unique."""
    records, body_a, _ = _sample_records()
    plain = str(tmp_path / "w.warc")
    write_warc(plain, records, compress=False)
    wf = str(tmp_path / "w.warc.gz")
    with open(plain, "rb") as src, open(wf, "wb") as dst:
        dst.write(gzip.compress(src.read()))
    got = list(iter_warc_records(wf))
    assert len(got) == len(records)
    assert {o for o, _, _ in got} == {0}
    assert [s for _, s, _ in got] == list(range(len(records)))
    assert got[2][2]["payload"] == body_a


def test_whole_file_gzip_distinct_doc_ids(spark, tmp_path):
    records, _, _ = _sample_records()
    plain = str(tmp_path / "w.warc")
    write_warc(plain, records, compress=False)
    wf = str(tmp_path / "w.warc.gz")
    with open(plain, "rb") as src, open(wf, "wb") as dst:
        dst.write(gzip.compress(src.read()))
    rows = warc_to_documents(spark, [wf]).collect()
    assert len(rows) == 2
    assert len({r["doc_id"] for r in rows}) == 2  # seq disambiguates


def test_corrupt_gzip_member_resyncs(tmp_path):
    """Bit-rot / non-gzip garbage BETWEEN members must not kill the
    file: the reader resyncs to the next member magic and later
    records survive (the malformed-skip contract at member level)."""
    records, _, _ = _sample_records()
    path = str(tmp_path / "rot.warc.gz")
    offs = write_warc(path, records, compress=True)
    blob = open(path, "rb").read()
    # corrupt record 1's deflate stream mid-member (keep its magic),
    # leaving records 0 and 2..4 intact
    cut = offs[1] + 12
    mangled = blob[:cut] + b"\x99\x99\x99\x99" + blob[cut + 4:]
    open(path, "wb").write(mangled)
    got = list(iter_warc_records(path))
    ids = [r["record_id"] for _, _, r in got]
    assert records[0]["record_id"] in ids
    assert records[2]["record_id"] in ids and records[4]["record_id"] in ids
    assert len(got) >= len(records) - 1
    # offsets of the surviving post-corruption records still match
    surviving = {o for o, _, _ in got}
    assert offs[2] in surviving and offs[4] in surviving


def test_non_ascii_header_values(tmp_path):
    """Raw UTF-8 in header values (ubiquitous in real crawls) must come
    back as plain str — never email.header.Header objects that poison
    the Arrow conversion."""
    path = str(tmp_path / "u.warc.gz")
    write_warc(
        path,
        [
            {
                "warc_type": "response",
                "target_uri": "http://e.example/café-résumé",
                "content_type": "application/http; msgtype=response",
                "block": http_response_block("page".encode()),
            }
        ],
    )
    [(_, _, rec)] = list(iter_warc_records(path))
    assert isinstance(rec["target_uri"], str)
    assert rec["target_uri"] == "http://e.example/café-résumé"


def test_duplicate_content_length_first_wins_consistent(tmp_path):
    """Duplicate Content-Length headers: the splitter and the field
    parser share ONE first-wins authority, so records after the
    ambiguous one still parse instead of silently vanishing."""
    # hand-build a plain WARC: record 0 with two Content-Length
    # headers (first one correct), then a normal record
    block0 = b"0123456789"
    rec0 = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Record-ID: <urn:a>\r\n"
        + b"Content-Length: " + str(len(block0)).encode() + b"\r\n"
        b"Content-Length: 4\r\n"
        b"\r\n" + block0 + b"\r\n\r\n"
    )
    block1 = b"second"
    rec1 = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Record-ID: <urn:b>\r\n"
        + b"Content-Length: " + str(len(block1)).encode() + b"\r\n"
        b"\r\n" + block1 + b"\r\n\r\n"
    )
    path = str(tmp_path / "dup.warc")
    open(path, "wb").write(rec0 + rec1)
    got = list(iter_warc_records(path))
    assert [r["record_id"] for _, _, r in got] == ["<urn:a>", "<urn:b>"]
    assert got[0][2]["payload"] == block0
    assert got[1][2]["payload"] == block1
    assert got[1][0] == len(rec0)  # offsets agree with the length authority


def test_quoted_charset_decodes(spark, tmp_path):
    """RFC 9110 quoted charset (charset="iso-8859-1") must decode with
    the declared codec, not fall back to utf-8 mojibake."""
    body = "smörgåsbord äöå".encode("iso-8859-1")
    path = str(tmp_path / "q.warc.gz")
    write_warc(
        path,
        [
            {
                "warc_type": "response",
                "target_uri": "http://q.example/",
                "content_type": "application/http; msgtype=response",
                "block": http_response_block(
                    body, content_type='text/html; charset="iso-8859-1"'
                ),
            }
        ],
    )
    [row] = warc_payload_text(read_warc(spark, [path])).collect()
    assert row["text"] == "smörgåsbord äöå"


def test_empty_glob_raises(spark, tmp_path):
    """A glob matching nothing raises — a 100 TB ingest must never
    silently become an empty corpus. An explicit empty list is the
    only way to an empty typed frame."""
    with pytest.raises(FileNotFoundError):
        read_warc(spark, str(tmp_path / "nothing-*.warc.gz"))
    assert read_warc(spark, []).count() == 0


def test_cdx_index_points_at_each_record(spark, tmp_path):
    """The CDX sidecar derives from the scan frame: every row carries
    the canonical url key, the payload length and a pointer at its
    exact record — the member offset for per-record gzip, the record's
    position within the one member for whole-file gzip."""
    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        warc_cdx_index,
    )

    records, body_a, body_b = _sample_records()
    p1 = str(tmp_path / "a.warc.gz")
    offs = write_warc(p1, records)
    idx = warc_cdx_index(read_warc(spark, [p1])).collect()
    got = {
        r["url"]: (r["record_offset"], r["record_seq"], r["payload_len"])
        for r in idx
    }
    assert got == {
        "http://a.example/": (offs[2], 0, len(body_a)),
        "http://b.example/missing": (offs[3], 0, len(body_b)),
    }
    # canonical url_key present (dedup key of the capture index)
    assert all(r["url_key"] for r in idx)

    # whole-file gzip: same offset, seq distinguishes
    plain = str(tmp_path / "w.warc")
    write_warc(plain, records, compress=False)
    wf = str(tmp_path / "w.warc.gz")
    with open(plain, "rb") as src, open(wf, "wb") as dst:
        dst.write(gzip.compress(src.read()))
    idx2 = warc_cdx_index(read_warc(spark, [wf])).collect()
    assert {r["url"]: (r["record_offset"], r["record_seq"]) for r in idx2} == {
        "http://a.example/": (0, 2),
        "http://b.example/missing": (0, 3),
    }


def test_read_warc_remote_glob_rejects_directory_wildcards(spark):
    """A wildcard in a directory component of a remote-URI glob that
    matches no LITERAL directory fails with the explanatory
    ValueError, not a confusing FileNotFoundError (ADVICE r8)."""
    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        read_warc,
    )

    with _pytest.raises(ValueError, match="directory component"):
        read_warc(spark, "file:///nonexistent-crawl-*/f.warc.gz")


def test_read_warc_remote_glob_literal_star_dirname_works(spark, tmp_path):
    """Glob characters are LEGAL in object-store key segments: a real
    directory literally named crawl-2024* must stay readable through
    the remote-glob path (the dirname is listed literally; only the
    basename is fnmatched). Brackets are a separate pre-existing
    ceiling: pyarrow's URI parser rejects them outright."""
    from hospital_stain_tracker_data_pipeline_spark.sources.warc import (
        http_response_block,
        read_warc,
        write_warc,
    )

    d = tmp_path / "crawl-2024*"
    d.mkdir()
    write_warc(
        str(d / "f.warc.gz"),
        [
            {
                "warc_type": "response",
                "target_uri": "http://ex.com/1",
                "warc_date": "2026-01-01T00:00:00Z",
                "content_type": "application/http; msgtype=response",
                "block": http_response_block(b"hello bracket prefix"),
            }
        ],
    )
    df = read_warc(spark, f"file://{d}/*.warc.gz")
    assert df.count() == 1

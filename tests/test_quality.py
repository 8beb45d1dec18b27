"""Gopher/C4 quality battery: per-rule goldens, a full-corpus DuckDB
replay of every signal column, the kept-set equivalence of the filter,
funnel composability, and the zero-exchange plan pin."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
    filter_funnel,
)
from hospital_stain_tracker_data_pipeline_spark.operators.quality import (
    filter_gopher_quality,
    gopher_stage_predicates,
    quality_signals,
)

GOOD = (
    "The quick brown fox jumps over the lazy dog and runs to the river "
    "bank where it finds that the water is cold and clear. Every animal "
    "in the forest seems to have come down with the same idea today. "
    "The fox waits until the bears have finished drinking before it "
    "steps forward to take a long drink of the cool water itself."
)


def _docs(spark):
    rows = [
        (1, GOOD),                                  # passes everything
        (2, "short words only here"),               # fails word_count
        (3, GOOD + " {code: 1}"),                   # fails no_curly_brace
        (4, GOOD + " Lorem Ipsum dolor sit"),       # fails no_lorem_ipsum
        (5, GOOD.replace(" and ", " ### # ## ")),   # fails symbol_ratio
        (6, "\n".join(["• " + w for w in GOOD.split()])),  # bullet lines
        (7, ""),                                    # blank
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_rule_goldens(spark):
    kept = {
        r["doc_id"]
        for r in filter_gopher_quality(_docs(spark)).select("doc_id").collect()
    }
    assert kept == {1}


def test_gopher_stage_attrition_via_funnel(spark):
    """The predicates plug straight into filter_funnel over the
    signal projection: one scan, cumulative per-rule attrition."""
    [row] = filter_funnel(
        quality_signals(_docs(spark)), gopher_stage_predicates()
    ).collect()
    assert row["total"] == 7
    # cumulative: each stage can only shrink the survivor count
    names = [n for n, _ in gopher_stage_predicates()]
    counts = [row[f"after_{n}"] for n in names]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] == 1


def test_quality_signals_match_duckdb(spark, sf_dir):
    """Every signal column replayed in DuckDB over the documents
    fixture — list lambdas mirror the Spark HOF expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = (
        quality_signals(docs)
        .select(
            "doc_id", "n_words", "mean_word_len", "frac_alpha_words",
            "symbol_word_ratio", "frac_bullet_lines", "frac_ellipsis_lines",
            "frac_terminal_punct_lines", "n_gopher_stopwords",
            "has_curly_brace", "has_lorem_ipsum",
        )
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH base AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(text, '\\s+'),
                             w -> w <> '') AS words,
                 list_filter(string_split(text, chr(10)),
                             l -> trim(l) <> '') AS lines
          FROM read_parquet('{sf_dir}/documents.parquet')
        )
        SELECT doc_id,
          len(words) AS n_words,
          CASE WHEN len(words) > 0 THEN round(
            list_sum(list_transform(words, w -> length(w))) * 1.0
              / len(words), 6) END AS mean_word_len,
          CASE WHEN len(words) > 0 THEN round(
            len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
              * 1.0 / len(words), 6) END AS frac_alpha_words,
          CASE WHEN len(words) > 0 THEN round(
            ((length(text) - length(replace(text, '#', '')))
             + len(regexp_extract_all(text, '(\\.\\.\\.|…)')))
              * 1.0 / len(words), 6) END AS symbol_word_ratio,
          CASE WHEN len(lines) > 0 THEN round(
            len(list_filter(lines,
                l -> regexp_matches(trim(l), '^[-*•‣▪●·]')))
              * 1.0 / len(lines), 6) END AS frac_bullet_lines,
          CASE WHEN len(lines) > 0 THEN round(
            len(list_filter(lines,
                l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
              * 1.0 / len(lines), 6) END AS frac_ellipsis_lines,
          CASE WHEN len(lines) > 0 THEN round(
            len(list_filter(lines,
                l -> regexp_matches(trim(l), '[.!?"'']$')))
              * 1.0 / len(lines), 6) END AS frac_terminal_punct_lines,
          len(list_intersect(list_transform(words,
                w -> regexp_replace(lower(w),
                  '^["''()\\[\\]{{}}<>.,:;!?…“”‘’-]+|["''()\\[\\]{{}}<>.,:;!?…“”‘’-]+$',
                  '', 'g')),
              ['the','be','to','of','and','that','have','with']))
            AS n_gopher_stopwords,
          contains(text, '{{') AS has_curly_brace,
          contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum
        FROM base ORDER BY doc_id
        """
    ).df()
    con.close()
    assert len(got) == len(want)
    for col in got.columns:
        a, b = got[col].tolist(), want[col].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None or (isinstance(x, float) and x != x):
                assert y is None or (isinstance(y, float) and y != y), (col, i)
            elif isinstance(x, float):
                assert x == pytest.approx(y, abs=1e-9), (col, i, x, y)
            else:
                assert x == y, (col, i, x, y)


def test_filter_matches_signal_thresholds(spark, sf_dir):
    """filter_gopher_quality's kept set == applying the published
    thresholds to the signal columns (internal consistency between the
    two code paths)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # min_stopwords=0: the synthetic fixture vocabulary contains no
    # real English stopwords, so the default >=2 rule correctly kills
    # every fixture doc — relaxing it keeps the consistency check
    # non-vacuous
    kept_filter = {
        r["doc_id"]
        for r in filter_gopher_quality(docs, min_stopwords=0)
        .select("doc_id")
        .collect()
    }
    sig = quality_signals(docs)
    kept_sig = {
        r["doc_id"]
        for r in sig.filter(
            F.col("n_words").between(50, 100_000)
            & F.col("mean_word_len").between(3.0, 10.0)
            & (F.col("frac_alpha_words") >= 0.8)
            & (F.col("symbol_word_ratio") <= 0.1)
            & (F.col("frac_bullet_lines").isNull()
               | (F.col("frac_bullet_lines") <= 0.9))
            & (F.col("frac_ellipsis_lines").isNull()
               | (F.col("frac_ellipsis_lines") <= 0.3))
            & ~F.col("has_curly_brace")
            & ~F.col("has_lorem_ipsum")
        ).select("doc_id").collect()
    }
    assert kept_filter == kept_sig
    assert 0 < len(kept_filter)
    # and at the published defaults the two paths still agree (the
    # stopword rule wipes the synthetic fixture on both)
    kept_default = {
        r["doc_id"]
        for r in filter_gopher_quality(docs).select("doc_id").collect()
    }
    kept_sig_default = {
        r["doc_id"]
        for r in sig.filter(F.col("n_gopher_stopwords") >= 2)
        .select("doc_id")
        .collect()
    } & kept_sig
    assert kept_default == kept_sig_default


def test_quality_signals_zero_exchange_plan(spark, sf_dir):
    """The battery is a free rider on the scan: no Exchange anywhere
    in the physical plan."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        quality_signals(docs).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_curate_accepts_gopher_stages(spark):
    """gopher_stage_predicates slots into curate_documents(stages=...)"""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        curate_documents,
    )

    docs = _docs(spark).filter(F.col("doc_id").isin(1, 2, 7))
    chunks, rep = curate_documents(
        docs, budget=32, n_shards=2, seed=0,
        stages=gopher_stage_predicates(),
    )
    assert rep.total == 3
    assert rep.after_quality == 1
    assert {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()} == {1}


def test_redact_pii_goldens_and_duckdb_replay(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.quality import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        redact_pii,
    )

    rows = [
        (1, "Contact alice.smith+x@example.co.uk or call (555) 123-4567."),
        (2, "Server at 192.168.1.100 responded; backup 10.0.0.1 did not."),
        (3, "Call +1 555-123-4567 or 555.987.6543 today"),
        (4, "No PII here at all, just prose."),
        (5, "bob@site.io and carol@site.io share 8.8.8.8"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}

    assert got[1]["n_pii_email"] == 1 and got[1]["n_pii_phone"] == 1
    assert "<EMAIL>" in got[1]["text_redacted"]
    assert "<PHONE>" in got[1]["text_redacted"]
    assert "alice" not in got[1]["text_redacted"]
    assert got[2]["n_pii_ipv4"] == 2
    assert got[2]["text_redacted"].count("<IP>") == 2
    assert got[3]["n_pii_phone"] == 2
    assert got[4]["text_redacted"] == rows[3][1]
    assert got[4]["n_pii_email"] == got[4]["n_pii_ipv4"] == 0
    assert got[5]["n_pii_email"] == 2 and got[5]["n_pii_ipv4"] == 1
    assert got[6]["text_redacted"] == ""

    # full DuckDB replay of counts + redacted text, same stage order
    import duckdb as d

    con = d.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i, _ in rows)
        + ") v(doc_id, text)",
        [t for _, t in rows],
    )
    want = con.execute(
        f"""
        WITH s1 AS (
          SELECT doc_id,
            len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_email,
            regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
          FROM t
        ), s2 AS (
          SELECT doc_id, n_email,
            len(regexp_extract_all(t1, '{PII_IPV4_RE}')) AS n_ip,
            regexp_replace(t1, '{PII_IPV4_RE}', '<IP>', 'g') AS t2
          FROM s1
        )
        SELECT doc_id, n_email, n_ip,
          len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS n_phone,
          regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS red
        FROM s2 ORDER BY doc_id
        """
    ).fetchall()
    con.close()
    for doc_id, n_email, n_ip, n_phone, red in want:
        g = got[doc_id]
        assert g["n_pii_email"] == n_email, doc_id
        assert g["n_pii_ipv4"] == n_ip, doc_id
        assert g["n_pii_phone"] == n_phone, doc_id
        assert g["text_redacted"] == red, doc_id


def test_gopher_filter_stream_equals_batch(spark, tmp_path):
    """The rule battery is stateless Column logic, so it applies to a
    streaming DataFrame unchanged: filtering an availableNow file
    stream keeps exactly the docs the batch filter keeps."""
    import os

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "docs_kept")
    ckpt = str(tmp_path / "ckpt")
    docs = _docs(spark)
    docs.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema).parquet(src)
        .transform(filter_gopher_quality)
    )
    (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    want = {
        r["doc_id"]
        for r in filter_gopher_quality(spark.read.parquet(src))
        .select("doc_id")
        .collect()
    }
    assert got == want == {1}


def test_gopher_stopwords_count_punctuated_occurrences(spark):
    """Gopher's stopword rule is containment: "The." / "with," count.
    A doc whose every stopword instance carries edge punctuation must
    still clear the >=2-distinct-stopword floor (advisor round-7)."""
    docs = spark.createDataFrame(
        [
            (1, 'The. end with, "and" (that) [of] {be}'),
            (2, "nothing matching here at all"),
            (3, "...the--- ‘with’ …and…"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_gopher_stopwords"]
        for r in quality_signals(docs).collect()
    }
    assert got[1] == 6   # the, with, and, that, of, be
    assert got[2] == 0
    assert got[3] == 3   # the, with, and


def test_compression_signals_exact_zlib_replay(spark, sf_dir):
    """zlib_ratio replayed exactly against direct zlib.compress over
    golden docs + the fixture corpus — same bytes, same level, same
    rounding (the UDF adds no drift)."""
    import zlib

    from hospital_stain_tracker_data_pipeline_spark.operators.quality import (
        compression_signals,
    )

    def expect(t):
        b = t.encode("utf-8")
        if not b:
            return None
        return len(zlib.compress(b, 6)) / len(b)

    golden = [
        (1, "spam " * 400),                   # template soup -> tiny ratio
        (2, GOOD),                            # prose -> mid ratio
        (3, ""),                              # empty -> NULL
        (4, "k9#x!Qz@7vB$2mW&5pL*8nR%3cT^6dY"),  # noise -> ratio ~1+
    ]
    docs = spark.createDataFrame(golden, "doc_id long, text string")
    got = {
        r["doc_id"]: r["zlib_ratio"]
        for r in compression_signals(docs).collect()
    }
    for i, t in golden:
        if t == "":
            assert got[i] is None
        else:
            # F.round is HALF_UP, Python round is banker's — compare
            # the 6-dp signal against the raw ratio with rounding slack
            assert abs(got[i] - expect(t)) <= 5e-7, (i, got[i], expect(t))
    assert got[1] < 0.1 < got[2] < got[4]

    # fixture sweep: every non-empty doc matches the direct computation
    fx = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = compression_signals(fx).select("doc_id", "text", "zlib_ratio").collect()
    assert len(rows) > 0
    for r in rows:
        want = expect(r["text"])
        if want is None:
            assert r["zlib_ratio"] is None, r["doc_id"]
        else:
            assert abs(r["zlib_ratio"] - want) <= 5e-7, r["doc_id"]


def test_corpus_report_duckdb_replay(spark, sf_dir, tmp_path):
    """The one-row dataset card replayed in DuckDB over (a) the
    documents fixture and (b) a golden corpus with NULL text, blank
    docs, and exact duplicates — token accounting uses the packers'
    doc_token_count contract (blank/NULL = 0 tokens), quality is NULL
    for contentless docs, NULL text fingerprints like the empty
    string."""
    import os

    from hospital_stain_tracker_data_pipeline_spark.operators.quality import (
        corpus_report,
    )

    golden = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon of the day"),
            (2, "alpha beta gamma delta epsilon of the day"),  # exact dup
            (3, ""),                                           # blank
            (4, None),                                         # NULL text
            (5, "a completely different second document body"),
        ],
        "doc_id long, text string",
    )
    gpath = os.path.join(str(tmp_path), "golden.parquet")
    golden.write.parquet(gpath)

    oracle = """
        WITH per AS (
          SELECT
            CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt,
            CASE WHEN trim(coalesce(text, '')) = '' THEN NULL
                 ELSE round(0.5 * least(1.0,
                     len(string_split_regex(trim(text), '\\s+')) / 100.0)
                   + 0.5 * (1.0 -
                     len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> t IN ('the','a','of','and','in','to'))) * 1.0
                     / len(string_split_regex(trim(text), '\\s+'))), 4) END AS q,
            substring(md5(regexp_replace(lower(trim(coalesce(text, ''))),
                                         '\\s+', ' ', 'g')), 1, 16) AS fp,
            trim(coalesce(text, '')) = '' AS blank
          FROM read_parquet('{path}')
        )
        SELECT count(*) AS n_docs,
               sum(CASE WHEN blank THEN 1 ELSE 0 END) AS n_blank,
               sum(nt) AS total_tokens,
               round(avg(nt), 6) AS mean_tokens,
               round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
               round(quantile_cont(nt, 0.9), 4) AS p90_tokens,
               round(quantile_cont(nt, 0.99), 4) AS p99_tokens,
               max(nt) AS max_tokens,
               round(CAST(sum(CAST(round(q * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000.0 / CAST(count(q) AS DOUBLE), 6) AS mean_quality,
               round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 6)
                 AS exact_dup_rate
        FROM per
    """
    names = [
        "n_docs", "n_blank", "total_tokens", "mean_tokens", "p50_tokens",
        "p90_tokens", "p99_tokens", "max_tokens", "mean_quality",
        "exact_dup_rate",
    ]
    for path, frame in (
        (f"{sf_dir}/documents.parquet", spark.read.parquet(f"{sf_dir}/documents.parquet")),
        (f"{gpath}/*.parquet", golden),
    ):
        [got] = corpus_report(frame).collect()
        con = duckdb.connect()
        [want] = con.execute(oracle.format(path=path)).fetchall()
        con.close()
        for i, name in enumerate(names):
            g, w = got[name], want[i]
            if g is None or w is None:
                assert g is None and w is None, (path, name, g, w)
            elif isinstance(g, float):
                assert g == pytest.approx(w, abs=1e-9), (path, name, g, w)
            else:
                assert int(g) == int(w), (path, name, g, w)
    # golden spot values: 2 blank-ish (one NULL), dup pair collapses
    [gr] = corpus_report(golden).collect()
    assert gr["n_docs"] == 5 and gr["n_blank"] == 2
    assert gr["total_tokens"] == 8 + 8 + 6
    # 3 distinct fingerprints: the dup pair's, the shared blank/NULL
    # empty-string print, and doc 5's
    assert gr["exact_dup_rate"] == pytest.approx(1 - 3 / 5, abs=1e-9)

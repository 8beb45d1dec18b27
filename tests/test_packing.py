"""Sequence-packing and filter-funnel operator semantics (the
concat-and-chunk packing a pretraining pipeline runs before batching):
token conservation, full-chunk invariants, partitioning determinism,
and one-pass funnel counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
    filter_funnel,
    pack_token_chunks,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _docs(spark):
    rows = [
        (0, "a b c"),          # 3 tok, shard 0
        (1, "d e"),            # 2 tok, shard 1
        (2, "f g h i j k l"),  # 7 tok, shard 0 — crosses a chunk boundary
        (3, ""),               # empty — dropped
        (4, "m n o p"),        # 4 tok, shard 0
        (5, None),             # null — dropped
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_golden_chunk_layout(spark):
    # shard 0 stream (budget 4): doc0[a b c] doc2[f g h i j k l] doc4[m n o p]
    # offsets: doc0 [0,3) doc2 [3,10) doc4 [10,14)
    # chunks:  0:[0,4) 1:[4,8) 2:[8,12) 3:[12,14)
    out = pack_token_chunks(_docs(spark), budget=4, n_shards=2)
    rows = {
        (r.shard, r.chunk_id, r.doc_id): (r.chunk_start, r.chunk_tokens)
        for r in out.collect()
    }
    assert rows[(0, 0, 0)] == (0, 3)   # doc0 fills chunk0[0:3]
    assert rows[(0, 0, 2)] == (3, 1)   # doc2 starts at chunk0[3]
    assert rows[(0, 1, 2)] == (0, 4)   # ... fills chunk1
    assert rows[(0, 2, 2)] == (0, 2)   # ... ends in chunk2
    assert rows[(0, 2, 4)] == (2, 2)   # doc4 follows in chunk2
    assert rows[(0, 3, 4)] == (0, 2)   # ... tail chunk
    assert rows[(1, 0, 1)] == (0, 2)   # shard 1: doc1 alone
    assert all(k[0] != 0 or k[2] in (0, 2, 4) for k in rows)
    assert not any(k[2] in (3, 5) for k in rows)  # empty/null dropped


def test_pack_conserves_tokens_and_fills_chunks(spark):
    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    budget = 256
    out = pack_token_chunks(docs, budget=budget, n_shards=8).cache()

    # conservation: each doc's chunk_tokens sum to its token count
    bad_docs = (
        out.groupBy("doc_id", "n_tok")
        .agg(F.sum("chunk_tokens").alias("packed"))
        .filter(F.col("packed") != F.col("n_tok"))
        .count()
    )
    assert bad_docs == 0

    # fullness: every chunk except each shard's last holds exactly budget
    per_chunk = out.groupBy("shard", "chunk_id").agg(
        F.sum("chunk_tokens").alias("tok")
    )
    last = per_chunk.groupBy("shard").agg(F.max("chunk_id").alias("last_chunk"))
    partial = (
        per_chunk.join(last, "shard")
        .filter(
            (F.col("chunk_id") != F.col("last_chunk"))
            & (F.col("tok") != budget)
        )
        .count()
    )
    assert partial == 0
    out.unpersist()


def test_pack_is_partitioning_invariant(spark):
    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    a = pack_token_chunks(docs, budget=128, n_shards=4)
    b = pack_token_chunks(docs.repartition(17), budget=128, n_shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_rejects_bad_params(spark):
    import pytest

    with pytest.raises(ValueError, match="budget"):
        pack_token_chunks(_docs(spark), budget=0)
    with pytest.raises(ValueError, match="n_shards"):
        pack_token_chunks(_docs(spark), budget=4, n_shards=0)


def test_pack_matches_duckdb_oracle(spark):
    """Full cross-engine oracle for the packing semantics (the catalog
    is capped at 50 driver entries, so the parity check lives here):
    DuckDB replays shard assignment, the per-shard cumsum spans, and
    the chunk overlap arithmetic; every output cell must match."""
    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    budget, n_shards = 256, 8
    got = sorted(
        tuple(r)
        for r in pack_token_chunks(
            load_fixture_table(spark, sf_dir, "documents"),
            budget=budget,
            n_shards=n_shards,
        ).collect()
    )
    sql = rf"""
    WITH base AS (
      SELECT doc_id, doc_id % {n_shards} AS shard,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
      FROM read_parquet('{sf_dir}/documents.parquet')
    ), nonempty AS (
      SELECT * FROM base WHERE n_tok > 0
    ), spans AS (
      SELECT shard, doc_id, n_tok,
             SUM(n_tok) OVER w - n_tok AS tok_start,
             SUM(n_tok) OVER w AS tok_end
      FROM nonempty WINDOW w AS (PARTITION BY shard ORDER BY doc_id)
    ), chunks AS (
      SELECT shard, doc_id, n_tok, tok_start,
             unnest(generate_series(CAST(tok_start // {budget} AS BIGINT),
                                    CAST((tok_end - 1) // {budget} AS BIGINT)))
               AS chunk_id
      FROM spans
    )
    SELECT CAST(shard AS INT) AS shard, CAST(chunk_id AS BIGINT) AS chunk_id,
           doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(GREATEST(0, tok_start - chunk_id * {budget}) AS BIGINT)
             AS chunk_start,
           CAST(LEAST(tok_start + n_tok, (chunk_id + 1) * {budget})
                - GREATEST(tok_start, chunk_id * {budget}) AS BIGINT)
             AS chunk_tokens
    FROM chunks
    """
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want and len(got) > 0


def test_filter_funnel_cumulative_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", 50),
            (2, "en", 5),
            (3, "de", 50),
            (4, "en", 80),
            (5, None, 80),
        ],
        "doc_id long, lang string, n_tok long",
    )
    [r] = filter_funnel(
        docs,
        [
            ("lang_en", F.col("lang") == "en"),
            ("min_len", F.col("n_tok") >= 10),
            ("max_len", F.col("n_tok") <= 60),
        ],
    ).collect()
    assert r.total == 5
    assert r.after_lang_en == 3      # 1, 2, 4
    assert r.after_min_len == 2      # 1, 4
    assert r.after_max_len == 1      # 1
    # single-job shape: one row out, monotone non-increasing
    assert r.total >= r.after_lang_en >= r.after_min_len >= r.after_max_len


def _span_docs(spark):
    rows = [
        (1, "alpha beta\ncommon line here\ngamma"),
        (2, "common line here\ndelta epsilon"),      # line 0 dup of doc1:1
        (3, "zeta\ncommon line here\nalpha beta"),   # both lines seen before
        (4, "common line here"),                     # entire doc is a dup
        (5, "x\ny"),                                 # short lines
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_spans_first_occurrence_wins(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    out = {
        r.doc_id: (r.text_deduped, r.n_spans, r.n_spans_kept)
        for r in dedup_spans(_span_docs(spark)).collect()
    }
    assert out[1] == ("alpha beta\ncommon line here\ngamma", 3, 3)
    assert out[2] == ("delta epsilon", 2, 1)
    assert out[3] == ("zeta", 3, 1)
    assert out[4] == ("", 1, 0)   # fully-duplicate doc -> empty, not missing
    assert out[5] == ("x\ny", 2, 2)


def test_dedup_spans_min_chars_protects_short_lines(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    docs = spark.createDataFrame(
        [(1, "ok\nlong enough line"), (2, "ok\nlong enough line")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.text_deduped
        for r in dedup_spans(docs, min_chars=5).collect()
    }
    # "ok" (<5 chars) survives in BOTH docs; the long line dedups
    assert out[1] == "ok\nlong enough line"
    assert out[2] == "ok"


def test_dedup_spans_matches_duckdb_oracle(spark):
    """Cross-engine oracle: DuckDB replays split, global
    first-occurrence-wins on the trimmed span, and ordered reassembly."""
    import duckdb

    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    got = sorted(tuple(r) for r in dedup_spans(_span_docs(spark)).collect())
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE docs(doc_id BIGINT, text VARCHAR);
        INSERT INTO docs VALUES
          (1, 'alpha beta' || chr(10) || 'common line here' || chr(10) || 'gamma'),
          (2, 'common line here' || chr(10) || 'delta epsilon'),
          (3, 'zeta' || chr(10) || 'common line here' || chr(10) || 'alpha beta'),
          (4, 'common line here'),
          (5, 'x' || chr(10) || 'y');
    """)
    want = sorted(
        tuple(r)
        for r in con.execute("""
            WITH spans AS (
              SELECT doc_id, unnest(string_split(text, chr(10))) AS span,
                     generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos
              FROM docs
            ), kept AS (
              SELECT doc_id, pos, span,
                     row_number() OVER (PARTITION BY trim(span)
                                        ORDER BY doc_id, pos) AS rk
              FROM spans
            ), assembled AS (
              SELECT doc_id, COUNT(*) AS n_spans_kept,
                     string_agg(span, chr(10) ORDER BY pos) AS text_deduped
              FROM kept WHERE rk = 1 GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.text_deduped, '') AS text_deduped,
                   len(string_split(d.text, chr(10))) AS n_spans,
                   CAST(COALESCE(a.n_spans_kept, 0) AS BIGINT) AS n_spans_kept
            FROM docs d LEFT JOIN assembled a USING (doc_id)
        """).fetchall()
    )
    assert got == want


def test_epoch_shuffle_deterministic_and_seed_sensitive(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        epoch_shuffle,
    )

    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    a1 = [r.doc_id for r in epoch_shuffle(docs, seed=7).select("doc_id").collect()]
    a2 = [
        r.doc_id
        for r in epoch_shuffle(docs.repartition(13), seed=7)
        .select("doc_id")
        .collect()
    ]
    b = [r.doc_id for r in epoch_shuffle(docs, seed=8).select("doc_id").collect()]
    assert a1 == a2                      # same seed: same order, any partitioning
    assert a1 != b                       # different seed: different order
    assert sorted(a1) == sorted(b)       # a permutation, not a filter
    assert a1 != sorted(a1)              # actually shuffled


def test_epoch_shuffle_plans_distributed_sort(spark):
    import contextlib
    import io

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        epoch_shuffle,
    )

    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        epoch_shuffle(docs, seed=7).explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan   # distributed range sort
    assert "SinglePartition" not in plan


def test_dedup_spans_literal_metachar_delimiter(spark):
    """delim is a LITERAL separator, not a regex: '.' must split on
    periods (sentences), not on every character."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    docs = spark.createDataFrame(
        [(1, "first sentence. shared sentence"), (2, "shared sentence. tail")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text_deduped, r.n_spans, r.n_spans_kept)
        for r in dedup_spans(docs, delim=". ").collect()
    }
    assert out[1] == ("first sentence. shared sentence", 2, 2)
    assert out[2] == ("tail", 2, 1)  # 'shared sentence' first seen in doc 1


def test_pack_duplicate_doc_ids_get_disjoint_spans(spark):
    """Two rows with the SAME doc_id (re-ingested batch) must pack as
    two separate documents — disjoint spans, conservation intact. The
    RANGE-frame formulation would have merged them into overlapping
    spans and overfilled chunks."""
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_token_chunks,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (1, "d e f"), (2, "g h")],
        "doc_id long, text string",
    )
    out = pack_token_chunks(docs, budget=4, n_shards=1).collect()
    # conservation: 3 + 3 + 2 = 8 tokens total across all chunk rows
    assert sum(r.chunk_tokens for r in out) == 8
    # fullness: chunks 0 (4 tok) full, chunk 1 holds the remaining 4
    per_chunk = {}
    for r in out:
        per_chunk[r.chunk_id] = per_chunk.get(r.chunk_id, 0) + r.chunk_tokens
    assert per_chunk == {0: 4, 1: 4}


def test_filter_funnel_rejects_duplicate_stage_names(spark):
    import pytest

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        filter_funnel,
    )

    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="unique"):
        filter_funnel(
            docs,
            [("a", F.col("doc_id") > 0), ("a", F.col("doc_id") > 1)],
        )


def test_pack_order_col_golden_layout(spark):
    """An explicit key column dictates BOTH shard assignment
    (pmod(key, n_shards)) and concatenation order within the shard,
    and rides through to the output."""
    docs = spark.createDataFrame(
        [(0, "a b c", 5), (1, "d e", 2), (2, "f g h i", 9), (3, "j", 4)],
        "doc_id long, text string, k long",
    )
    out = pack_token_chunks(docs, budget=4, n_shards=2, order_col="k")
    rows = {
        (r.shard, r.chunk_id, r.doc_id): (r.chunk_start, r.chunk_tokens, r.k)
        for r in out.collect()
    }
    # shard 0 (even k): doc1(k=2, 2 tok)[0,2) doc3(k=4, 1 tok)[2,3)
    # shard 1 (odd k):  doc0(k=5, 3 tok)[0,3) doc2(k=9, 4 tok)[3,7)
    assert rows[(0, 0, 1)] == (0, 2, 2)
    assert rows[(0, 0, 3)] == (2, 1, 4)
    assert rows[(1, 0, 0)] == (0, 3, 5)
    assert rows[(1, 0, 2)] == (3, 1, 9)   # doc2 tail of chunk 0
    assert rows[(1, 1, 2)] == (0, 3, 9)   # ... spills into chunk 1
    assert len(rows) == 5


def test_pack_order_col_matches_duckdb_oracle(spark):
    """Cross-engine oracle for the ORDERED packing path: a signed
    Lehmer-style key computed identically in both engines drives shard
    (pmod) and order; every output cell must match."""
    import duckdb

    from pyspark.sql import functions as F  # noqa: F811

    sf_dir = "/root/testdata/sf0.001"
    budget, n_shards = 256, 8
    docs = load_fixture_table(spark, sf_dir, "documents").withColumn(
        "k", F.expr("(doc_id * 48271) % 100003 - 50000")
    )
    got = sorted(
        tuple(r)
        for r in pack_token_chunks(
            docs, budget=budget, n_shards=n_shards, order_col="k"
        ).collect()
    )
    sql = rf"""
    WITH base AS (
      SELECT doc_id, (doc_id * 48271) % 100003 - 50000 AS k,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
      FROM read_parquet('{sf_dir}/documents.parquet')
    ), nonempty AS (
      SELECT *, ((k % {n_shards}) + {n_shards}) % {n_shards} AS shard
      FROM base WHERE n_tok > 0
    ), spans AS (
      SELECT shard, doc_id, n_tok, k,
             SUM(n_tok) OVER w - n_tok AS tok_start,
             SUM(n_tok) OVER w AS tok_end
      FROM nonempty WINDOW w AS (PARTITION BY shard ORDER BY k, doc_id)
    ), chunks AS (
      SELECT shard, doc_id, n_tok, k, tok_start,
             unnest(generate_series(CAST(tok_start // {budget} AS BIGINT),
                                    CAST((tok_end - 1) // {budget} AS BIGINT)))
               AS chunk_id
      FROM spans
    )
    SELECT CAST(shard AS INT) AS shard, CAST(chunk_id AS BIGINT) AS chunk_id,
           doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(GREATEST(0, tok_start - chunk_id * {budget}) AS BIGINT)
             AS chunk_start,
           CAST(LEAST(tok_start + n_tok, (chunk_id + 1) * {budget})
                - GREATEST(tok_start, chunk_id * {budget}) AS BIGINT)
             AS chunk_tokens,
           CAST(k AS BIGINT) AS k
    FROM chunks
    """
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want and len(got) > 0


def test_pack_order_col_seed_changes_composition(spark):
    """The epoch_shuffle → pack composition: different seeds must
    produce different chunk compositions (the round-5 gap: packing
    ignored input order, making the seed a no-op)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        epoch_shuffle,
    )

    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")

    def layout(seed):
        shuffled = epoch_shuffle(docs, seed=seed, sort=False)
        out = pack_token_chunks(
            shuffled, budget=256, n_shards=8, order_col="_order"
        )
        return sorted(
            (r.shard, r.chunk_id, r.doc_id) for r in out.collect()
        )

    a0, a0_again, a1 = layout(0), layout(0), layout(1)
    assert a0 == a0_again                       # same seed: bit-identical
    assert a0 != a1                             # different seed: different packing
    # same survivors either way — the seed permutes, never filters
    assert sorted({d for _, _, d in a0}) == sorted({d for _, _, d in a1})


def test_packed_write_preserves_stream_order(spark, tmp_path):
    """The writer API (`write_packed_corpus`, recipe documented in
    SCALE.md): repartitionByRange + sortWithinPartitions on
    (shard, chunk_id, chunk_start) materializes the shuffled stream
    order to files — lexicographic file order IS stream order, no
    re-sort needed at read time."""
    import glob
    import os

    import pyarrow.parquet as pq

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        epoch_shuffle,
        write_packed_corpus,
    )

    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    chunks = pack_token_chunks(
        epoch_shuffle(docs, seed=5, sort=False),
        budget=128,
        n_shards=4,
        order_col="_order",
    )
    path = str(tmp_path / "packed")
    write_packed_corpus(chunks, path, n_files=4)
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    assert len(files) > 1
    prev_last = None
    n_rows = 0
    for f in files:
        tbl = pq.read_table(f, columns=["shard", "chunk_id", "chunk_start"])
        keys = list(
            zip(
                tbl["shard"].to_pylist(),
                tbl["chunk_id"].to_pylist(),
                tbl["chunk_start"].to_pylist(),
            )
        )
        n_rows += len(keys)
        assert keys == sorted(keys)              # in-file order = stream order
        if keys:
            if prev_last is not None:
                assert prev_last <= keys[0]      # cross-file boundaries monotone
            prev_last = keys[-1]
    assert n_rows == chunks.count()


def test_filter_funnel_empty_input_is_all_zero(spark):
    """SUM over zero rows is NULL; the funnel must report an all-zero
    row on an empty corpus, not total=0 with NULL stages."""
    docs = spark.createDataFrame([], "doc_id long, n_tok long")
    [r] = filter_funnel(docs, [("pos", F.col("n_tok") > 0)]).collect()
    assert r.total == 0
    assert r.after_pos == 0 and r.after_pos is not None


def test_dedup_spans_blank_lines_always_survive(spark):
    """Zero-length trimmed spans are structure (paragraph separators),
    not content: they must survive global dedup even at the default
    min_chars=0 — otherwise every blank line after the corpus-first
    one is silently stripped."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "para one\n\npara two"),
            (2, "para three\n\npara four\n\npara one"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text_deduped for r in dedup_spans(docs).collect()}
    assert out[1] == "para one\n\npara two"
    # 'para one' dedups (seen in doc 1); BOTH blank separators survive
    assert out[2] == "para three\n\npara four\n"


# ---------------------------------------------------------------------------
# pack_documents_no_split — whole-document greedy packing
# ---------------------------------------------------------------------------


def _docs_from_counts(spark, counts):
    return spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(counts)],
        "doc_id long, text string",
    )


def test_no_split_golden_layout(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_documents_no_split,
    )

    # one shard, doc order = id order, budget 10:
    # [4, 5] -> chunk0 (9), [7] -> chunk1, [12 oversize] -> chunk2 alone,
    # [3, 6] -> chunk3 (9), [2] -> chunk4
    docs = _docs_from_counts(spark, [4, 5, 7, 12, 3, 6, 2])
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["oversize"])
        for r in pack_documents_no_split(docs, budget=10, n_shards=1).collect()
    )
    assert rows == [
        (0, 0, False),
        (1, 0, False),
        (2, 1, False),
        (3, 2, True),
        (4, 3, False),
        (5, 3, False),
        (6, 4, False),
    ]


def test_no_split_invariants_on_fixture(spark, sf_dir):
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_documents_no_split,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    budget = 256
    packed = pack_documents_no_split(docs, budget=budget, n_shards=4)
    pdf = packed.toPandas()
    # one row per non-empty doc, docs never split
    assert pdf["doc_id"].is_unique
    # no chunk over budget unless it is a single oversize doc
    by_chunk = pdf.groupby(["shard", "chunk_id"]).agg(
        tok=("n_tok", "sum"), n=("doc_id", "count"), over=("oversize", "any")
    )
    bad = by_chunk[(by_chunk["tok"] > budget) & ~by_chunk["over"]]
    assert bad.empty
    assert (by_chunk[by_chunk["over"]]["n"] == 1).all()
    # chunk count can't beat the theoretical floor
    import math

    assert len(by_chunk) >= math.ceil(int(pdf["n_tok"].sum()) / budget) - len(
        by_chunk[by_chunk["over"]]
    )


def test_no_split_deterministic_and_order_sensitive(spark, sf_dir):
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        epoch_shuffle,
        pack_documents_no_split,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    key = lambda df: sorted(
        (r["shard"], r["chunk_id"], r["doc_id"]) for r in df.collect()
    )
    a = key(pack_documents_no_split(docs, budget=256, n_shards=4))
    b = key(
        pack_documents_no_split(docs.repartition(11), budget=256, n_shards=4)
    )
    assert a == b
    s0 = epoch_shuffle(docs, seed=0, sort=False)
    s1 = epoch_shuffle(docs, seed=1, sort=False)
    c = key(pack_documents_no_split(s0, budget=256, n_shards=4, order_col="_order"))
    d = key(pack_documents_no_split(s1, budget=256, n_shards=4, order_col="_order"))
    assert c != d


def test_write_packed_corpus_handles_no_split_layout(spark, sf_dir, tmp_path):
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_documents_no_split,
        write_packed_corpus,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    packed = pack_documents_no_split(docs, budget=256, n_shards=2)
    out = str(tmp_path / "packed_ns")
    write_packed_corpus(packed, out, n_files=2)
    back = spark.read.parquet(out)
    assert back.count() == packed.count()


def test_no_split_writer_preserves_shuffled_walk_order(spark, sf_dir, tmp_path):
    """With order_col driving the pack, in-chunk doc order follows the
    shuffle key, NOT doc_id — the writer must preserve the recorded
    chunk_pos so a reader streams the epoch shuffle's order."""
    import pandas as pd

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        epoch_shuffle,
        pack_documents_no_split,
        write_packed_corpus,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = epoch_shuffle(
        load_fixture_table(spark, sf_dir, "documents"), seed=3, sort=False
    )
    packed = pack_documents_no_split(
        docs, budget=256, n_shards=2, order_col="_order"
    )
    want = (
        packed.orderBy("shard", "chunk_id", "chunk_pos")
        .select("doc_id")
        .toPandas()["doc_id"]
        .tolist()
    )
    # the shuffled walk genuinely differs from doc_id order in-chunk
    by_id = (
        packed.orderBy("shard", "chunk_id", "doc_id")
        .select("doc_id")
        .toPandas()["doc_id"]
        .tolist()
    )
    assert want != by_id
    out = str(tmp_path / "packed_order")
    write_packed_corpus(packed, out, n_files=2)
    import glob

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    got = []
    for f in files:
        got.extend(pd.read_parquet(f)["doc_id"].tolist())
    assert got == want


# ---------------------------------------------------------------------------
# cdc_chunks — content-defined chunking
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------- manifest


def test_shard_manifest_duckdb_oracle(spark, sf_dir, tmp_path):
    """shard_manifest accounting (rows/chunks/docs/tokens/checksum)
    replays exactly in DuckDB over the same packed rows — the
    engine-portable audit the docstring promises."""
    import duckdb

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_token_chunks,
        shard_manifest,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    chunks = pack_token_chunks(docs, budget=256, n_shards=8)
    chunks_path = str(tmp_path / "chunks")
    chunks.write.parquet(chunks_path)

    got = sorted(
        tuple(r)
        for r in shard_manifest(spark.read.parquet(chunks_path)).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"""
        SELECT shard,
               count(*) AS n_rows,
               count(DISTINCT chunk_id) AS n_chunks,
               count(DISTINCT doc_id) AS n_docs,
               CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
               sum(CAST(CAST(CONCAT('0x', substr(md5(
                     concat_ws('|', shard, chunk_id, doc_id,
                               chunk_start, chunk_tokens, n_tok)
                   ), 1, 15)) AS BIGINT) AS DECIMAL(38, 0))) AS checksum
        FROM '{chunks_path}/*.parquet'
        GROUP BY shard
        """
        ).fetchall()
    )
    assert len(got) == 8
    assert got == want


def test_shard_manifest_order_invariant_and_dup_sensitive(spark):
    """The checksum certifies CONTENT: invariant under any row order /
    partitioning of the same rows, but a duplicated row (the bit-xor
    blind spot) and a single changed token count both move it."""
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_token_chunks,
        shard_manifest,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * (5 + i % 7)) for i in range(60)],
        "doc_id long, text string",
    )
    chunks = pack_token_chunks(docs, budget=16, n_shards=4)
    base = {r["shard"]: tuple(r) for r in shard_manifest(chunks).collect()}
    shuffled = {
        r["shard"]: tuple(r)
        for r in shard_manifest(
            chunks.repartition(13).sortWithinPartitions("doc_id")
        ).collect()
    }
    assert base == shuffled

    # deterministic single row: limit() without an order can pick a
    # different row per action, and `one` is evaluated twice below
    one = chunks.orderBy("shard", "chunk_id", "doc_id").limit(1)
    dup = {
        r["shard"]: tuple(r)
        for r in shard_manifest(chunks.unionAll(one)).collect()
    }
    tampered_shard = one.collect()[0]["shard"]
    assert dup[tampered_shard] != base[tampered_shard]

    from pyspark.sql import functions as F

    changed = chunks.withColumn(
        "chunk_tokens",
        F.when(
            (F.col("shard") == tampered_shard) & (F.col("chunk_id") == 0),
            F.col("chunk_tokens") + 1,
        ).otherwise(F.col("chunk_tokens")),
    )
    assert (
        {r["shard"]: tuple(r) for r in shard_manifest(changed).collect()}[
            tampered_shard
        ]
        != base[tampered_shard]
    )


def test_shard_manifest_no_split_shape_and_validation(spark, tmp_path):
    """No-split manifest: totals reconcile, the checksum replays in
    DuckDB INCLUDING the boolean oversize rendering ('true'/'false'
    in both engines' concat_ws), and a flipped oversize flag moves
    the digest (the tamper class the 5-column checksum missed)."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_documents_no_split,
        shard_manifest,
    )

    docs = spark.createDataFrame(
        [(i, "w " * (3 + i % 5)) for i in range(20)],
        "doc_id long, text string",
    )
    packed = pack_documents_no_split(docs, budget=8, n_shards=3)
    rows = shard_manifest(packed).collect()
    assert sum(r["n_tokens"] for r in rows) == sum(
        3 + i % 5 for i in range(20)
    )
    assert sum(r["n_docs"] for r in rows) == 20
    with pytest.raises(ValueError, match="not a packed-chunk frame"):
        shard_manifest(docs)

    packed_path = str(tmp_path / "nosplit")
    packed.write.parquet(packed_path)
    got = sorted(
        tuple(r)
        for r in shard_manifest(spark.read.parquet(packed_path)).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"""
        SELECT shard,
               count(*) AS n_rows,
               count(DISTINCT chunk_id) AS n_chunks,
               count(DISTINCT doc_id) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               sum(CAST(CAST(CONCAT('0x', substr(md5(
                     concat_ws('|', shard, chunk_id, doc_id,
                               chunk_pos, n_tok, oversize)
                   ), 1, 15)) AS BIGINT) AS DECIMAL(38, 0))) AS checksum
        FROM '{packed_path}/*.parquet'
        GROUP BY shard
        """
        ).fetchall()
    )
    assert got == want

    base = {r["shard"]: r["checksum"] for r in rows}
    flipped = {
        r["shard"]: r["checksum"]
        for r in shard_manifest(
            packed.withColumn("oversize", ~F.col("oversize"))
        ).collect()
    }
    assert all(flipped[s] != base[s] for s in base)


def test_verify_packed_corpus_roundtrip_and_tamper(spark, tmp_path):
    """verify_packed_corpus is empty against an intact corpus and
    names exactly the tampered/missing shards afterwards."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_token_chunks,
        shard_manifest,
        verify_packed_corpus,
        write_packed_corpus,
    )

    docs = spark.createDataFrame(
        [(i, "word " * (4 + i % 9)) for i in range(80)],
        "doc_id long, text string",
    )
    chunks = pack_token_chunks(docs, budget=32, n_shards=4)
    data = str(tmp_path / "packed")
    manifest = str(tmp_path / "manifest")
    write_packed_corpus(chunks, data)
    shard_manifest(spark.read.parquet(data)).coalesce(1).write.parquet(
        manifest
    )

    assert verify_packed_corpus(spark, data, manifest).count() == 0

    # tamper: drop one shard's rows entirely on disk
    victim = chunks.select("shard").distinct().collect()[0]["shard"]
    kept = spark.read.parquet(data).filter(F.col("shard") != victim)
    tampered = str(tmp_path / "tampered")
    kept.write.parquet(tampered)
    bad = verify_packed_corpus(spark, tampered, manifest).collect()
    assert [r["shard"] for r in bad] == [victim]
    assert bad[0]["got_n_rows"] is None  # missing side is NULL, not 0

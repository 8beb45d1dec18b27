"""Gopher-style repetition filters: golden semantics, DuckDB
cross-engine oracle over the fixture corpus, NULL short-doc policy,
and the no-shuffle plan shape of the in-row line
statistics."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.repetition import (
    doc_repetition_profile,
    line_repetition_cols,
    ngram_repetition,
    word_ngrams,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def test_line_repetition_golden(spark):
    # 4 lines: "nav" appears 3x (2 dup occurrences), "body text" once.
    docs = spark.createDataFrame(
        [(1, "nav\nbody text\nnav\nnav"), (2, "a\nb"), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *line_repetition_cols(F.col("text"))
        ).collect()
    }
    assert rows[1]["n_lines"] == 4
    assert rows[1]["dup_line_frac"] == 0.5  # 2 extra of 4
    # chars: nav*3 + "body text" = 18; distinct = 3 + 9 = 12 → 6/18
    assert rows[1]["dup_line_char_frac"] == round(6 / 18, 6)
    assert rows[2]["dup_line_frac"] == 0.0
    # empty text splits to [""] — one line, zero chars, zero dups
    assert rows[3]["n_lines"] == 1
    assert rows[3]["dup_line_char_frac"] == 0.0


def test_word_ngrams_short_doc_empty(spark):
    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "solo")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["g"]
        for r in docs.select(
            "doc_id", word_ngrams(F.col("text"), 2).alias("g")
        ).collect()
    }
    assert rows[1] == ["one two", "two three"]
    assert rows[2] == []


def test_ngram_repetition_golden(spark):
    # "spam spam spam ham": 2-grams = [spam spam ×2, spam ham].
    # top = 2*9=18, all = 2*9+8=26, dup = 18.
    docs = spark.createDataFrame(
        [(1, "spam spam spam ham"), (2, "x")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in ngram_repetition(docs, 2).collect()}
    assert rows[1]["top_2gram_char_frac"] == round(18 / 26, 6)
    assert rows[1]["dup_2gram_char_frac"] == round(18 / 26, 6)
    # one token — no 2-grams: NULL, not 0.0 (distinguishable states)
    assert rows[2]["top_2gram_char_frac"] is None
    assert rows[2]["dup_2gram_char_frac"] is None


def test_doc_repetition_profile_matches_duckdb_oracle(spark, sf_dir):
    """Cross-engine oracle (catalog is at its 50-entry driver cap, so
    the parity check lives here): DuckDB replays the line stats, the
    n-gram construction, and all three character-mass aggregates; every
    output cell must match."""
    got = sorted(
        tuple(r)
        for r in doc_repetition_profile(
            load_fixture_table(spark, sf_dir, "documents"),
            top_ns=(2, 3),
            dup_ns=(5,),
        ).collect()
    )
    gram_cte = r"""
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= {n} THEN
          list_transform(range(1, len(t) - {m} + 1),
                         i -> array_to_string(t[i:i+{m}], ' '))
        ELSE [] END) AS g
      FROM toks
    """
    sql = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS t,
             string_split(text, chr(10)) AS lines
      FROM read_parquet('{p}/documents.parquet')
    ), linestats AS (
      SELECT doc_id,
        len(lines) AS n_lines,
        ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
              / len(lines), 6) AS dup_line_frac,
        ROUND(CASE WHEN list_sum(list_transform(lines, l -> length(l))) = 0
              THEN 0.0 ELSE
              CAST(list_sum(list_transform(lines, l -> length(l)))
                   - list_sum(list_transform(list_distinct(lines),
                                             l -> length(l))) AS DOUBLE)
              / list_sum(list_transform(lines, l -> length(l))) END, 6)
          AS dup_line_char_frac
      FROM toks
    ), g2 AS ({g2}), g3 AS ({g3}), g5 AS ({g5}),
    a2 AS (
      SELECT doc_id, ROUND(CAST(max(c * glen) AS DOUBLE) / sum(c * glen), 6)
               AS top_2gram_char_frac
      FROM (SELECT doc_id, g, count(*) AS c, length(g) AS glen
            FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
    ), a3 AS (
      SELECT doc_id, ROUND(CAST(max(c * glen) AS DOUBLE) / sum(c * glen), 6)
               AS top_3gram_char_frac
      FROM (SELECT doc_id, g, count(*) AS c, length(g) AS glen
            FROM g3 GROUP BY doc_id, g) GROUP BY doc_id
    ), a5 AS (
      SELECT doc_id,
             ROUND(CAST(sum(CASE WHEN c > 1 THEN c * glen ELSE 0 END)
                   AS DOUBLE) / sum(c * glen), 6) AS dup_5gram_char_frac
      FROM (SELECT doc_id, g, count(*) AS c, length(g) AS glen
            FROM g5 GROUP BY doc_id, g) GROUP BY doc_id
    )
    SELECT l.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
           top_2gram_char_frac, top_3gram_char_frac, dup_5gram_char_frac
    FROM linestats l
    LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
    LEFT JOIN a5 USING (doc_id)
    """.format(
        p=sf_dir,
        g2=gram_cte.format(n=2, m=1),
        g3=gram_cte.format(n=3, m=2),
        g5=gram_cte.format(n=5, m=4),
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert len(got) == 500
    assert got == want


def test_line_repetition_is_shuffle_free(spark):
    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "z")], "doc_id long, text string"
    )
    plan = (
        docs.select("doc_id", *line_repetition_cols(F.col("text")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan

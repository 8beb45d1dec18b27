"""BM25 retrieval: hand-checkable ranking golden, exact agreement with
both a single-process reference scorer AND a DuckDB SQL replay on the
fixture corpus, broadcast plan shape, and edge policies."""

from __future__ import annotations

import duckdb
import pytest

from hospital_stain_tracker_data_pipeline_spark.operators.retrieval import (
    bm25_reference,
    bm25_topk,
    build_bm25_index,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def test_bm25_ranking_golden(spark):
    rows = [
        (1, "spark query engine for big data"),
        (2, "spark spark spark nothing else"),
        (3, "a cooking recipe with no relevant terms"),
        (4, "query optimization in a distributed engine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_bm25_index(docs)
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(idx, "spark query engine", k=10).collect()
    }
    want = bm25_reference(rows, "spark query engine")
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=2e-6)
    # doc 1 carries all three terms: it must rank first
    assert max(got, key=got.get) == 1
    # the cooking doc matches nothing
    assert 3 not in got


def test_bm25_matches_duckdb_oracle(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    idx = build_bm25_index(docs)
    query = "the data of and system"
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(idx, query, k=25, round_to=None).collect()
    ]
    terms = sorted(set(query.lower().split()))
    terms_sql = ", ".join(f"('{t}')" for t in terms)
    oracle = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             t -> t <> '') AS ts
          FROM '{sf_dir}/documents.parquet'
        ),
        dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        post AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
          GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
        q(term) AS (VALUES {terms_sql}),
        scored AS (
          SELECT p.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                 ) AS score
          FROM post p
          JOIN q USING (term)
          JOIN dfs USING (term)
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          GROUP BY 1
        )
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id ASC LIMIT 25
        """
    ).fetchall()
    assert len(got) == len(oracle) > 0
    for (gd, gs), (od, os_) in zip(got, oracle):
        assert gd == od
        assert gs == pytest.approx(os_, rel=1e-9)


def test_bm25_plan_broadcasts_query_and_dfs(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    idx = build_bm25_index(docs)
    plan = (
        bm25_topk(idx, "the data", k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # distributed top-k, not a single-task global rank window
    assert "TakeOrdered" in plan, plan
    assert "Window" not in plan, plan


def test_bm25_edge_policies(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "")], "doc_id long, text string"
    )
    idx = build_bm25_index(docs)
    assert idx.n_docs == 2
    # zero-token doc: dl=0 row, no postings, never matched
    assert {r["doc_id"]: r["dl"] for r in idx.doc_lens.collect()} == {1: 2, 2: 0}
    got = bm25_topk(idx, "hello missing", k=5).collect()
    assert [r["doc_id"] for r in got] == [1]
    with pytest.raises(ValueError, match="no tokens"):
        bm25_topk(idx, "   ")
    # duplicate query terms count once
    a = bm25_topk(idx, "hello hello", k=5).collect()[0]["score"]
    b = bm25_topk(idx, "hello", k=5).collect()[0]["score"]
    assert a == b


def test_bm25_bulk_scores_match_per_query_topk(spark, sf_dir):
    """The vectorized eval-set scorer must reproduce bm25_topk's
    per-query scores exactly for every eval doc."""
    from hospital_stain_tracker_data_pipeline_spark.operators.retrieval import (
        bm25_bulk_scores,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    idx = build_bm25_index(docs)
    eval_rows = [
        (100, "the data system"),
        (200, "of and processing"),
    ]
    eval_docs = spark.createDataFrame(eval_rows, "eval_id long, text string")
    bulk = {
        (r["doc_id"], r["eval_id"]): r["score"]
        for r in bm25_bulk_scores(idx, eval_docs, round_to=None).collect()
    }
    assert bulk
    for eval_id, q in eval_rows:
        per = {
            r["doc_id"]: r["score"]
            for r in bm25_topk(idx, q, k=10**6, round_to=None).collect()
        }
        got = {d: s for (d, e), s in bulk.items() if e == eval_id}
        assert got == pytest.approx(per)

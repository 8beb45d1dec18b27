"""Token-budget mixture planning: inventory golden, water-filling
allocation hand-checks, error policy, and the sampler's exact DuckDB
oracle (full-epoch replication + hash-ordered fractional token prefix)
plus determinism and budget-conservation bounds."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
    plan_token_mixture,
    sample_token_mixture,
    source_token_stats,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _corpus(spark):
    rows = [
        # source A: 2 docs, 10 tokens total
        (1, "a b c d", "A"),
        (2, "e f g h i j", "A"),
        # source B: 2 docs, 4 tokens
        (3, "k l", "B"),
        (4, "m n", "B"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_source_token_stats_golden(spark):
    got = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in source_token_stats(_corpus(spark)).collect()
    }
    assert got == {"A": (2, 10), "B": (2, 4)}


def test_plan_water_filling_hand_check(spark):
    stats = spark.createDataFrame(
        [("A", 10, 1000), ("B", 10, 1000), ("C", 10, 2000)],
        "source string, n_docs long, n_tokens long",
    )
    # weights 3:1:1 over target 3000 with 1-epoch caps: A wants 1800
    # but caps at 1000; the 800 surplus water-fills B and C equally
    # until B caps at 1000 and C lands at 1000.
    plan = plan_token_mixture(
        stats, target_tokens=3000, weights={"A": 3, "B": 1, "C": 1},
        max_epochs=1.0,
    )
    alloc = {a.source: a.target_tokens for a in plan}
    assert alloc == {"A": 1000, "B": 1000, "C": 1000}
    epochs = {a.source: a.epochs for a in plan}
    assert epochs == {"A": 1.0, "B": 1.0, "C": 0.5}


def test_plan_defaults_and_caps(spark):
    stats = spark.createDataFrame(
        [("A", 1, 100), ("B", 1, 300)],
        "source string, n_docs long, n_tokens long",
    )
    # proportional default: 1:3 split
    plan = plan_token_mixture(stats, target_tokens=200)
    alloc = {a.source: a.target_tokens for a in plan}
    assert alloc == {"A": 50, "B": 150}
    # budget above everything available: caps bind, surplus unplaced
    plan2 = plan_token_mixture(stats, target_tokens=10_000, max_epochs=2.0)
    alloc2 = {a.source: a.target_tokens for a in plan2}
    assert alloc2 == {"A": 200, "B": 600}
    # weight 0 excludes a source
    plan3 = plan_token_mixture(stats, target_tokens=100, weights={"B": 1.0})
    alloc3 = {a.source: a.target_tokens for a in plan3}
    assert alloc3 == {"A": 0, "B": 100}
    with pytest.raises(ValueError, match="absent"):
        plan_token_mixture(stats, 100, weights={"Z": 1.0})
    with pytest.raises(ValueError):
        plan_token_mixture(stats, -1)
    with pytest.raises(ValueError):
        plan_token_mixture(stats, 100, max_epochs=0)


def test_sample_epochs_and_fractional_prefix_golden(spark):
    docs = _corpus(spark)
    stats = source_token_stats(docs)
    # A: 10 tokens available, quota 15 -> 1 full epoch + 5-token prefix;
    # B: 4 available, quota 4 -> exactly 1 full epoch, no fraction
    plan = plan_token_mixture(
        stats, target_tokens=19, weights={"A": 15, "B": 4}, max_epochs=2.0
    )
    alloc = {a.source: a.target_tokens for a in plan}
    assert alloc == {"A": 15, "B": 4}
    out = sample_token_mixture(docs, plan, seed=7)
    rows = [(r["source"], r["epoch"], r["doc_id"]) for r in out.collect()]
    a0 = sorted(d for s, e, d in rows if s == "A" and e == 0)
    b0 = sorted(d for s, e, d in rows if s == "B" and e == 0)
    a1 = [d for s, e, d in rows if s == "A" and e == 1]
    assert a0 == [1, 2] and b0 == [3, 4]
    assert not [d for s, e, d in rows if s == "B" and e == 1]
    # the 5-token remainder takes docs in md5 order until reached:
    # whichever doc comes first (4 or 6 tokens) crosses 5 alone unless
    # the 4-token doc leads and leaves 1 token for the next
    assert a1, "fractional epoch must be non-empty"
    toks = {1: 4, 2: 6}
    total = sum(toks[d] for d in a1)
    assert total >= 5 and total - max(toks[d] for d in a1) < 5


def test_sample_matches_duckdb_oracle(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    stats = source_token_stats(docs)
    # uniform 1.5 epochs of every source
    total = sum(r["n_tokens"] for r in stats.collect())
    plan = plan_token_mixture(
        stats, target_tokens=int(total * 1.5), max_epochs=1.5
    )
    seed = 5
    got = sorted(
        (r["source"], r["epoch"], r["doc_id"])
        for r in sample_token_mixture(docs, plan, seed=seed).collect()
    )
    quota_rows = ", ".join(
        f"('{a.source}', {a.target_tokens})" for a in plan if a.target_tokens
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"""
        WITH q(source, quota) AS (VALUES {quota_rows}),
        tok AS (
          SELECT doc_id, source,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                 END AS n_tok
          FROM '{sf_dir}/documents.parquet'
        ),
        avail AS (SELECT source, sum(n_tok) AS av FROM tok GROUP BY 1),
        par AS (
          SELECT q.source, quota, av,
                 CAST(quota // av AS BIGINT) AS n_full,
                 quota - CAST(quota // av AS BIGINT) * av AS rem
          FROM q JOIN avail USING (source)
        ),
        fulls AS (
          SELECT t.source, CAST(e AS INT) AS epoch, t.doc_id
          FROM tok t JOIN par USING (source),
               unnest(range(0, n_full)) AS r(e)
        ),
        frac AS (
          SELECT source, CAST(n_full AS INT) AS epoch, doc_id
          FROM (
            SELECT t.source, p.n_full, t.doc_id, p.rem,
                   sum(t.n_tok) OVER (
                     PARTITION BY t.source
                     ORDER BY md5({seed} || ':' || CAST(p.n_full AS VARCHAR)
                                || ':' || CAST(t.doc_id AS VARCHAR)),
                              t.doc_id
                     ROWS UNBOUNDED PRECEDING
                   ) AS cum,
                   t.n_tok
            FROM tok t JOIN par p USING (source)
            WHERE p.rem > 0
          ) WHERE cum - n_tok < rem
        )
        SELECT * FROM fulls UNION ALL SELECT * FROM frac
        """
        ).fetchall()
    )
    assert got == want
    assert got, "sample must be non-empty"


def test_sample_partitioning_invariant_and_seed_sensitive(spark, sf_dir):
    docs = load_fixture_table(spark, sf_dir, "documents")
    stats = source_token_stats(docs)
    total = sum(r["n_tokens"] for r in stats.collect())
    plan = plan_token_mixture(stats, target_tokens=total // 2)
    key = lambda df: sorted(
        (r["source"], r["epoch"], r["doc_id"]) for r in df.collect()
    )
    a = key(sample_token_mixture(docs, plan, seed=1))
    b = key(sample_token_mixture(docs.repartition(9), plan, seed=1))
    c = key(sample_token_mixture(docs, plan, seed=2))
    assert a == b
    assert a != c


def test_blank_docs_carry_zero_tokens(spark):
    """The packing module's empty-doc guard applies to the inventory
    and the sampler: blank docs claim no budget (split('') would
    otherwise count 1 token each — budget packing cannot deliver)."""
    docs = spark.createDataFrame(
        [(1, "a b", "s"), (2, "", "s"), (3, "   ", "s")],
        "doc_id long, text string, source string",
    )
    [r] = source_token_stats(docs).collect()
    assert (r["n_docs"], r["n_tokens"]) == (3, 2)


def test_plan_token_mixture_uniform_weights_water_fill(spark):
    """Uniform weights: every non-empty source gets an equal token
    grant (up to caps), and the planner's water-filling still honors
    epoch caps."""
    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        plan_token_mixture,
    )

    stats = spark.createDataFrame(
        [("a", 10, 6000), ("b", 10, 3000), ("c", 10, 1000)],
        "source string, n_docs long, n_tokens long",
    )
    uniform = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    plan = plan_token_mixture(
        stats, target_tokens=3000, weights=uniform, max_epochs=1.0,
    )
    got = {a.source: a.target_tokens for a in plan}
    assert got == {"a": 1000, "b": 1000, "c": 1000}
    # caps bind: source c can only give 1000; its surplus water-fills
    plan2 = plan_token_mixture(
        stats, target_tokens=6000, weights=uniform, max_epochs=1.0,
    )
    got2 = {a.source: a.target_tokens for a in plan2}
    assert got2["c"] == 1000 and got2["a"] + got2["b"] == 5000
    assert got2["a"] == got2["b"]


def test_sample_exact_k_duckdb_kept_set_and_plan(spark, sf_dir):
    """Exact-k sampling: the kept-id set replays in DuckDB via the
    same md5 permutation; different seeds draw different sets; the
    plan is TakeOrderedAndProject (no global sort exchange)."""
    import contextlib
    import io

    import duckdb

    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        sample_exact_k,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        r["doc_id"]
        for r in sample_exact_k(docs, 25, seed=3).select("doc_id").collect()
    )
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')
            ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)), doc_id
            LIMIT 25
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    assert len(got) == 25

    other = sorted(
        r["doc_id"]
        for r in sample_exact_k(docs, 25, seed=4).select("doc_id").collect()
    )
    assert other != got

    # k > n -> whole frame, no error
    tiny = docs.limit(3)
    assert sample_exact_k(tiny, 100).count() == 3

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sample_exact_k(docs, 25, seed=3).explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()


def test_sample_stratified_duckdb_kept_set(spark, sf_dir):
    """Per-stratum exact counts, kept set replayed in DuckDB via the
    same md5 window permutation, NULL stratum sampled as a real
    stratum, fraction mode allocates floor(n_s * f) per stratum."""
    import duckdb
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        sample_stratified,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
                F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string"))
            ),
        )
    )
    got = sorted(
        r["doc_id"]
        for r in sample_stratified(docs, "lang", k=5, seed=2)
        .select("doc_id")
        .collect()
    )
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN NULL
                          ELSE 'l' || CAST(doc_id % 3 AS VARCHAR) END AS lang
              FROM read_parquet('{sf_dir}/documents.parquet')
            ), r AS (
              SELECT doc_id, row_number() OVER (
                PARTITION BY lang
                ORDER BY md5('2:' || CAST(doc_id AS VARCHAR)), doc_id
              ) AS rk FROM d
            ) SELECT doc_id FROM r WHERE rk <= 5
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    # every stratum (3 langs + NULL) contributed exactly 5
    per = {
        r["lang"]: r["n"]
        for r in sample_stratified(docs, "lang", k=5, seed=2)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per.values()) == {5} and len(per) == 4 and None in per

    # fraction mode: floor(n_s * f) rows per stratum, exactly
    f_ = 0.25
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    per_f = {
        r["lang"]: r["n"]
        for r in sample_stratified(docs, "lang", fraction=f_, seed=2)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import math as _math

    assert per_f == {
        lang: _math.floor(n * f_) for lang, n in sizes.items()
    }


def test_sample_stratified_validation_and_small_strata(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        sample_stratified,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, s string"
    )
    with _pytest.raises(ValueError, match="exactly one"):
        sample_stratified(df, "s")
    with _pytest.raises(ValueError, match="exactly one"):
        sample_stratified(df, "s", k=1, fraction=0.5)
    with _pytest.raises(ValueError, match="fraction"):
        sample_stratified(df, "s", fraction=1.5)
    # k larger than a stratum: the whole stratum, no error
    got = sample_stratified(df, "s", k=10, seed=0)
    assert got.count() == 3
    # seeds draw different sets when the stratum is larger than k
    big = spark.createDataFrame(
        [(i, "x") for i in range(200)], "doc_id long, s string"
    )
    s1 = {r["doc_id"] for r in sample_stratified(big, "s", k=20, seed=1).collect()}
    s2 = {r["doc_id"] for r in sample_stratified(big, "s", k=20, seed=2).collect()}
    assert len(s1) == 20 and len(s2) == 20 and s1 != s2


def test_sample_stratified_reserved_columns_raise(spark):
    import pytest as _pytest

    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        sample_stratified,
    )

    df = spark.createDataFrame(
        [(1, "a", 9)], "doc_id long, s string, _rk long"
    )
    with _pytest.raises(ValueError, match="reserved"):
        sample_stratified(df, "s", k=1)

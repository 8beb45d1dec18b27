"""N-gram LM perplexity (CCNet-style quality stage): gram
construction, hand-computed add-k golden, smoothing properness,
min_count pruning semantics, unseen-context floor, the full DuckDB
cross-engine oracle over the fixture corpus, and the broadcast-join
plan shape of scoring."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.lm import (
    _exploded_grams,
    lm_tokens,
    score_perplexity,
    train_ngram_lm,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _toy(spark):
    return spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )


def test_lm_tokens_and_ngrams_golden(spark):
    docs = spark.createDataFrame(
        [(1, "  Hello   world "), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    toks = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", lm_tokens(F.col("text")).alias("t")
        ).collect()
    }
    assert toks == {1: ["hello", "world"], 2: [], 3: ["solo"]}

    def grams(n):
        # the training path's gram builder: no row for a token-free doc
        out: dict[int, list] = {1: [], 2: [], 3: []}
        ex = _exploded_grams(docs, n, "text", keep=["doc_id"], outer=False)
        for r in ex.collect():
            out[r["doc_id"]].append((r["ctx"], r["word"]))
        return out

    g1, g2, g3 = grams(1), grams(2), grams(3)
    assert g2[1] == [("<s>", "hello"), ("hello", "world")]
    assert g1[1] == [("", "hello"), ("", "world")]
    assert g3[1] == [("<s> <s>", "hello"), ("<s> hello", "world")]
    # empty doc: zero tokens, zero grams (not [""])
    assert g1[2] == g2[2] == g3[2] == []
    assert g2[3] == [("<s>", "solo")]


def test_train_counts_and_vocab_golden(spark):
    lm = train_ngram_lm(_toy(spark), n=2, k=0.1)
    grams = {
        (r["ctx"], r["word"]): r["c_cw"] for r in lm.grams.collect()
    }
    ctxs = {r["ctx"]: r["c_ctx"] for r in lm.contexts.collect()}
    assert grams == {("<s>", "a"): 3, ("a", "b"): 2, ("a", "c"): 1}
    assert ctxs == {"<s>": 3, "a": 3}
    assert lm.vocab_size == 3
    assert lm.n == 2 and lm.k == 0.1


def test_perplexity_hand_computed_golden(spark):
    lm = train_ngram_lm(_toy(spark), n=2, k=0.1)
    got = {
        r["doc_id"]: r
        for r in score_perplexity(_toy(spark), lm, round_to=None).collect()
    }
    # denom adds k*(V+1) = 0.4
    p_a = 3.1 / 3.4
    p_b = 2.1 / 3.4
    p_c = 1.1 / 3.4
    anl1 = -(math.log(p_a) + math.log(p_b)) / 2
    anl3 = -(math.log(p_a) + math.log(p_c)) / 2
    assert got[1]["n_grams"] == 2
    assert got[1]["avg_neg_logp"] == pytest.approx(anl1, rel=1e-12)
    assert got[1]["perplexity"] == pytest.approx(math.exp(anl1), rel=1e-12)
    assert got[3]["avg_neg_logp"] == pytest.approx(anl3, rel=1e-12)
    # identical docs score identically
    assert got[2]["avg_neg_logp"] == got[1]["avg_neg_logp"]


def test_unseen_word_and_context_floors(spark):
    lm = train_ngram_lm(_toy(spark), n=2, k=0.1)
    probe = spark.createDataFrame([(10, "z z")], "doc_id long, text string")
    [r] = score_perplexity(probe, lm, round_to=None).collect()
    # (<s>, z): known ctx, unseen word -> k / (c_ctx + k(V+1))
    # (z, z): unseen ctx -> uniform 1/(V+1)
    anl = -(math.log(0.1 / 3.4) + math.log(1 / 4)) / 2
    assert r["n_grams"] == 2
    assert r["avg_neg_logp"] == pytest.approx(anl, rel=1e-12)


def test_empty_doc_scores_null_not_dropped(spark):
    lm = train_ngram_lm(_toy(spark), n=2, k=0.1)
    probe = spark.createDataFrame(
        [(10, "a b"), (11, "   "), (12, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in score_perplexity(probe, lm).collect()}
    assert set(got) == {10, 11, 12}
    for d in (11, 12):
        assert got[d]["n_grams"] == 0
        assert got[d]["avg_neg_logp"] is None
        assert got[d]["perplexity"] is None


def test_add_k_distribution_is_proper(spark):
    """For a known context, p over the V known words + the OOV bucket
    sums to exactly 1 (the smoothing is a true distribution, not a
    score hack); with min_count pruning the scored mass can only
    DROP (pruned grams fall to the floor), never exceed 1."""
    lm = train_ngram_lm(_toy(spark), n=2, k=0.1)
    V, k = lm.vocab_size, lm.k
    ctxs = {r["ctx"]: r["c_ctx"] for r in lm.contexts.collect()}
    grams = {(r["ctx"], r["word"]): r["c_cw"] for r in lm.grams.collect()}
    for ctx in ctxs:
        denom = ctxs[ctx] + k * (V + 1)
        mass = sum(
            (grams.get((ctx, w), 0) + k) / denom for w in ("a", "b", "c")
        ) + k / denom  # the OOV bucket
        assert mass == pytest.approx(1.0, rel=1e-12)


def test_min_count_prunes_grams_but_not_context_totals(spark):
    full = train_ngram_lm(_toy(spark), n=2, k=0.1)
    pruned = train_ngram_lm(_toy(spark), n=2, k=0.1, min_count=2)
    kept = {(r["ctx"], r["word"]) for r in pruned.grams.collect()}
    assert kept == {("<s>", "a"), ("a", "b")}  # (a, c) count 1 pruned
    # exact context totals survive pruning -> probabilities stay proper
    assert sorted(map(tuple, pruned.contexts.collect())) == sorted(
        map(tuple, full.contexts.collect())
    )
    # pruned gram scores strictly worse, untouched docs identical
    sf = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in score_perplexity(_toy(spark), full, round_to=None).collect()
    }
    sp = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in score_perplexity(_toy(spark), pruned, round_to=None).collect()
    }
    assert sp[1] == pytest.approx(sf[1], rel=1e-12)
    assert sp[3] > sf[3]


def test_perplexity_matches_duckdb_oracle(spark, sf_dir):
    """Full cross-engine replay on the fixture corpus (catalog is at
    its 50-entry driver cap, so the parity pin lives here): DuckDB
    re-derives tokenization, BOS-padded bigram construction, both
    count tables, V, and the add-k scoring; every doc's gram count
    must match exactly and the float scores to 1e-9 relative."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    lm = train_ngram_lm(docs, n=2, k=0.1)
    got = {
        r["doc_id"]: r
        for r in score_perplexity(docs, lm, round_to=None).collect()
    }
    oracle = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             t -> t <> '') AS t
          FROM '{sf_dir}/documents.parquet'
        ),
        padded AS (SELECT doc_id, list_prepend('<s>', t) AS p FROM toks),
        flat AS (
          SELECT doc_id, g['ctx'] AS ctx, g['word'] AS word
          FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(p)),
                          i -> {{'ctx': p[i], 'word': p[i+1]}})) AS g
            FROM padded
          )
        ),
        cw AS (SELECT ctx, word, count(*) AS c_cw FROM flat GROUP BY 1, 2),
        cc AS (SELECT ctx, count(*) AS c_ctx FROM flat GROUP BY 1),
        v AS (
          SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(t) AS w FROM toks) WHERE w <> '<s>'
        ),
        scored AS (
          SELECT f.doc_id,
                 ln((coalesce(c_cw, 0) + 0.1)
                    / (coalesce(c_ctx, 0) + 0.1 * (v + 1))) AS lp
          FROM flat f
          LEFT JOIN cw USING (ctx, word)
          LEFT JOIN cc USING (ctx)
          CROSS JOIN v
        )
        SELECT doc_id, count(lp) AS n_grams, -avg(lp) AS anl
        FROM scored GROUP BY 1
        """
    ).fetchall()
    assert oracle, "oracle returned no rows"
    oracle_ids = set()
    for doc_id, n_grams, anl in oracle:
        oracle_ids.add(doc_id)
        assert got[doc_id]["n_grams"] == n_grams
        assert got[doc_id]["avg_neg_logp"] == pytest.approx(anl, rel=1e-9)
    # docs absent from the oracle (zero tokens) must still be present
    # Spark-side with NULL scores
    for doc_id, r in got.items():
        if doc_id not in oracle_ids:
            assert r["n_grams"] == 0 and r["perplexity"] is None


def test_score_plan_broadcasts_model_and_never_shuffles_corpus(spark):
    lm = train_ngram_lm(_toy(spark), n=2, k=0.1)
    plan = score_perplexity(_toy(spark), lm)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_compression_ratio_signal(spark):
    """Repetitive text compresses far below varied text; NULL/empty
    yield NULL; values replay exactly against the same stdlib zlib."""
    import zlib

    from hospital_stain_tracker_data_pipeline_spark.functions.text import (
        compression_ratio_udf,
    )

    rows = [
        (1, "spam " * 200),
        (2, " ".join(f"w{i}x{i * 7 % 13}" for i in range(200))),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["cr"]
        for r in df.select(
            "doc_id", compression_ratio_udf()(F.col("text")).alias("cr")
        ).collect()
    }
    assert got[3] is None and got[4] is None
    assert got[1] < 0.1  # highly repetitive
    assert got[2] > got[1] * 3  # varied text compresses much worse
    for i, t in rows[:2]:
        b = t.encode()
        assert got[i] == pytest.approx(len(zlib.compress(b, 6)) / len(b))
    with pytest.raises(ValueError):
        compression_ratio_udf(level=0)

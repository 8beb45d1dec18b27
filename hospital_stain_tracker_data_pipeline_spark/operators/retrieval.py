"""BM25 lexical retrieval over a document corpus (beyond the reference
surface — the workhorse of data-curation search: "find the documents
most similar to this eval prompt / this seed set" is a BM25 query, and
retrieval-based decontamination and quality mining both reduce to it).

Spark-first shape: the index is two aggregates over the exploded
token stream — per-(doc, term) frequencies and per-term document
frequencies — plus a one-row corpus stats frame. A query scores as:
broadcast the query's terms (queries are tiny by definition), semi-join
them into the postings, compute the BM25 contribution per (doc, term)
with pure Column math, and sum per doc with partial aggregation. The
corpus is scanned once at index build; each query touches only the
postings of its own terms (an equi-join on term — Zipf heads are
bounded by the df values themselves).

Determinism: tf/df/doc-length are exact integers; idf/score are the
only floats, rounded for cross-engine comparison; top-k ties break on
doc_id. The whole scoring formula is plain SQL — the DuckDB oracle
replays it term for term.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lm import lm_tokens


@dataclass
class BM25Index:
    """``postings``: (term, doc_id, tf long); ``doc_lens``: (doc_id,
    dl long); ``dfs``: (term, df long); ``n_docs``/``avgdl``: corpus
    scalars (from one aggregate — the only driver-side values)."""

    postings: DataFrame
    doc_lens: DataFrame
    dfs: DataFrame
    n_docs: int
    avgdl: float


def build_bm25_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> BM25Index:
    """One corpus scan → the three index frames. Tokenization is the
    LM's (lowercase, whitespace, no empties) so retrieval and
    perplexity see the same token stream. Zero-token docs carry dl=0
    and simply never match (no postings)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), lm_tokens(F.col(text_col)).alias("_t")
    )
    doc_lens = toks.select("doc_id", F.size("_t").cast("long").alias("dl"))
    ex = toks.select("doc_id", F.explode("_t").alias("term"))
    postings = ex.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfs = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    [stats] = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()
    return BM25Index(
        postings=postings,
        doc_lens=doc_lens,
        dfs=dfs,
        n_docs=int(stats["n"]),
        avgdl=float(stats["avgdl"] or 0.0),
    )


def bm25_topk(
    index: BM25Index,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 6,
) -> DataFrame:
    """Top-``k`` documents for a query string under Okapi BM25:

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with the standard smoothed ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``
    (non-negative — stopword-heavy terms contribute ~0 instead of
    going negative). Duplicate query terms count once (the common
    bag-of-words-query simplification).

    Plan: the query's term list broadcasts into the postings equi-join;
    df joins in the same way; one groupBy(doc) with partial aggregation
    and a TakeOrdered top-k. No scan of non-matching postings — the
    join prunes to the query's terms.
    """
    if index.n_docs == 0 or index.avgdl == 0:
        return (
            index.postings.select(
                F.col("doc_id"), F.lit(0.0).alias("score")
            ).limit(0)
        )
    spark = index.postings.sparkSession
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("query has no tokens")
    from ..session import local_rows_df

    # one slice: this tiny frame is re-evaluated inside two broadcast
    # builds per action; defaultParallelism pickled slices would spawn
    # ~32 Python-worker round trips each time
    qdf = local_rows_df(spark, [(t,) for t in terms], "term string")
    n = float(index.n_docs)
    # prune dfs to the query's terms BEFORE broadcasting: the full dfs
    # table is one row per distinct corpus term (web-scale: 10^8+) and
    # would blow the broadcast limit; post-semi-join it is |terms| rows
    dfs_q = index.dfs.join(F.broadcast(qdf), "term")
    matched = (
        index.postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfs_q), "term")
        .join(index.doc_lens, "doc_id")
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf = F.col("tf").cast("double")
    norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(index.avgdl))
    contrib = idf * tf * (k1 + 1.0) / norm
    scored = matched.groupBy("doc_id").agg(F.sum(contrib).alias("score"))
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    # orderBy+limit plans as TakeOrderedAndProject (per-partition heap +
    # merge) — a row_number window here would be a SINGLE-TASK global
    # sort of every matching doc, which for a stopword-ish query is the
    # corpus (plan-asserted in tests)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_reference(
    docs: list[tuple[int, str]], query: str, k1: float = 1.2, b: float = 0.75
) -> dict[int, float]:
    """Single-process reference scorer (test oracle for shapes DuckDB
    SQL also replays — two independent checks, one formula)."""
    tok = lambda s: [t for t in s.lower().split() if t]
    toks = {i: tok(t) for i, t in docs}
    n = len(docs)
    dls = {i: len(ts) for i, ts in toks.items()}
    avgdl = sum(dls.values()) / n if n else 0.0
    terms = sorted(set(tok(query)))
    dfs = {
        t: sum(1 for ts in toks.values() if t in ts) for t in terms
    }
    out: dict[int, float] = {}
    for i, ts in toks.items():
        s = 0.0
        for t in terms:
            tf = ts.count(t)
            if tf == 0 or dfs[t] == 0:
                continue
            idf = math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
        if s > 0:
            out[i] = s
    return out


def bm25_bulk_scores(
    index: BM25Index,
    eval_docs: DataFrame,
    eval_id_col: str = "eval_id",
    text_col: str = "text",
    min_score: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 6,
) -> DataFrame:
    """Score EVERY eval document against the corpus in one plan —
    retrieval-based decontamination at its natural shape ("drop any
    corpus doc suspiciously similar to any eval doc"): explode the
    eval set into (eval_id, term) pairs (terms deduped per eval doc),
    broadcast them into the postings join, and aggregate BM25 per
    (corpus doc, eval doc). No per-query loop — one job regardless of
    eval-set size. Returns ``(doc_id, eval_id, score)`` with
    score > ``min_score``; anti-join ``doc_id`` to decontaminate.

    The per-(doc,eval) scores are IDENTICAL to running ``bm25_topk``
    per eval doc (pinned by test) — same formula, vectorized."""
    ev = eval_docs.select(
        F.col(eval_id_col),
        F.explode(F.array_distinct(lm_tokens(F.col(text_col)))).alias("term"),
    )
    n = float(index.n_docs)
    # same broadcast-pruning as bm25_topk: dfs restricted to the eval
    # set's distinct terms before it ships anywhere
    dfs_q = index.dfs.join(
        F.broadcast(ev.select("term").distinct()), "term"
    )
    matched = (
        index.postings.join(F.broadcast(ev), "term")
        .join(F.broadcast(dfs_q), "term")
        .join(index.doc_lens, "doc_id")
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf = F.col("tf").cast("double")
    norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(index.avgdl))
    contrib = idf * tf * (k1 + 1.0) / norm
    scored = matched.groupBy("doc_id", eval_id_col).agg(
        F.sum(contrib).alias("score")
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    return scored.filter(F.col("score") > min_score)


def reciprocal_rank_fusion(
    results: list[DataFrame],
    id_col: str = "doc_id",
    score_cols: list[str] | None = None,
    k: int = 10,
    c: int = 60,
    weights: list[float] | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Fuse N ranked retrieval lists into one: hybrid search's standard
    combiner (Cormack, Clarke, Buettcher, "Reciprocal Rank Fusion
    outperforms Condorcet and individual rank learning methods",
    SIGIR 2009). ``rrf(d) = sum_i w_i / (c + rank_i(d))`` with a
    document absent from list i contributing 0 — rank-based, so a BM25
    score and a cosine can fuse without calibration (the reason RRF is
    the default fusion in production hybrid retrieval).

    Inputs are score frames — ``(id_col, score_col)`` like
    ``bm25_topk`` output, or ``knn_brute_force`` output
    filtered to one query and projected to (id, score); ``score_cols``
    names each list's score column. Without ``score_cols`` each frame
    must carry EXACTLY one non-id column — an ambiguous frame (e.g.
    knn output still carrying ``query_id``) raises instead of silently
    ranking by the wrong column. Ranks are derived here (score DESC,
    id ASC — deterministic k-boundary), so callers never pre-rank; an
    id appearing more than once in one list is collapsed to its best
    score BEFORE ranking, so duplicates neither fan out the fusion
    join nor consume rank slots that would inflate every other
    document's rank in that list.

    Plan shape: each list is a top-k retrieval result — tiny by
    construction. Ranks are per-list window functions over those tiny
    frames; the fusion is a chain of full-outer equi-joins on the id
    (N lists, N-1 joins — Spark cannot broadcast-hash a full outer, so
    these plan as shuffle joins over k-row inputs, which is fine) and
    one pure-Column sum — nothing corpus-sized moves. Exact arithmetic: ranks are integers,
    the fused score is a fixed-order sum of N doubles evaluated per
    row (no shuffle-order float reduction), rounded so the pure-python
    replay in ``tests/test_retrieval_fusion.py`` reproduces it
    bit-for-bit.
    """
    if not results:
        raise ValueError("need at least one result frame")
    if weights is None:
        weights = [1.0] * len(results)
    if len(weights) != len(results):
        raise ValueError(
            f"{len(weights)} weights for {len(results)} result frames"
        )
    if score_cols is not None and len(score_cols) != len(results):
        raise ValueError(
            f"{len(score_cols)} score_cols for {len(results)} result frames"
        )
    from pyspark.sql import Window

    ranked = []
    for i, df in enumerate(results):
        if score_cols is not None:
            sc = score_cols[i]
        else:
            others = [col for col in df.columns if col != id_col]
            if not others:
                raise ValueError(f"result {i} has no score column")
            if len(others) > 1:
                raise ValueError(
                    f"result {i} has several non-id columns {others}; "
                    "pass score_cols to pick the score explicitly"
                )
            sc = others[0]
        w = Window.orderBy(F.desc(sc), F.asc(id_col))
        ranked.append(
            # collapse duplicate ids to their best score FIRST —
            # ranking raw rows would let duplicates occupy rank slots
            # and push every other doc in the list down
            df.groupBy(id_col)
            .agg(F.max(sc).alias(sc))
            .select(
                F.col(id_col),
                F.row_number().over(w).alias(f"_rank_{i}"),
            )
        )
    fused = ranked[0]
    for r in ranked[1:]:
        fused = fused.join(r, id_col, "full_outer")
    score = F.lit(0.0)
    for i, wgt in enumerate(weights):
        score = score + F.when(
            F.col(f"_rank_{i}").isNotNull(),
            F.lit(float(wgt)) / (F.lit(float(c)) + F.col(f"_rank_{i}")),
        ).otherwise(F.lit(0.0))
    if round_to is not None:
        score = F.round(score, round_to)
    out_w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.select(F.col(id_col), score.alias("rrf_score"))
        .withColumn("_rk", F.row_number().over(out_w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )

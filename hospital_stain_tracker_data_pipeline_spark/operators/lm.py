"""Distributed n-gram language-model training + perplexity scoring
(beyond the reference surface — the CCNet/KenLM-style quality stage of
an LLM data pipeline: train a cheap LM on trusted text, score every
candidate document's perplexity against it, keep the head/middle and
drop the tail).

Spark-first shape, both phases:

- **Training** is two groupBys over exploded n-grams — counts of
  ``(context, word)`` and of ``context`` — plus one distinct for the
  vocabulary size. All JVM-side higher-order functions (split /
  transform / slice / array_join); no Python in the gram construction.
  Smoothing is add-k with the +k mass computed at score time from the
  exact counts, so the model tables carry ONLY longs — exact,
  mergeable across training shards, and immune to float drift.
- **Scoring** explodes each document into its n-grams and joins the
  model in. The model is the SMALL side by construction (``min_count``
  pruning bounds it) and is broadcast, so the corpus is never
  shuffled for the lookup; the only shuffle is the per-doc aggregate,
  where partial aggregation collapses each task's grams to one row per
  document before the exchange.

At 100 TB: training cost is one corpus scan + two count shuffles whose
keys are n-grams (heavy-hitter skew is absorbed by map-side partial
aggregation — every partition pre-collapses its repeats, so a
billion-occurrence bigram arrives at its reducer as one row per map
task, not a billion rows). ``min_count`` pruning is applied AFTER the
exact context totals are computed, so dropping the long tail shrinks
the broadcast table without making the remaining probabilities
improper — a pruned gram simply scores at the add-k floor, exactly as
an unseen gram does.

Determinism: counts are exact integers; the only floats are the final
log/exp, rounded for cross-engine comparison. Rerunning under any
partitioning is bit-identical.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import materialize

# Sentinel context token for document starts. Chosen outside \w so a
# real corpus token can only collide by containing '<' '>' literally;
# the gram JOIN key includes it as plain text, so even a collision is
# merely a shared count bucket, never an error.
BOS = "<s>"


def lm_tokens(text: Column) -> Column:
    """LM tokenization: lowercase, split on whitespace, drop empty
    tokens (an all-whitespace or empty document yields a zero-length
    array, not ``[""]``)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    return F.filter(toks, lambda t: t != "")


def _grams_over_padded(padded: Column, n_tokens: Column, n: int) -> Column:
    """Gram array from a BOS-padded token-array column.

    PERFORMANCE CONTRACT: ``padded`` must be a bound attribute (a
    projected column), not an inline expression. Catalyst does NOT
    common-subexpression-eliminate inside higher-order-function
    lambdas, so an inline ``concat(pad, split(...))`` here would be
    RE-EVALUATED PER POSITION by the slice/element_at below — O(len²)
    per document (measured ~8× on the sf0.1 fixture corpus). The
    train/score paths project the padded array first
    (``_exploded_grams``)."""
    # positions n..len(padded) (1-based) each end one n-gram. The
    # zero-token guard matters: F.sequence(n, n-1) would generate a
    # DESCENDING [n, n-1] (sequence's default step is sign-inferred),
    # and under ANSI mode element_at(padded, n) then errors out.
    positions = F.when(
        n_tokens > 0, F.sequence(F.lit(n), F.size(padded))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        positions,
        lambda i: F.struct(
            F.array_join(F.slice(padded, i - (n - 1), n - 1), " ").alias("ctx"),
            F.element_at(padded, i).alias("word"),
        ),
    )


def _unigrams(toks: Column) -> Column:
    return F.transform(
        toks, lambda w: F.struct(F.lit("").alias("ctx"), w.alias("word"))
    )


def _exploded_grams(
    docs: DataFrame, n: int, text_col: str, keep: list[str], outer: bool
) -> DataFrame:
    """(keep..., ctx, word) — one row per gram, built through TWO
    projection boundaries (tokens, then padded array) so the lambda in
    ``_grams_over_padded`` touches only bound attributes (see its
    performance contract). ``outer`` keeps zero-token docs as a NULL
    gram row (scoring needs every doc back; training must NOT count a
    NULL pseudo-gram)."""
    expl = F.explode_outer if outer else F.explode
    tokd = docs.select(*keep, lm_tokens(F.col(text_col)).alias("_t"))
    if n == 1:
        ex = tokd.select(*keep, expl(_unigrams(F.col("_t"))).alias("g"))
    else:
        pad = F.array(*[F.lit(BOS)] * (n - 1))
        padded = tokd.select(
            *keep,
            F.concat(pad, F.col("_t")).alias("_p"),
            F.size("_t").alias("_nt"),
        )
        ex = padded.select(
            *keep,
            expl(_grams_over_padded(F.col("_p"), F.col("_nt"), n)).alias("g"),
        )
    return ex.select(*keep, F.col("g.ctx").alias("ctx"), F.col("g.word").alias("word"))


@dataclass
class NgramLM:
    """A trained add-k n-gram model: exact integer count tables.

    ``grams``: ``(ctx, word, c_cw long)`` — surviving (context, word)
    counts (post ``min_count`` pruning).
    ``contexts``: ``(ctx, c_ctx long)`` — EXACT context totals,
    computed before pruning so probabilities stay proper.
    ``vocab_size``: distinct training words (V); the add-k denominator
    uses V+1 — the +1 is the implicit OOV bucket every unseen word
    falls into.
    """

    grams: DataFrame
    contexts: DataFrame
    n: int
    vocab_size: int
    k: float


def train_ngram_lm(
    docs: DataFrame,
    n: int = 2,
    k: float = 0.1,
    min_count: int = 1,
    text_col: str = "text",
) -> NgramLM:
    """Count-based add-k n-gram LM over a corpus.

    ``p(w | ctx) = (c(ctx,w) + k) / (c(ctx) + k * (V + 1))`` — proper
    (sums to 1 over the V known words plus the OOV bucket for every
    context, including unseen contexts where it degrades to uniform
    ``1/(V+1)``).

    ``min_count`` drops gram rows with ``c_cw < min_count`` AFTER the
    context totals are taken: at web scale the gram table is Zipf-tailed
    and pruning cuts it by orders of magnitude, while scoring stays
    correct because a pruned gram falls back to the same add-k floor as
    an unseen one (slightly pessimistic for the pruned tail — the
    standard KenLM-style trade).
    """
    if k <= 0:
        raise ValueError(f"add-k smoothing needs k > 0, got {k}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ex = _exploded_grams(docs, n, text_col, keep=[], outer=False)
    # ONE corpus scan: the (ctx, word) aggregate partial-combines
    # map-side and is materialized once; the context totals (sum of
    # gram counts per ctx), the vocab size, and the pruned gram table
    # all derive from that compact frame — no re-tokenization jobs
    grams_all = materialize(
        ex.groupBy("ctx", "word").agg(F.count(F.lit(1)).alias("c_cw"))
    )
    contexts = grams_all.groupBy("ctx").agg(F.sum("c_cw").alias("c_ctx"))
    grams = grams_all
    if min_count > 1:
        grams = grams_all.filter(F.col("c_cw") >= min_count)
    # V excludes BOS (it is a context symbol, never predicted); every
    # corpus token appears as a predicted word in exactly one gram, so
    # distinct gram words == distinct corpus tokens — the filter only
    # matters for a corpus containing the literal BOS string
    vocab_size = (
        grams_all.filter(F.col("word") != BOS)
        .agg(F.count_distinct("word").alias("v"))
        .collect()[0]["v"]
    )
    return NgramLM(grams=grams, contexts=contexts, n=n, vocab_size=int(vocab_size), k=k)


def score_perplexity(
    docs: DataFrame,
    lm: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 4,
) -> DataFrame:
    """Per-document perplexity under the model: one row per input doc,
    ``(id_col, n_grams long, avg_neg_logp double, perplexity double)``.

    ``perplexity = exp(-(1/N) * Σ ln p(w_i | ctx_i))`` over the doc's N
    BOS-padded n-grams. Documents with zero tokens carry NULL scores
    (0 grams — "no evidence" is distinguishable from "perfectly
    predicted"). Unseen (ctx, word) → add-k numerator floor; unseen ctx
    → uniform 1/(V+1). Both fall out of coalescing the join misses to
    zero counts — no special-case branches.

    Plan shape: explode → TWO BROADCAST joins (gram table, context
    totals) → per-doc aggregate. The corpus itself is never shuffled
    for the lookup; docs with zero grams rejoin via a broadcast-able
    left join on the per-doc aggregate.
    """
    base = _exploded_grams(docs, lm.n, text_col, keep=[id_col], outer=True)
    denom_k = float(lm.k) * (lm.vocab_size + 1)
    scored = (
        base.join(F.broadcast(lm.grams), ["ctx", "word"], "left")
        .join(F.broadcast(lm.contexts), ["ctx"], "left")
        .withColumn(
            "logp",
            # NULL gram from explode_outer (empty doc) keeps logp NULL;
            # join misses coalesce to exact-zero counts
            F.when(
                F.col("word").isNotNull(),
                F.log(
                    (F.coalesce(F.col("c_cw"), F.lit(0)) + F.lit(float(lm.k)))
                    / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(denom_k))
                ),
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count("logp").alias("n_grams"),
            (-F.avg("logp")).alias("avg_neg_logp"),
        )
        .withColumn("perplexity", F.exp("avg_neg_logp"))
    )
    if round_to is not None:
        scored = scored.withColumn(
            "avg_neg_logp", F.round("avg_neg_logp", round_to)
        ).withColumn("perplexity", F.round("perplexity", round_to))
    return scored

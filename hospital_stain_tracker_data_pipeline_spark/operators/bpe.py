"""Distributed BPE tokenizer training + encoding (beyond the reference
surface — the vocabulary-learning step of an LLM data pipeline, not
just token counting): learn byte-pair-encoding merges over a corpus
with Spark doing the counting, then tokenize with the learned merges.

Algorithm (Sennrich et al. 2016, the public BPE formulation):

1. ONE corpus aggregation builds the word histogram — ``(word, count)``
   over the whitespace/lowercase pre-tokenization. Everything after
   runs on the histogram, whose size is the DISTINCT vocabulary, not
   the corpus: the classic trick that makes BPE training tractable
   (at 100 TB the corpus is petabytes but distinct words are millions).
2. Each word becomes its symbol sequence (characters + an explicit
   ``</w>`` end-of-word symbol).
3. Per merge round: count adjacent symbol pairs weighted by word count
   (explode → groupBy(pair) → sum — map-side partial aggregation
   absorbs within-partition repeats), take the global argmax pair
   (deterministic tie-break: highest count, then lexicographically
   smallest pair — partition-order-invariant), broadcast it, and fold
   it into every symbol sequence left-to-right greedily (one
   Arrow-batched UDF applying the round's merges in order — the
   histogram is vocabulary-sized, and a plain O(len) Python fold per
   word beats the interpreted O(len²) expression fold it replaced;
   guide §4.2).

Scale shape per round: ONE job — an aggregation over the checkpointed
histogram (with the rounds' not-yet-folded merges applied lazily in
the same scan) + one scalar collect (the argmax rows). Accumulated
merges fold into a fresh checkpointed symbol table every
``checkpoint_every`` rounds, bounding both the lazy re-application and
the plan depth — the same lineage discipline as the k-means/connected-
components loops elsewhere in this repo. Production BPE trainers
batch many merges per pass; ``merges_per_round > 1`` does the same
here by taking the top-k pairwise-disjoint pairs per round (exact
classic BPE at the default 1; the batched variant is the standard
scale approximation and is labeled as such in the output).

``bpe_encode`` applies learned merges with the rank-greedy algorithm
(repeatedly merge the lowest-rank adjacent pair) inside an
Arrow-batched pandas UDF — tokenization is genuinely per-string
sequential work, so this is the legitimate Python-on-executor case;
the merge table rides the closure once per task, never per row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

EOW = "</w>"


def word_histogram(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """``(word, count)`` over the whitespace pre-tokenization — the one
    corpus-sized aggregation in BPE training."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = docs.select(F.explode(tokens(t)).alias("word")).filter(
        F.col("word") != ""
    )
    return words.groupBy("word").agg(F.count("*").alias("count"))


def _initial_symbols(hist: DataFrame) -> DataFrame:
    """word → its initial symbol sequence: characters plus the explicit
    ``</w>`` terminal symbol."""
    return hist.select(
        F.concat(F.split("word", ""), F.array(F.lit(EOW))).alias("syms"),
        "count",
    )


def _merge_pair_expr(a: str, b: str) -> Column:
    """Left-to-right greedy fold merging adjacent (a, b) → a+b inside a
    symbol array — pure expression form, kept as the executable
    specification ``_apply_merges_udf`` is pinned against
    (``test_merge_pair_expr_matches_apply_merges_udf`` folds both over
    the same fixtures, round 15). Not used in
    the training loop: ``F.aggregate``'s fold copies the accumulator
    array per element (interpreted, outside codegen), making one merge
    O(len²) per word."""
    return F.aggregate(
        "syms",
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _apply_merges_udf(chosen: list[tuple[str, str]]):
    """Arrow-batched application of one round's chosen merges, in
    order: for each (a, b) one left-to-right greedy fold over the
    symbol sequence — value-identical to folding the
    ``_merge_pair_expr`` expression per pair
    (``test_merge_pair_expr_matches_apply_merges_udf`` pins the two
    forms against each other; the pure-Python-reference tests pin the
    training loop's output). The expression chain ran interpreted higher-order
    aggregates that copy the accumulator array per element — O(len²)
    per word PER MERGE outside codegen; here the whole round is one
    Arrow batch crossing and a plain O(len · merges) loop (guide
    §4.2: hand batches to native/Python bulk code instead of
    per-element interpreted expressions)."""

    @F.pandas_udf("array<string>")
    def _apply(syms: pd.Series) -> pd.Series:
        out = []
        for s in syms:
            if s is None:
                out.append(None)
                continue
            cur = list(s)
            for a, b in chosen:
                ab = a + b
                merged: list[str] = []
                for x in cur:
                    if merged and merged[-1] == a and x == b:
                        merged[-1] = ab
                    else:
                        merged.append(x)
                cur = merged
            out.append(cur)
        return pd.Series(out)

    return _apply


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    lowercase: bool = True,
    merges_per_round: int = 1,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges; returns the ordered merge list
    ``[(left, right), ...]``.

    ``merges_per_round=1`` reproduces classic sequential BPE exactly
    (pinned against a pure-Python reference). Larger values take the
    top-k pairs per counting round, keeping only pairs that are
    pairwise symbol-disjoint (no symbol of one selected pair appears
    in another) so the batched merges commute — the standard
    distributed-BPE approximation that divides the number of counting
    rounds by ~k. Ties break (count desc, pair asc): the argmax is a
    pure function of the multiset of pairs, never of partition order.
    """
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if merges_per_round < 1:
        raise ValueError("merges_per_round must be >= 1")
    # ONE job per merge round (round 14): the counting pass applies the
    # not-yet-folded merges lazily inside the same scan that counts
    # pairs — the pre-round-14 loop materialized a new persisted symbol
    # table per round (apply-UDF pass + count() job + unpersist) and
    # then ran the counting pass on top of it, two jobs and a full
    # Arrow round trip of the vocabulary per round. ``pending`` merges
    # fold into a fresh checkpointed base every ``checkpoint_every``
    # rounds, so the per-scan re-application stays bounded at
    # ``checkpoint_every × merges_per_round`` folds (and the plan stays
    # flat — the fold IS the old code's lineage-truncation point).
    base = _initial_symbols(
        word_histogram(docs, text_col, lowercase)
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    pending: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < n_merges:
        want = min(merges_per_round, n_merges - len(merges))
        cur = (
            base
            if not pending
            else base.select(
                _apply_merges_udf(list(pending))(F.col("syms")).alias(
                    "syms"
                ),
                "count",
            )
        )
        pairs = (
            cur.select(
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("a"),
                                F.element_at("syms", i + 1).alias("b"),
                            ),
                        ),
                    ).otherwise(F.expr(
                        "cast(array() as array<struct<a:string,b:string>>)"
                    )),
                ).alias("p"),
                "count",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("count").alias("c"))
            # fetch enough candidates to survive the disjointness
            # filter; 4x is a heuristic headroom, re-counting next
            # round corrects any shortfall
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(max(want * 4, 8))
            .collect()
        )
        if not pairs:
            break
        used: set[str] = set()
        chosen: list[tuple[str, str]] = []
        for r in pairs:
            a, b = r["a"], r["b"]
            if len(chosen) >= want:
                break
            merged = a + b
            if a in used or b in used or merged in used:
                continue
            chosen.append((a, b))
            used.update((a, b, merged))
        if not chosen:
            break
        merges.extend(chosen)
        pending.extend(chosen)
        rounds += 1
        if rounds % checkpoint_every == 0 and len(merges) < n_merges:
            base = base.select(
                _apply_merges_udf(list(pending))(F.col("syms")).alias(
                    "syms"
                ),
                "count",
            ).localCheckpoint(eager=True)
            pending = []
    return merges


def _encode_word(word: str, ranks: dict) -> list[str]:
    """Rank-greedy BPE application to one word (shared by
    ``bpe_encode`` and ``tokenizer_efficiency``): repeatedly merge the
    lowest-rank adjacent pair — the published encode algorithm."""
    syms = list(word) + [EOW]
    while len(syms) >= 2:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list: adds ``out_col``
    (array<string>) to ``docs``. Rank-greedy application (always merge
    the lowest-rank adjacent pair first — the published BPE encode
    algorithm), Arrow-batched; the rank table is a closure constant
    serialized once per task."""

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        return _encode_word(word, ranks)

    @F.pandas_udf("array<array<string>>")
    def encode_series(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            s = t.lower() if lowercase else t
            toks = [w for w in s.split() if w]
            row = []
            for w in toks:
                got = cache.get(w)
                if got is None:
                    got = encode_word(w)
                    cache[w] = got
                row.append(got)
            out.append(row)
        return pd.Series(out)

    return docs.withColumn(out_col, F.flatten(encode_series(F.col(text_col))))


def tokenizer_efficiency(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """One-row tokenizer quality report over a corpus: ``n_words``
    (word occurrences), ``n_distinct_words``, ``n_tokens`` (subword
    occurrences after the merges), ``n_word_bytes`` (UTF-8 bytes of
    the word occurrences — whitespace excluded, the same
    pre-tokenization ``word_histogram`` counts), ``bytes_per_token``
    and ``tokens_per_word`` (both rounded to 6dp). bytes/token is THE
    pre-training tokenizer metric — it prices a token budget in bytes
    of corpus and makes two merge lists comparable on equal terms.

    Scale shape: the corpus is aggregated ONCE into the word histogram
    (same trick as training — distinct words, not occurrences), each
    DISTINCT word is encoded once in an Arrow-batched UDF, and the
    report is a count-weighted single aggregation of that
    vocabulary-sized frame. Encoding every occurrence would do
    corpus-scale Python work for identical answers.

    Deterministic: integer sums; the two ratios are single divisions of
    exact longs (``tests/test_bpe.py`` replays the report in pure
    Python)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("int")
    def n_subwords(words: pd.Series) -> pd.Series:
        return pd.Series(
            [len(_encode_word(w, ranks)) for w in words], dtype="int32"
        )

    hist = word_histogram(docs, text_col, lowercase)
    per_word = hist.select(
        "count",
        F.octet_length("word").cast("long").alias("w_bytes"),
        n_subwords("word").cast("long").alias("n_sub"),
    )
    return per_word.agg(
        F.coalesce(F.sum("count"), F.lit(0).cast("long")).alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.coalesce(
            F.sum(F.col("count") * F.col("n_sub")), F.lit(0).cast("long")
        ).alias("n_tokens"),
        F.coalesce(
            F.sum(F.col("count") * F.col("w_bytes")), F.lit(0).cast("long")
        ).alias("n_word_bytes"),
        F.round(
            F.coalesce(F.sum(F.col("count") * F.col("w_bytes")), F.lit(0))
            / F.sum(F.col("count") * F.col("n_sub")),
            6,
        ).alias("bytes_per_token"),
        F.round(
            F.coalesce(F.sum(F.col("count") * F.col("n_sub")), F.lit(0))
            / F.sum("count"),
            6,
        ).alias("tokens_per_word"),
    )

"""Distributed BPE trainer: exact-match oracle against a pure-Python
reference implementation of classic (Sennrich) BPE, determinism under
repartitioning, the batched-merge variant's contract, and the encoder's
reconstruction property."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
    EOW,
    bpe_encode,
    train_bpe,
    word_histogram,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)


def _ref_train(word_counts: dict[str, int], n_merges: int):
    """Reference classic BPE: argmax pair (count desc, pair asc),
    left-to-right greedy application — mirrors the documented contract
    exactly, in plain Python."""
    seqs = {w: tuple(list(w) + [EOW]) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in seqs.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == best_count)
        merges.append(best)
        a, b = best
        for w, syms in seqs.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = tuple(out)
    return merges


def _ref_encode(word: str, merges) -> list[str]:
    ranks = {p: i for i, p in enumerate(merges)}
    syms = list(word) + [EOW]
    while len(syms) >= 2:
        cand = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not cand:
            break
        _, i = min(cand)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new newer"),
    (3, "wide wider widest wide"),
    (4, "low new wide slow slower"),
    (5, "the lowest newest widest"),
]


def test_train_bpe_matches_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    hist = {
        r["word"]: r["count"] for r in word_histogram(docs).collect()
    }
    want = _ref_train(hist, 25)
    got = train_bpe(docs, 25)
    assert got == want and len(got) == 25


def test_train_bpe_on_fixture_matches_reference(spark, sf_dir):
    """Same exact-match check over the real fixture corpus (500 docs) —
    the tie-break and greedy-merge semantics hold on organic data, not
    just the toy corpus."""
    docs = load_fixture_table(spark, sf_dir, "documents")
    hist = {r["word"]: r["count"] for r in word_histogram(docs).collect()}
    want = _ref_train(hist, 15)
    got = train_bpe(docs, 15)
    assert got == want and len(got) == 15


def test_train_bpe_deterministic_under_repartition(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    a = train_bpe(docs, 12)
    b = train_bpe(docs.repartition(7), 12)
    assert a == b


def test_train_bpe_batched_rounds(spark):
    """merges_per_round > 1: still returns the requested number of
    merges, the first merge equals classic BPE's first merge (the
    batch is taken from the same ranked count), and every round's
    batch is pairwise symbol-disjoint by construction — pinned by
    replaying the disjointness rule over the output."""
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    classic = train_bpe(docs, 1)
    batched = train_bpe(docs, 12, merges_per_round=4)
    assert len(batched) == 12
    assert batched[0] == classic[0]
    assert len(set(batched)) == 12  # no merge repeats across rounds


def test_bpe_encode_matches_reference_and_reconstructs(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = train_bpe(docs, 20)
    enc = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges).collect()
    }
    for doc_id, text in CORPUS:
        want = []
        for w in text.lower().split():
            want.extend(_ref_encode(w, merges))
        assert enc[doc_id] == want, doc_id
        # reconstruction: concatenating tokens and stripping the
        # end-of-word symbols yields the original pre-tokenized text
        assert "".join(enc[doc_id]).replace(EOW, " ").split() == (
            text.lower().split()
        )


def test_tokenizer_efficiency_matches_python_replay(spark, sf_dir):
    """The one-row report replays exactly in pure Python over the same
    histogram: count-weighted sums of per-distinct-word encodes, UTF-8
    byte totals, and the two 6dp ratios."""
    from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
        tokenizer_efficiency,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    merges = train_bpe(docs, n_merges=12)
    [row] = tokenizer_efficiency(docs, merges).collect()

    counts = Counter()
    for r in docs.collect():
        for w in (r["text"] or "").lower().split():
            if w:
                counts[w] += 1
    n_words = sum(counts.values())
    n_tokens = sum(
        c * len(_ref_encode(w, merges)) for w, c in counts.items()
    )
    n_bytes = sum(c * len(w.encode("utf-8")) for w, c in counts.items())
    assert row["n_words"] == n_words
    assert row["n_distinct_words"] == len(counts)
    assert row["n_tokens"] == n_tokens
    assert row["n_word_bytes"] == n_bytes
    assert row["bytes_per_token"] == round(n_bytes / n_tokens, 6)
    assert row["tokens_per_word"] == round(n_tokens / n_words, 6)
    # sanity: merges compress — fewer tokens than raw chars+EOW
    raw_tokens = sum(c * (len(w) + 1) for w, c in counts.items())
    assert n_tokens < raw_tokens


def test_tokenizer_efficiency_more_merges_fewer_tokens(spark, sf_dir):
    """Monotone contract: a longer merge list can only keep or reduce
    the corpus token count (each merge only concatenates)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
        tokenizer_efficiency,
    )

    docs = load_fixture_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    merges = train_bpe(docs, n_merges=16)
    [small] = tokenizer_efficiency(docs, merges[:4]).collect()
    [big] = tokenizer_efficiency(docs, merges).collect()
    assert big["n_tokens"] <= small["n_tokens"]
    assert big["bytes_per_token"] >= small["bytes_per_token"]


def test_tokenizer_efficiency_empty_corpus_zero_row(spark):
    from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
        tokenizer_efficiency,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    [row] = tokenizer_efficiency(empty, [("a", "b")]).collect()
    assert (row["n_words"], row["n_tokens"], row["n_word_bytes"]) == (0, 0, 0)
    assert row["bytes_per_token"] is None  # 0/0 -> NULL under try-less div


def test_merge_pair_expr_matches_apply_merges_udf(spark):
    """The pure-expression fold ``_merge_pair_expr`` is the executable
    specification of ``_apply_merges_udf`` (round-15 review finding:
    the docstring claimed a pin that no test actually exercised).
    Folding the expression once per merge, in order, must produce the
    same symbol arrays as the UDF applying the whole merge list —
    including overlap edge cases (aa+aa on aaaa, chained merges whose
    later pair consumes an earlier pair's output, NULL rows)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.bpe import (
        _apply_merges_udf,
        _merge_pair_expr,
    )

    rows = [
        (["l", "o", "w", "</w>"],),
        (["l", "o", "w", "e", "r", "</w>"],),
        (["a", "a", "a", "a", "</w>"],),   # greedy overlap: aa aa
        (["a", "a", "a", "</w>"],),        # odd run: aa a
        (["lo", "w", "lo", "w", "</w>"],), # pre-merged symbols
        ([],),                              # empty sequence
        (None,),                            # NULL row
    ]
    df = spark.createDataFrame(rows, "syms array<string>")
    merges = [("l", "o"), ("a", "a"), ("lo", "w"), ("low", "</w>")]

    via_expr = df
    for a, b in merges:
        via_expr = via_expr.select(_merge_pair_expr(a, b).alias("syms"))
    via_udf = df.select(_apply_merges_udf(merges)(F.col("syms")).alias("syms"))

    got_expr = [r.syms for r in via_expr.collect()]
    got_udf = [r.syms for r in via_udf.collect()]
    assert got_expr == got_udf

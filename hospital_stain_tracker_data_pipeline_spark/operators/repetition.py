"""Gopher-style repetition filters (beyond the reference surface — a
core LLM-training-data quality signal): per-document duplicate-line and
repeated-n-gram statistics, the "repetitious text" family every modern
pretraining curation run (Gopher, MassiveText, RefinedWeb, FineWeb)
thresholds on before training.

Metrics (all deterministic, cross-engine replayable — the pytest DuckDB
oracle pins every cell):

- ``n_lines`` / ``dup_line_frac`` / ``dup_line_char_frac``: how much of
  the document is duplicated lines (split on a delimiter, default \\n).
  A page whose text is 40% repeated nav-bar lines is boilerplate, not
  prose.
- ``top_<n>gram_char_frac``: the character mass covered by the single
  heaviest n-gram (count × length, as a fraction of all n-gram
  character mass). Deviation from the Gopher paper stated honestly:
  Gopher takes "chars of the MOST FREQUENT n-gram", which is ambiguous
  under count ties; we take MAX(count × length) — the same signal,
  monotone in both factors, and a single deterministic aggregate in
  any engine.
- ``dup_<n>gram_char_frac``: character mass of n-grams occurring more
  than once (all occurrences counted), as a fraction of total n-gram
  character mass — the "fraction of characters inside duplicated
  n-grams" proxy.

Scale shape (100 TB): line statistics are computed IN-ROW with
higher-order array functions (split → array_distinct → aggregate) —
zero shuffle, stays inside whole-stage codegen. N-gram statistics use
the explode → (doc, gram) partial-count → per-doc aggregate shape:
work and shuffle are linear in corpus token count (the in-row
alternative is O(tokens²) per document), and the second aggregation
reduces doc_id-keyed rows only. No Python UDFs anywhere.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def line_repetition_cols(
    text: Column, delim: str = "\n"
) -> list[Column]:
    """In-row duplicate-line statistics: ``n_lines``, ``dup_line_frac``
    (fraction of line occurrences beyond each line's first),
    ``dup_line_char_frac`` (fraction of line characters sitting in
    those extra occurrences). Pure array expressions — no explode, no
    shuffle; cost is linear in the line count of each row."""
    # split()'s pattern is a REGEX — quote the delimiter so "." or "|"
    # split literally (parity with the oracle's literal string_split)
    lines = F.split(text, re.escape(delim), -1)
    uniq = F.array_distinct(lines)
    n = F.size(lines)
    chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    uchars = F.aggregate(
        uniq, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return [
        n.alias("n_lines"),
        F.round((n - F.size(uniq)).cast("double") / n.cast("double"), 6).alias(
            "dup_line_frac"
        ),
        F.round(
            F.when(chars == 0, F.lit(0.0)).otherwise(
                (chars - uchars).cast("double") / chars.cast("double")
            ),
            6,
        ).alias("dup_line_char_frac"),
    ]


def word_ngrams(text: Column, n: int) -> Column:
    """Space-joined word n-grams over the lowercased whitespace
    tokenization; empty array when the doc has fewer than ``n`` tokens
    (guarded — Spark's ``sequence(0, negative)`` would DESCEND, not
    return empty)."""
    toks = tokens(F.lower(text))
    # zip n shifted slices and join each zipped element: the transform
    # lambda references only its own element. The previous form —
    # slice(toks, i, n) inside the lambda with `toks` an inline split —
    # re-tokenized the doc per position (no CSE inside HOF lambdas),
    # O(len²) per document.
    length = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(toks, F.lit(j + 1), F.greatest(length, F.lit(0))).alias(f"t{j}")
          for j in range(n)]
    )
    grams = F.transform(
        zipped,
        lambda x: F.concat_ws(" ", *[x[f"t{j}"] for j in range(n)]),
    )
    # empty array of the RIGHT element type (filter-to-nothing keeps
    # array<string>; a bare array() literal would be array<void>)
    empty = F.filter(toks, lambda t: F.lit(False))
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def ngram_repetition(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repeated-n-gram character statistics:
    ``(doc_id, top_<n>gram_char_frac, dup_<n>gram_char_frac)``.

    Explode → count per (doc, gram) → per-doc aggregate: linear in
    corpus tokens, partial aggregation (map-side combine) absorbs
    within-partition repeats before the shuffle — exactly the repeats
    the metric exists to find, so the heavier the repetition, the less
    data crosses the wire. Documents with fewer than ``n`` tokens get
    NULL fractions (no n-grams to measure — distinguishable from a
    true 0.0, which means "has n-grams, none repeated")."""
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("g"),
    )
    stats = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    per_doc = stats.groupBy("doc_id").agg(
        F.max(F.col("c") * F.length("g")).alias("top_chars"),
        F.sum(F.col("c") * F.length("g")).alias("all_chars"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(0)
        ).alias("dup_chars"),
    )
    return docs.select(F.col(id_col).alias("doc_id")).join(
        per_doc, "doc_id", "left"
    ).select(
        "doc_id",
        F.round(
            F.col("top_chars").cast("double") / F.col("all_chars"), 6
        ).alias(f"top_{n}gram_char_frac"),
        F.round(
            F.col("dup_chars").cast("double") / F.col("all_chars"), 6
        ).alias(f"dup_{n}gram_char_frac"),
    )


def doc_repetition_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_delim: str = "\n",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
) -> DataFrame:
    """The combined per-document repetition profile: line stats (in-row)
    joined with one ``ngram_repetition`` frame per requested n. ``top_ns``
    sets which n's ``top_<n>gram_char_frac`` is kept, ``dup_ns`` which
    n's ``dup_<n>gram_char_frac`` (Gopher thresholds top-fracs for
    small n and dup-fracs for large n; both sides of each frame are
    computed anyway — selection is projection, not extra work).

    Each n-gram frame keys by doc_id, so the joins co-partition on the
    same key and AQE coalesces them; the line stats ride the base scan.
    """
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        *line_repetition_cols(F.col(text_col), line_delim),
    )
    for n in sorted(set(top_ns) | set(dup_ns)):
        rep = ngram_repetition(docs, n, id_col=id_col, text_col=text_col)
        keep = ["doc_id"]
        if n in top_ns:
            keep.append(f"top_{n}gram_char_frac")
        if n in dup_ns:
            keep.append(f"dup_{n}gram_char_frac")
        out = out.join(rep.select(*keep), "doc_id", "left")
    return out


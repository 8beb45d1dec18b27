"""Text-analysis Column expressions for training-data pipelines:
tokenization, quality scoring, language-ID heuristic, fingerprinting.

All JVM-side (split/filter/transform higher-order functions + md5) — no
Python UDFs, so at 100 TB these stay inside whole-stage codegen and the
scan pipeline. Extends the reference surface (SURVEY.md Phase 4); the
reference has no text operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deliberately tiny, deterministic stop list — the scoring contract is
# "fixed wordlist ratio", not linguistic accuracy.
STOPWORDS = ("the", "a", "of", "and", "in", "to")

# language → marker token for the n-gram-free heuristic scorer.
LANG_MARKERS = (
    ("en", "the"),
    ("de", "der"),
    ("es", "el"),
    ("fr", "le"),
    ("zh", "de"),
)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on \\s+ after trim)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def doc_token_count(text: Column) -> Column:
    """Token count with the blank-doc guard every BUDGET consumer
    needs: ``split('')`` yields ``[""]`` (count 1), but a blank doc
    carries zero training tokens — the packers and the mixture
    planner must agree on this or budget math silently drifts."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(token_count(text))


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def non_ws_chars(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"\s", ""))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length score (saturating at 100
    tokens) blended with non-stopword ratio. round(…,4) for stable
    cross-engine comparison."""
    n = token_count(text).cast("double")
    stop_ratio = stopword_count(text).cast("double") / n
    len_score = F.least(F.lit(1.0), n / 100.0)
    return F.round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 4)


def lang_id(text: Column) -> Column:
    """Marker-word language scorer: count each language's marker token,
    pick the first language with the max count (priority = LANG_MARKERS
    order); 'unknown' when no marker occurs."""
    toks = tokens(F.lower(text))

    # NB: the lambda must take exactly ONE parameter — PySpark binds a
    # second parameter to the array index, so default-arg capture
    # (lambda t, m=marker: ...) silently compares against the index.
    def _count_marker(marker: str):
        return F.size(F.filter(toks, lambda t: t == marker))

    counts = {lang: _count_marker(marker) for lang, marker in LANG_MARKERS}
    best = F.greatest(*counts.values())
    out = F.lit("unknown")
    # build the when-chain in reverse so earlier languages win ties
    for lang, _ in reversed(LANG_MARKERS):
        out = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(out)
    return out


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed lowercase text — fingerprint input."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint64_hex(text: Column) -> Column:
    """64-bit document fingerprint as 16 hex chars (md5 prefix of the
    normalized text). md5 matches across engines, unlike murmur/xxhash."""
    return F.substring(F.md5(normalized_text(text)), 1, 16)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text (MinHash /
    Jaccard input). JVM-side, no UDF.

    Shape matters: the shingle stream is built by zipping k SHIFTED
    SLICES of the token array and joining each zipped element — the
    lambda touches only its own element. The naive alternative
    (``transform`` over indices with ``element_at(toks, i+j)`` where
    ``toks`` is the inline split) re-tokenizes the document PER
    POSITION — Catalyst does not common-subexpression-eliminate inside
    higher-order-function lambdas, so that form is O(len²) per doc
    (measured ~8-12× on the LM gram path before the same fix).

    Short docs (< k tokens): ``arrays_zip`` NULL-pads the shorter
    shifted slices and ``concat_ws`` skips NULLs, so one partial
    shingle survives — same semantics as the try_element_at form."""
    toks = F.split(normalized_text(text), " ")
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(toks, F.lit(j + 1), length).alias(f"t{j}") for j in range(k)]
    )
    shingle = F.transform(
        zipped,
        lambda x: F.concat_ws(" ", *[x[f"t{j}"] for j in range(k)]),
    )
    return F.array_distinct(shingle)


def compression_ratio_udf(level: int = 6):
    """Per-document zlib compression ratio (compressed/raw bytes) — a
    classic cheap quality signal: highly repetitive or templated text
    compresses far below natural prose (~0.3-0.5), while random bytes
    sit near 1.0; pipelines cut both tails. stdlib zlib per Arrow
    batch (another documented Python seam — Spark has no compression
    expression); NULL for NULL/empty docs. DEFLATE output is fully
    deterministic for a given (input, level, library) so reruns and
    same-zlib replays are exact."""
    from pyspark.sql.functions import pandas_udf

    if not 1 <= level <= 9:
        raise ValueError(f"zlib level must be in 1..9, got {level}")

    def _ratio(s):
        import zlib

        def one(x):
            if x is None:
                return None
            b = x.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return pandas_udf(_ratio, "double")

"""Gopher/C4-style document quality rules (beyond the reference
surface — the standard heuristic battery every large-scale text
pipeline applies before dedup: Rae et al. 2021 "Scaling Language
Models" §A1.1 for the Gopher rules, Raffel et al. 2020 for C4's
punctuation/brace/lorem-ipsum rules) plus Dolma/RefinedWeb-style PII
redaction.

Spark-first shape: ``quality_signals`` computes every signal from ONE
bound words-array and ONE bound lines-array per document (split once —
never re-derived inside higher-order-function lambdas, per the repo's
HOF-CSE rule), fusing into the scan with no shuffle and no Python.
The rule predicates (``gopher_stage_predicates``) are cheap SCALAR
comparisons over those signal columns, so ``filter_funnel``'s
cumulative conjunctions cost k scalar ANDs — not k re-splits of the
text (the naive per-predicate-splits shape makes a k-stage funnel
O(k²) in full-text work; this one is O(k) after a single O(text)
projection). Compose as ``filter_funnel(quality_signals(df),
gopher_stage_predicates())`` or
``curate_documents(quality_signals(df), stages=...)`` — the packers
project their own columns, so signal columns never leak into packed
output.

All fractions are rounded to 6 dp and the predicates compare the
ROUNDED values — one canonical semantics whether you filter via
``filter_gopher_quality`` or via the signal columns yourself, and the
DuckDB oracle in ``tests/test_quality.py`` replays it bit-identically.
Lines split on ``\\r?\\n``: Java's ``$`` anchor matches before a bare
trailing ``\\r`` but RE2's does not, so CRLF text would silently break
cross-engine parity if the carriage return survived into the line
array.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The Gopher stop-set: a doc must contain >= 2 of these to survive
# (Rae et al. 2021, §A1.1 — deliberately tiny, it's an "is this
# running English prose at all" check, not a stopword list).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_BULLET_RE = r"^[-*•‣▪●·]"
_ELLIPSIS_RE = r"(\.\.\.|…)$"
_TERMINAL_PUNCT_RE = "[.!?\"']$"
# CRLF-safe line delimiter — see module docstring
_LINE_SPLIT_RE = r"\r?\n"
# Edge punctuation stripped from words before the stopword-containment
# check ("the," counts as "the"): explicit ASCII class + ellipsis and
# curly quotes, identical semantics in Java regex and RE2/DuckDB
# (\p{Punct} is Java-only, [[:punct:]] is POSIX-only — neither ports).
_WORD_EDGE_PUNCT_RE = (
    "^[\"'()\\[\\]{}<>.,:;!?…“”‘’-]+|[\"'()\\[\\]{}<>.,:;!?…“”‘’-]+$"
)


def _round6(c: Column) -> Column:
    return F.round(c, 6)


def quality_signals(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append the Gopher/C4 signal columns to ``df``:

    - ``n_words`` — whitespace tokens; ``mean_word_len`` — mean
      character length of those tokens (NULL for empty docs)
    - ``frac_alpha_words`` — fraction of words containing at least one
      ASCII letter (Gopher requires >= 0.8)
    - ``symbol_word_ratio`` — (``#`` occurrences + ``...``/``…``
      occurrences) / words (Gopher requires <= 0.1)
    - ``frac_bullet_lines`` / ``frac_ellipsis_lines`` — fraction of
      non-blank lines starting with a bullet glyph / ending in an
      ellipsis (Gopher: <= 0.9 / <= 0.3)
    - ``frac_terminal_punct_lines`` — fraction of non-blank lines
      ending in terminal punctuation (C4 keeps punctuation-terminated
      lines; surfaced as a doc-level signal)
    - ``n_gopher_stopwords`` — how many DISTINCT members of the
      8-word Gopher stop-set appear (>= 2 required); words are
      compared after lowering AND stripping edge punctuation, so a
      punctuated occurrence ("The.", "with,") still counts — Gopher's
      published rule is containment, not exact-token equality
    - ``has_curly_brace`` / ``has_lorem_ipsum`` — C4's code/boilerplate
      tells (C4 drops the whole page on either)

    Ratio columns are NULL when their denominator is zero (blank doc ⇒
    no words / no lines); the Gopher filter drops those docs anyway
    (word-count floor). One scan, zero exchanges, zero Python.
    """
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: w != ""
    )
    lines = F.filter(
        F.split(F.col(text_col), _LINE_SPLIT_RE), lambda ln: F.trim(ln) != ""
    )
    out = df.withColumn("_words", words).withColumn("_lines", lines)

    n_words = F.size("_words")
    n_lines = F.size("_lines")
    wlen_sum = F.aggregate(
        "_words", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter("_words", lambda w: w.rlike("[A-Za-z]")))
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"(\.\.\.|…)"), 0)
    )
    n_bullet = F.size(
        F.filter("_lines", lambda ln: F.trim(ln).rlike(_BULLET_RE))
    )
    n_ell_lines = F.size(
        F.filter("_lines", lambda ln: F.trim(ln).rlike(_ELLIPSIS_RE))
    )
    n_term = F.size(
        F.filter("_lines", lambda ln: F.trim(ln).rlike(_TERMINAL_PUNCT_RE))
    )
    lower = F.lower(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    # strip EDGE punctuation before matching: Gopher's rule is word
    # containment, so "the," / "The." must count — exact-token
    # matching would fail a doc whose every stopword instance is
    # punctuated (advisor round-7). The class is an explicit ASCII
    # list (+ ellipsis/smart quotes) so Java regex and DuckDB's RE2
    # agree character-for-character; the transform runs on the BOUND
    # _words column per the HOF-CSE rule.
    n_stop = F.size(
        F.array_intersect(
            F.transform(
                "_words",
                lambda w: F.regexp_replace(
                    F.lower(w), _WORD_EDGE_PUNCT_RE, ""
                ),
            ),
            stop_arr,
        )
    )

    def ratio(num: Column, den: Column) -> Column:
        # try_divide (not a when-guard): ANSI division by zero throws
        # and codegen may evaluate both branches of a CASE
        return _round6(F.try_divide(num.cast("double"), den))

    return (
        out.withColumn("n_words", n_words)
        .withColumn("mean_word_len", ratio(wlen_sum, n_words))
        .withColumn("frac_alpha_words", ratio(n_alpha, n_words))
        .withColumn("symbol_word_ratio", ratio(n_hash + n_ellipsis, n_words))
        .withColumn("frac_bullet_lines", ratio(n_bullet, n_lines))
        .withColumn("frac_ellipsis_lines", ratio(n_ell_lines, n_lines))
        .withColumn("frac_terminal_punct_lines", ratio(n_term, n_lines))
        .withColumn("n_gopher_stopwords", n_stop)
        .withColumn("has_curly_brace", F.col(text_col).contains("{"))
        .withColumn("has_lorem_ipsum", lower.contains("lorem ipsum"))
        .drop("_words", "_lines")
    )


def gopher_stage_predicates(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_frac_alpha: float = 0.8,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_stopwords: int = 2,
    c4_rules: bool = True,
) -> list[tuple[str, Column]]:
    """The Gopher rule battery as ``(name, predicate)`` stages over
    the SIGNAL COLUMNS that ``quality_signals`` appends — apply to
    ``quality_signals(df)``, not to the raw frame:

        filter_funnel(quality_signals(docs), gopher_stage_predicates())
        curate_documents(quality_signals(docs), stages=...)

    Each predicate is a scalar comparison (the text-derived arrays are
    computed ONCE by the signal projection), so the funnel's
    cumulative conjunction and curate's combined filter stay linear in
    rule count instead of re-splitting the text per rule per stage.
    Defaults are the published Gopher thresholds; ``c4_rules=True``
    appends C4's curly-brace and lorem-ipsum page drops. Comparisons
    use the rounded (6 dp) signal values — the one canonical
    semantics. NULL line-fractions pass the line rules (a NULL means a
    blank doc, which dies at the word-count floor instead)."""
    line_ok = lambda col, mx: F.col(col).isNull() | (F.col(col) <= mx)  # noqa: E731
    stages: list[tuple[str, Column]] = [
        ("word_count", F.col("n_words").between(min_words, max_words)),
        (
            "mean_word_len",
            F.col("mean_word_len").between(
                min_mean_word_len, max_mean_word_len
            ),
        ),
        ("alpha_words", F.col("frac_alpha_words") >= min_frac_alpha),
        ("symbol_ratio", F.col("symbol_word_ratio") <= max_symbol_ratio),
        ("bullet_lines", line_ok("frac_bullet_lines", max_bullet_frac)),
        ("ellipsis_lines", line_ok("frac_ellipsis_lines", max_ellipsis_frac)),
        ("stopwords", F.col("n_gopher_stopwords") >= min_stopwords),
    ]
    if c4_rules:
        stages.append(("no_curly_brace", ~F.col("has_curly_brace")))
        stages.append(("no_lorem_ipsum", ~F.col("has_lorem_ipsum")))
    return stages


# The columns quality_signals appends — the contract surface the
# stage predicates reference (and what ensure_quality_signals probes).
QUALITY_SIGNAL_COLUMNS = (
    "n_words",
    "mean_word_len",
    "frac_alpha_words",
    "symbol_word_ratio",
    "frac_bullet_lines",
    "frac_ellipsis_lines",
    "frac_terminal_punct_lines",
    "n_gopher_stopwords",
    "has_curly_brace",
    "has_lorem_ipsum",
)


def ensure_quality_signals(
    df: DataFrame,
    stages: list[tuple[str, Column]],
    text_col: str = "text",
) -> DataFrame:
    """Return a frame against which every stage predicate RESOLVES,
    applying ``quality_signals`` if (and only if) that is what's
    missing.

    The round-7 snapshot broke every ``gopher_stage_predicates``
    caller at once by moving the signal computation out of the
    predicates; this guard makes composition sites
    (``curate_documents(stages=...)``, CLI ``--gopher``) robust to
    either calling convention: a raw ``(doc_id, text)`` frame or an
    already-projected ``quality_signals(df)``. Cost when signals are
    already present: one driver-side analysis probe (no job). If the
    predicates still don't resolve after adding the signals, the
    original AnalysisException propagates — a genuinely unknown
    column should fail loudly, not silently pass every row."""
    from pyspark.errors import AnalysisException

    def _resolves(frame: DataFrame) -> bool:
        try:
            frame.select(
                *[p.alias(f"_s{i}") for i, (_, p) in enumerate(stages)]
            ).schema
            return True
        except AnalysisException:
            return False

    if not stages or _resolves(df):
        return df
    best = df
    if text_col in df.columns and not set(QUALITY_SIGNAL_COLUMNS) <= set(
        df.columns
    ):
        out = quality_signals(df, text_col)
        if _resolves(out):
            return out
        # still unresolved WITH the signals applied: re-raise against
        # the projected frame so the error names only the genuinely
        # unknown column (a typo'd predicate), not all ten signal
        # columns the projection would have provided
        best = out
    # re-raise the real resolution error with full Spark context
    best.select(
        *[p.alias(f"_s{i}") for i, (_, p) in enumerate(stages)]
    ).schema
    return best  # unreachable: the select above throws


def filter_gopher_quality(
    df: DataFrame, text_col: str = "text", **thresholds
) -> DataFrame:
    """Drop documents failing ANY Gopher/C4 rule (see
    ``gopher_stage_predicates`` for thresholds), returning the INPUT
    schema (signal columns are internal). One signal projection + one
    combined scalar filter; for per-rule attrition feed
    ``filter_funnel(quality_signals(df), gopher_stage_predicates())``.
    """
    cond = None
    for _, c in gopher_stage_predicates(**thresholds):
        cond = c if cond is None else (cond & c)
    return quality_signals(df, text_col).filter(cond).select(df.columns)


# PII patterns (Dolma/RefinedWeb-style scrubbing): deliberately
# conservative, engine-portable regexes (no lookaround — Java regex
# and RE2/DuckDB agree on every construct used).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
# the word boundary lives INSIDE the alternation: "\b(" can never
# match after a space (both sides non-word), which would miss the
# "(555) 123-4567" form entirely
PII_PHONE_RE = (
    r"(\+\d{1,2}[ .-]?)?(\(\d{3}\)|\b\d{3})[ .-]?\d{3}[ .-]?\d{4}\b"
)


def _literal_replacement(token: str) -> str:
    """Escape Java-regex replacement metacharacters (``$`` group refs
    and ``\\``) so a caller's token is inserted LITERALLY — an
    unescaped ``$0`` would re-insert the matched PII while the count
    still reports it redacted."""
    return _re.sub(r"([\\$])", r"\\\1", token)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    email_token: str = "<EMAIL>",
    ip_token: str = "<IP>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """Replace emails, IPv4 addresses, and phone numbers with stable
    placeholder tokens (the standard pre-training scrub — Dolma §PII,
    RefinedWeb §3.4), appending ``text_redacted`` plus per-kind match
    counts (``n_pii_email`` / ``n_pii_ipv4`` / ``n_pii_phone``).

    Redaction ORDER is part of the contract: email → IPv4 → phone,
    each counted on the PREVIOUS stage's output — an email's digits
    can't double-count as a phone number, and an IP quad can't be
    half-eaten by the looser phone pattern. Counts use the same
    regexes as the replacements, so count == replacements made.
    Tokens are escaped into literal replacements (``$``/``\\`` are
    Java group-reference metacharacters).

    Pure JVM regexp expressions (count = size(regexp_extract_all),
    replace = regexp_replace) — no shuffle, rides the scan; replayable
    in DuckDB with regexp_replace(..., 'g') (pinned)."""
    t0 = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL_RE), 0))
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, _literal_replacement(email_token))
    out = df.withColumn("_t1", t1).withColumn("n_pii_email", n_email)
    n_ip = F.size(F.regexp_extract_all(F.col("_t1"), F.lit(PII_IPV4_RE), 0))
    t2 = F.regexp_replace(
        F.col("_t1"), PII_IPV4_RE, _literal_replacement(ip_token)
    )
    out = out.withColumn("_t2", t2).withColumn("n_pii_ipv4", n_ip)
    n_ph = F.size(F.regexp_extract_all(F.col("_t2"), F.lit(PII_PHONE_RE), 0))
    t3 = F.regexp_replace(
        F.col("_t2"), PII_PHONE_RE, _literal_replacement(phone_token)
    )
    return (
        out.withColumn("n_pii_phone", n_ph)
        .withColumn("text_redacted", t3)
        .drop("_t1", "_t2")
    )



def compression_signals(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Append ``zlib_ratio`` — the compressibility quality signal the
    web-scale pipelines apply beside the Gopher rules (RedPajama-v2 /
    Dolma ship it): highly compressible text (ratio near 0) is
    template/boilerplate soup, near-incompressible (~1+) is binary
    junk. Thin signal-column adapter over the library's existing
    ``functions.text.compression_ratio_udf`` (the documented batched
    Python seam — Spark has no zlib expression), rounded to 6 dp like
    every other signal here; NULL for NULL/empty docs."""
    from ..functions.text import compression_ratio_udf

    return df.withColumn(
        "zlib_ratio",
        _round6(compression_ratio_udf(level)(F.col(text_col))),
    )


def corpus_report(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One-row "dataset card" for a document corpus — the summary a
    data release ships (and a curation run logs before/after): doc and
    blank counts, token mass and its distribution, mean heuristic
    quality, and the exact-duplicate rate via the 64-bit normalized
    fingerprint.

    Columns: ``n_docs, n_blank, total_tokens, mean_tokens,
    p50_tokens, p90_tokens, p99_tokens, max_tokens, mean_quality,
    exact_dup_rate`` (rates/means rounded to 6 dp; percentiles are
    EXACT linear-interpolated — same definition as DuckDB
    ``quantile_cont``, replayed in the tests; at extreme scale swap
    ``approx_percentile`` like the sketch variants of the event
    percentiles).

    Accounting contracts (round-8 review): token counts use
    ``doc_token_count`` — a blank doc is 0 tokens, matching the
    packers and the mixture planner, so the card's token mass
    reconciles against ``packed_tokens``; NULL text is treated as
    blank (counted in ``n_blank``, 0 tokens, same fingerprint as the
    empty string); blank/NULL docs carry NULL quality so
    ``mean_quality`` averages only docs with content.

    ONE projection + ONE aggregate over (n_tok, quality, fingerprint,
    blank) — no per-metric scans; the only expensive member is the
    distinct-fingerprint count, which is the price of an exact dup
    rate (the MinHash index is the cheap proxy when exactness isn't
    required)."""
    from ..functions.text import (
        doc_token_count,
        fingerprint64_hex,
        quality_score,
    )

    text = F.coalesce(F.col(text_col), F.lit(""))
    blank = F.trim(text) == ""
    per_doc = df.select(
        doc_token_count(text).alias("_nt"),
        # quality is round(·, 4), so ×10⁴ is an exact integer — summing
        # LONGs makes mean_quality order-invariant (a float sum across
        # partitions drifts in the last ulp with partition order, which
        # a 6-dp round can't always hide from a cross-engine hash)
        F.when(blank, F.lit(None)).otherwise(
            F.round(quality_score(text) * 10000).cast("long")
        ).alias("_q"),
        fingerprint64_hex(text).alias("_fp"),
        blank.alias("_blank"),
    )
    n_docs = F.count(F.lit(1))
    return per_doc.agg(
        n_docs.alias("n_docs"),
        F.sum(F.col("_blank").cast("int")).alias("n_blank"),
        F.sum("_nt").alias("total_tokens"),
        _round6(F.avg("_nt")).alias("mean_tokens"),
        F.round(F.expr("percentile(_nt, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(_nt, 0.9)"), 4).alias("p90_tokens"),
        F.round(F.expr("percentile(_nt, 0.99)"), 4).alias("p99_tokens"),
        F.max("_nt").alias("max_tokens"),
        _round6(
            F.sum("_q").cast("double")
            / F.lit(10000.0)
            / F.count("_q").cast("double")
        ).alias("mean_quality"),
        _round6(
            F.lit(1.0)
            - F.try_divide(
                F.count_distinct("_fp").cast("double"), n_docs
            )
        ).alias("exact_dup_rate"),
    )

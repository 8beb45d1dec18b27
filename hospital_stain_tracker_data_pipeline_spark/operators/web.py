"""Web-corpus curation operators (beyond the reference surface — the
provenance-level controls a Common-Crawl-style pipeline applies before
any text-level stage): URL → domain extraction and per-domain
document caps.

Spark-first shape: domain extraction is a pure regexp Column (JVM-side,
whole-stage codegen); the cap is one ranked window per group keyed by a
deterministic hash order. No Python in any per-document path — the one deliberate exception is the
robots.txt parser (an Arrow-batched pandas UDF over the tiny per-domain
rule bodies; the per-URL politeness verdict itself is pure Columns over
a broadcast rules table).

At 100 TB: the cap's window shuffles on the group column — exactly one
exchange, and the heavy tail of the web (millions of single-page
domains) costs nothing because partial ranking needs no global sort.
The deliberate skew caveat: a mega-domain (e.g. one host contributing
0.1% of the corpus) concentrates its rows in one task; AQE skew-split
does not apply to windows, so for genuinely pathological hosts,
pre-filter them (they are exactly the hosts a cap would cut to `cap`
rows anyway, so dropping the excess EARLY with a
cheap count + filter is the scale-correct order of operations —
``cap_per_group`` does this automatically with its two-phase plan).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Authority prefix: optional scheme, optional "//", optional userinfo
# — everything that precedes the host. The quantifiers are POSSESSIVE
# (Java-regex `?+`): a degenerate input like "https://" must NOT
# backtrack into re-reading its scheme as a host — with possessive
# consumption the host group simply fails to match and the extraction
# returns NULL, agreeing with urllib's .hostname. The scheme branch
# requires a character AFTER the colon (`(?=.)`) so a trailing-colon
# empty-port input like "example.com:" is host + empty port (urllib
# agrees), not a scheme swallowing the whole string. Single source of
# truth: the host/port/path extractors all compose from this prefix.
_AUTH_PREFIX = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:(?=.))?+(?://)?+(?:[^/?#@]*@)?+"

# host = everything between the authority prefix and the first "/",
# "?", "#", or ":" (port). Lowercased; userinfo ("user@") stripped; a
# bracketed IPv6 literal ("[::1]") matches as a unit (the port colon
# only terminates OUTSIDE brackets) and the brackets are stripped
# afterward — mirroring urllib.parse .hostname. A deliberately
# engine-portable regexp rather than java.net.URI semantics, which no
# other engine reproduces.
_HOST_RE = _AUTH_PREFIX + r"(\[[^\]/?#]*\]|[^/?#:]+)"


def extract_domain(url: Column, registrable: bool = False) -> Column:
    """Lowercased host of a URL-ish string; NULL for NULL/empty input.

    ``registrable=True`` reduces the host to its last two labels
    (``news.bbc.co.uk`` → ``co.uk`` caveat applies: a real public
    -suffix list is a data file, not an algorithm — this is the
    documented approximation; feed a suffix table through
    ``cap_per_group``'s ``group_col`` for exact eTLD+1 policy).
    """
    host = F.lower(F.regexp_extract(F.trim(url), _HOST_RE, 1))
    host = F.regexp_replace(host, r"^\[|\]$", "")
    host = F.when(host == "", None).otherwise(host)
    if not registrable:
        return host
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by deterministic
    keyed-hash order (``md5(seed:id)`` with an id tiebreak) — a seeded
    uniform sample of each over-represented group, the standard
    "max N pages per domain" web-curation control. md5 rather than
    xxhash64 as the permutation key so the selection is replayable
    bit-for-bit by other engines (the DuckDB oracle pins the exact
    kept-id set, same trick as the dedup fingerprints). Rows with a
    NULL group are kept unconditionally (unknown provenance is a
    separate policy decision — filter them upstream if unwanted).

    Two-phase plan for skew: phase 1 counts rows per group (partial
    agg, tiny result) and keeps only over-cap groups; phase 2 runs the
    ranked window ONLY over rows of those groups (broadcast semi-join
    to select them), while under-cap groups — the overwhelming
    majority of the web's Zipf tail — bypass the window entirely. The
    window exchange therefore carries just the head of the
    distribution instead of the whole corpus.

    Deterministic under any partitioning; a different ``seed`` keeps a
    statistically independent subset per epoch.
    """
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    over = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(group_col)
    )
    in_over = df.join(F.broadcast(over), group_col, "left_semi")
    pass_through = df.join(F.broadcast(over), group_col, "left_anti")
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    capped = (
        in_over.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    # the equi-join hoists group_col to the front; restore the input's
    # column order so the cap is schema-transparent
    return pass_through.unionByName(capped).select(df.columns)


# Query parameters that carry only click-tracking provenance, never
# content identity: the standard strip-set every web-curation pipeline
# applies before exact-URL dedup (utm_* is a prefix family; the rest
# are vendor click ids). Matched against the raw (undecoded) key.
TRACKING_PARAM_RE = (
    r"^(utm_[^=&]*|fbclid|gclid|gclsrc|dclid|msclkid|mc_cid|mc_eid|"
    r"igshid|yclid|_ga|_gl|ref_src|ref_url|spm|wbraid|gbraid)(=.*)?$"
)

def canonicalize_url(url: Column) -> Column:
    """Canonical form of a web URL for exact-URL dedup — collapses the
    provenance-irrelevant variation that makes byte-equal pages look
    distinct in a crawl:

    - scheme and host lowercased; userinfo (``user:pass@``) dropped
    - default ports stripped (``:80`` for http, ``:443`` for https);
      other ports kept
    - fragment (``#...``) dropped
    - tracking query params dropped (``TRACKING_PARAM_RE``: utm_*,
      fbclid, gclid, ...); surviving params sorted byte-wise so
      ``?b=2&a=1`` == ``?a=1&b=2``; empty query ⇒ no ``?``
    - trailing slashes collapsed (``/a/b///`` → ``/a/b``); empty path
      ⇒ ``/``
    - percent-escapes and ``+`` are NOT decoded (decoding is lossy
      without charset knowledge; byte-level canonical form is the
      stable dedup key)

    NULL/blank input ⇒ NULL. A URI with a scheme but NO authority
    (``mailto:a@b``, ``http:example.com/x`` — no ``//``) has no host
    and canonicalizes to NULL rather than inventing one (urllib's
    .hostname agrees; ``dedup_exact_urls`` keeps NULL rows
    unconditionally, so authority-less records are never collapsed
    into each other). Schemeless ``host:port/...`` is likewise parsed
    per RFC 3986 (``host:`` is a syntactically valid scheme ⇒ no
    authority ⇒ NULL), so feed full URLs when ports matter — crawl
    records always carry the scheme. Idempotent: applying it twice is
    a no-op
    (pinned by a hypothesis property). Pure Column expressions — stays
    in whole-stage codegen; at 100 TB this fuses into the scan with no
    Python and no shuffle. Each piece is extracted from a bound column
    (not re-derived inside HOF lambdas) per the repo's HOF-CSE rule.
    """
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1))
    # a scheme without "//" means NO authority (RFC 3986 §3) — there
    # is no host to canonicalize around
    has_authority = (scheme == "") | u.rlike(
        r"^[a-zA-Z][a-zA-Z0-9+.-]*://"
    )
    host = F.lower(F.regexp_extract(u, _HOST_RE, 1))  # brackets kept
    port = F.regexp_extract(u, _AUTH_PREFIX + r"(?:\[[^\]/?#]*\]|[^/?#:]+):(\d+)", 1)
    raw_path = F.regexp_extract(u, _AUTH_PREFIX + r"[^/?#]*([^?#]*)", 1)
    # strip the fragment BEFORE looking for '?' — a '?' inside the
    # fragment ("/p#a?b") is not a query delimiter (RFC 3986 §3.4/3.5)
    pre_frag = F.substring_index(u, "#", 1)
    raw_query = F.regexp_extract(pre_frag, r"\?(.*)$", 1)

    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    stripped = F.regexp_replace(raw_path, r"/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    params = F.array_sort(
        F.filter(
            F.split(raw_query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    query = F.array_join(params, "&")

    canon = F.concat(
        F.when(scheme == "", F.lit("")).otherwise(F.concat(scheme, F.lit("://"))),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    return F.when(
        u.isNull() | (u == "") | (host == "") | ~has_authority, None
    ).otherwise(canon)


def dedup_exact_urls(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    checkpoint_winners: bool = False,
) -> DataFrame:
    """Keep the first occurrence (lowest ``id_col``) per canonical URL
    — exact-URL dedup, the cheapest and highest-yield dedup stage of a
    crawl pipeline (CommonCrawl re-fetches the same page across snapshots
    under tracking-param/fragment/port variations).

    Plan: the groupBy shuffles only ``(canonical_url, id)`` — document
    text never moves. Identity is the canonical STRING itself, not a
    hash of it: at the billions-of-URLs scale this stage targets, a
    64-bit hash identity would take expected birthday collisions, each
    silently dropping a non-duplicate document — a canonical URL is
    ~80 bytes, so exactness costs only a modestly wider exchange.
    Winners come back via a semi-join on ids (Catalyst/AQE picks
    broadcast when the winner set is dimension-sized). Rows whose URL
    fails to canonicalize (NULL) are kept unconditionally — unknown
    provenance is a separate policy, mirroring ``cap_per_group``'s
    NULL-group rule.

    ``checkpoint_winners=True`` eagerly truncates the winner id-set's
    lineage (``materialize``): the semi-join's right side becomes a
    flat scan instead of a second reference to ``df``'s plan — pass it
    when composing into multi-stage recipes (``curate_documents``
    does) so plan growth stays linear per the repo's plan-growth
    discipline.
    """
    canon = df.withColumn("_canon", canonicalize_url(F.col(url_col)))
    winners = (
        canon.filter(F.col("_canon").isNotNull())
        .groupBy("_canon")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    if checkpoint_winners:
        from .dedup import materialize

        winners = materialize(winners)
    kept = canon.filter(F.col("_canon").isNull()).select(df.columns).unionByName(
        canon.join(winners, id_col, "left_semi").select(df.columns)
    )
    return kept


# --- HTML -> text extraction (the step BEFORE every text-quality /
# dedup operator in a web pipeline: crawl HTML in, prose out) ---

# container elements whose CONTENT is noise, not prose — dropped
# whole. One regex PER TAG (applied sequentially) instead of an
# alternation with a backreference: RE2/DuckDB has no backreferences,
# and cross-engine replay is part of the contract. (?is) =
# case-insensitive + dotall; non-greedy body so adjacent blocks don't
# merge. Every construct here means the same in Java regex and RE2.
_HTML_DROP_TAGS = ("script", "style", "noscript", "head", "svg", "iframe")
_HTML_DROP_BLOCK_RES = tuple(
    rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>" for tag in _HTML_DROP_TAGS
)
_HTML_COMMENT_RE = r"(?s)<!--.*?-->"
# block-level boundaries become newlines so "<p>a</p><p>b</p>" keeps a
# document structure instead of fusing into "ab" — span dedup and line
# heuristics downstream depend on those newlines
_HTML_BLOCK_TAG_RE = (
    r"(?i)</?(p|div|br|li|ul|ol|dl|dt|dd|h[1-6]|tr|td|th|table|thead|"
    r"tbody|section|article|aside|nav|header|footer|blockquote|pre|"
    r"form|fieldset|hr|figure|figcaption|main|address)\b[^>]*/?\s*>"
)
_HTML_ANY_TAG_RE = r"<[^>]+>"

# the named entities worth decoding without an HTML parser; &amp; is
# decoded LAST so "&amp;lt;" correctly yields the literal "&lt;", not
# "<" (double-encoding must not double-decode)
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)


def extract_text_from_html(html: Column) -> Column:
    """Visible text of an HTML payload as a pure Column expression —
    the C4/CCNet-style extraction step (crawl record → prose) that
    runs BEFORE any quality/dedup operator, kept deliberately
    parser-free so it fuses into the scan: drop comments and
    script/style/noscript/head/svg/iframe blocks wholesale, turn
    block-level tags into newlines (paragraph structure survives for
    the line-based quality rules and span dedup), strip remaining
    tags, decode the common named entities (``&amp;`` last — double
    encoding must not double-decode; numeric references other than
    ``&#34;``/``&#39;`` pass through untouched), collapse horizontal
    whitespace, and trim each line.

    A regex pipeline is NOT an HTML5 parser (no misnested-tag
    recovery, no CDATA subtleties); it is the deterministic,
    zero-shuffle, JVM-side 99%-case — the same trade C4 made. Every
    regex construct used is Java/RE2-common, so DuckDB replays the
    chain bit-identically (pinned in ``tests/test_web.py``).

    NULL in ⇒ NULL out; input without any markup passes through
    (modulo whitespace normalization)."""
    # script/style blocks drop BEFORE comments: a script containing a
    # literal "<!--" (JS string, legacy script-hiding) would otherwise
    # let the comment regex swallow real body content up to the next
    # "-->" (round-8 review). The residual case — a comment containing
    # "</script>" — is far rarer and costs only over-trimming the
    # comment, which was being deleted anyway.
    t = html
    for block_re in _HTML_DROP_BLOCK_RES:
        t = F.regexp_replace(t, block_re, "")
    t = F.regexp_replace(t, _HTML_COMMENT_RE, "")
    t = F.regexp_replace(t, _HTML_BLOCK_TAG_RE, "\n")
    t = F.regexp_replace(t, _HTML_ANY_TAG_RE, "")
    for ent, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    # horizontal runs -> one space; then strip spaces adjacent to
    # newlines (anchor-free per-line trim: multiline ^/$ semantics
    # diverge between Java regex and RE2's newline-sensitive mode,
    # " *\n *" means the same everywhere)
    t = F.regexp_replace(t, r"[ \t\x0b\f\r]+", " ")
    t = F.regexp_replace(t, r" *\n *", "\n")
    # 3+ blank lines -> paragraph break; document-edge trim last
    # (regexp, not trim() — Spark's trim strips only spaces, and the
    # tag->newline pass leaves \n at the document edges)
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def parse_html_documents(
    df: DataFrame,
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """DataFrame convenience over ``extract_text_from_html``: append
    ``text_col`` with the extracted prose (input schema otherwise
    unchanged) — the natural first stage of a crawl-ingest pipeline:

        parse_html_documents(crawl) |> quality filters |> dedup ...
    """
    return df.withColumn(
        text_col, extract_text_from_html(F.col(html_col))
    )


def plan_recrawl(
    frontier: DataFrame,
    fetched: DataFrame,
    url_col: str = "url",
    lastmod_col: str = "lastmod",
    fetched_url_col: str = "url",
    fetch_ts_col: str = "fetch_ts",
) -> DataFrame:
    """The crawl scheduler's decision table: reconcile a sitemap
    frontier (``sources.xml_source.read_sitemap`` output) against the
    lake's fetch history into ``(url, status, lastmod_ts,
    last_fetch_ts)`` with one row per CANONICAL url and status:

    - ``new``   — in the frontier, never fetched;
    - ``stale`` — fetched, and the frontier's ``lastmod`` is later
      than the last fetch (the page changed — refetch);
    - ``fresh`` — fetched and not provably newer (missing/unparseable
      ``lastmod`` counts as fresh: no EVIDENCE of change; an age-based
      refetch policy composes downstream on ``last_fetch_ts``);
    - ``gone``  — fetched before but absent from the frontier (the
      publisher delisted it — a deletion-propagation candidate).

    Both sides pass through ``canonicalize_url`` first, so
    tracking-param/port/fragment variants reconcile as one page;
    duplicate frontier entries keep their max ``lastmod``, repeated
    fetches their max ``fetch_ts``. ``lastmod`` accepts both sitemap
    forms (date-only and W3C datetime) via ``try_to_timestamp`` —
    unparseable values degrade to NULL (⇒ fresh), never an ANSI abort.
    Rows whose URL fails to canonicalize (NULL) are dropped from the
    plan: they can't be fetched.

    Plan shape at scale: two per-url partial aggregations + ONE
    full-outer equi-join on the canonical url — both sides reduce to
    (url, ts) before the shuffle, so the exchange carries ~tens of
    bytes per url regardless of frontier metadata width."""
    lastmod_ts = F.coalesce(
        F.try_to_timestamp(F.col(lastmod_col)),
        F.try_to_timestamp(F.col(lastmod_col), F.lit("yyyy-MM-dd")),
    )
    want = (
        frontier.select(
            canonicalize_url(F.col(url_col)).alias("url"),
            lastmod_ts.alias("lastmod_ts"),
        )
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.max("lastmod_ts").alias("lastmod_ts"))
    )
    have = (
        fetched.select(
            canonicalize_url(F.col(fetched_url_col)).alias("url"),
            # try_to_timestamp, matching lastmod's treatment: one
            # malformed fetch-history value degrades to NULL instead of
            # aborting a corpus-scale reconcile under ANSI mode.
            F.try_to_timestamp(F.col(fetch_ts_col).cast("string")).alias(
                "last_fetch_ts"
            ),
        )
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.max("last_fetch_ts").alias("last_fetch_ts"))
    )
    # `gone` needs to know the row came only from the fetched side —
    # mark frontier membership before the join columns coalesce
    return (
        want.withColumn("_in_frontier", F.lit(True))
        .join(have, "url", "full_outer")
        .select(
            "url",
            # frontier membership decides first: a fetched-only row
            # whose every fetch_ts failed to parse (NULL max) is still
            # "gone", not "new" — it must stay a deletion candidate.
            F.when(F.col("_in_frontier").isNull(), F.lit("gone"))
            .when(F.col("last_fetch_ts").isNull(), F.lit("new"))
            .when(
                F.col("lastmod_ts").isNotNull()
                & (F.col("lastmod_ts") > F.col("last_fetch_ts")),
                F.lit("stale"),
            )
            .otherwise(F.lit("fresh"))
            .alias("status"),
            "lastmod_ts",
            "last_fetch_ts",
        )
    )


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309) — the crawl-politeness gate
# ---------------------------------------------------------------------------

# Parsed-rule row shape emitted per robots.txt body. The regex is
# precomputed at PARSE time (rules tables are tiny — tens of rows per
# domain), so the frontier-side match is a single regexp_like over a
# broadcast rules table: the per-URL work never re-derives patterns.
_ROBOTS_RULES_TYPE = (
    "array<struct<agent:string,allow:boolean,pattern:string,regex:string>>"
)


def _robots_pattern_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex: literal except ``*``
    (any char run) and a TRAILING ``$`` (end anchor; ``$`` elsewhere is
    literal per the RFC's grammar). ``re.escape`` output is valid in
    Java regex and RE2 alike (only punctuation ever gets escaped), so
    the same regex replays in DuckDB."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    return (
        "^"
        + ".*".join(_re.escape(seg) for seg in body.split("*"))
        + ("$" if anchored else "")
    )


def _parse_robots(
    text: str,
) -> tuple[
    list[tuple[str, bool, str | None, str | None]],
    list[tuple[str, float]],
]:
    """One robots.txt body → (rules, delays): the ONE group walker
    behind both ``robots_rules`` and ``robots_crawl_delays`` so path
    rules and pacing directives cannot disagree about group membership.

    RFC 9309 group semantics: consecutive ``User-agent`` lines stack
    onto the rule block that follows (a stacked group's rules AND its
    crawl-delay apply to every stacked agent); a ``User-agent`` after
    any group-member line starts a new group; rules before any group
    are undefined and ignored; an EMPTY pattern matches nothing
    (``Disallow:`` alone = no restriction) and is dropped;
    ``Crawl-delay`` (de-facto, not in the RFC) is treated as a
    group-member line; other unrecognized fields (``Sitemap``, ...)
    are ignored WITHOUT ending a group (the reference-parser
    behavior). Comments (#) strip to end of line; field names are
    case-insensitive; agent tokens lowercase."""
    rules: list[tuple[str, bool, str | None, str | None]] = []
    delays: list[tuple[str, float]] = []
    agents: list[str] = []
    seen_agents: set[str] = set()
    ruled_agents: set[str] = set()
    stacking = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not stacking:
                agents = []
            if val:
                agents.append(val.lower())
                seen_agents.add(val.lower())
            stacking = True
        elif key in ("allow", "disallow"):
            stacking = False
            if not agents or not val:
                # empty pattern matches nothing ("Disallow:" = no
                # restriction) — but the GROUP still exists (sentinel
                # below), so a named bot with an all-permissive group
                # must not fall back to '*'
                continue
            for a in agents:
                ruled_agents.add(a)
                rules.append(
                    (a, key == "allow", val, _robots_pattern_regex(val))
                )
        elif key == "crawl-delay":
            stacking = False
            try:
                d = float(val)
            except ValueError:
                continue
            # the old digit-only regex could not produce nan/inf/
            # negative; float() can — a single 'Crawl-delay: nan' body
            # would otherwise win every max() (Spark orders NaN above
            # all doubles) and poison the fetcher's sleep
            import math

            if not math.isfinite(d) or d < 0:
                continue
            for a in agents:
                delays.append((a, d))
        # other fields: neutral — neither rules nor group breaks
    # group-presence sentinel (NULL pattern, never matches a path) for
    # agents whose every rule was empty-pattern: the canonical
    # "User-agent: goodbot\nDisallow:\n" welcome idiom defines a group
    # with NO restrictions — RFC 9309 group selection must use it and
    # ignore '*', not treat the bot as ungrouped
    for a in sorted(seen_agents - ruled_agents):
        rules.append((a, True, None, None))
    return rules, delays


def _parse_robots_txt(
    text: str,
) -> list[tuple[str, bool, str | None, str | None]]:
    """Rules half of ``_parse_robots`` (see there for semantics);
    group-presence sentinel rows carry ``None`` pattern/regex."""
    return _parse_robots(text)[0]


def robots_rules(
    robots: DataFrame,
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """Parse fetched robots.txt bodies into the flat per-domain rules
    table ``(domain, agent, allow, pattern, pattern_len, regex)`` that
    ``robots_filter`` broadcast-joins onto a frontier. One Arrow-batched
    parse per body (bodies are small and the output is rule-sized);
    ``pattern_len`` is the RFC's specificity measure (octet length of
    the pattern), precomputed so the filter's longest-match argmax is a
    plain struct max. A group whose rules were all empty-pattern
    (no restrictions) appears as a NULL-pattern sentinel row: it can
    never match a path but marks the group as DEFINED for agent
    selection."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_ROBOTS_RULES_TYPE)
    def _parse(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: _parse_robots_txt(t) if t is not None else []
        )

    return robots.select(
        F.col(domain_col).alias("domain"),
        F.explode(_parse(F.col(robots_col))).alias("r"),
    ).select(
        "domain",
        F.col("r.agent").alias("agent"),
        F.col("r.allow").alias("allow"),
        F.col("r.pattern").alias("pattern"),
        F.octet_length("r.pattern").alias("pattern_len"),
        F.col("r.regex").alias("regex"),
    )


@functools.lru_cache(maxsize=65536)
def _robots_regex_cached(regex: str):
    """Process-wide BOUNDED compiled-pattern cache for the robots
    match: per frontier row the match is one cache hit + one compiled
    search instead of a recompile. Module-level (not a closure) so the
    cache survives across Arrow batches and across ``robots_filter``
    calls within an executor process. LRU-bounded because an executor
    at frontier scale streams batches spanning millions of domains —
    an unbounded dict would grow one compiled pattern per distinct
    rule forever (patterns repeat heavily within and across batches,
    so a 64k working set keeps the hit rate high while capping worker
    memory)."""
    import re as _re

    return _re.compile(regex)


def _robots_match_batch(paths: pd.Series, regexes: pd.Series) -> pd.Series:
    """Arrow-batched (path, regex) → matched?, `regexp_like` semantics
    (unanchored search — our generated patterns carry their own ``^``).
    NULL regex (the group-presence sentinel) and NULL path match
    nothing, exactly as the SQL `regexp_like` NULL-propagation filtered
    them before."""
    out = []
    for p, r in zip(paths, regexes):
        if p is None or r is None:
            out.append(False)
        else:
            out.append(_robots_regex_cached(r).search(p) is not None)
    return pd.Series(out)


def _robots_path(url: Column) -> Column:
    """The path-and-query a robots rule matches against: everything
    from the first ``/`` after the authority through the end, fragment
    stripped; a URL with no path matches as ``/``."""
    path = F.regexp_extract(
        F.trim(url), _AUTH_PREFIX + r"[^/?#]*(/[^#]*|\?[^#]*)", 1
    )
    # a bare "?query" still matches rules as "/?query"
    return F.when(path == "", F.lit("/")).otherwise(
        F.when(path.startswith("?"), F.concat(F.lit("/"), path)).otherwise(
            path
        )
    )


def robots_filter(
    frontier: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    user_agent: str = "*",
) -> DataFrame:
    """Crawl-politeness verdict per frontier URL — the gate between
    ``plan_recrawl``'s fetch list and the fetcher (real crawls cannot
    fetch without it): appends ``robots_allowed`` (boolean) and
    ``robots_rule`` (the winning ``allow:``/``disallow:`` pattern, NULL
    when no rule matched) to the frontier, RFC 9309 semantics:

    - group selection: the rules whose agent token equals
      ``user_agent`` (case-insensitive product token) when the domain
      defines such a group, else the ``*`` group;
    - longest match wins among the selected group's rules that match
      the URL's path+query (specificity = pattern octet length); a
      length tie goes to ``allow``;
    - no matching rule, no rules for the domain, or no robots.txt at
      all ⇒ allowed (the RFC default).

    Plan shape at scale: rule selection happens on the (tiny) rules
    side only; per-URL work is ONE broadcast join domain→rules + one
    precompiled-regex match + one struct-max argmax keyed on the URL.
    The frontier is keyed by ``url_col`` (``plan_recrawl`` output
    already is); duplicate URLs receive identical verdicts."""
    ua = user_agent.lower()
    spec = rules.filter(F.col("agent") == ua)
    star = rules.filter(F.col("agent") == "*").join(
        spec.select("domain").distinct(), "domain", "left_anti"
    )
    selected = spec.unionByName(star)

    urls = (
        frontier.select(F.col(url_col).alias("_rb_url"))
        .distinct()
        .select(
            "_rb_url",
            extract_domain(F.col("_rb_url")).alias("_rb_domain"),
            _robots_path(F.col("_rb_url")).alias("_rb_path"),
        )
    )
    # the match is Arrow-batched with a process-wide compiled-pattern
    # cache (NOT regexp_like with a non-foldable pattern column: Spark's
    # RLike caches only the last compiled pattern per expression
    # instance, and the joined stream interleaves a URL's rules
    # row-to-row, so a billion-URL frontier would recompile per row)
    from pyspark.sql.functions import pandas_udf

    _match = pandas_udf(_robots_match_batch, "boolean")
    wins = (
        urls.join(
            F.broadcast(selected),
            urls["_rb_domain"] == selected["domain"],
        )
        .filter(_match(F.col("_rb_path"), F.col("regex")))
        .groupBy("_rb_url")
        .agg(
            F.max(F.struct("pattern_len", "allow", "pattern")).alias("_rb_w")
        )
    )
    out = frontier.join(
        wins, frontier[url_col] == wins["_rb_url"], "left"
    )
    return out.select(
        *[frontier[c] for c in frontier.columns],
        F.coalesce(F.col("_rb_w.allow"), F.lit(True)).alias(
            "robots_allowed"
        ),
        F.when(
            F.col("_rb_w").isNotNull(),
            F.concat(
                F.when(F.col("_rb_w.allow"), F.lit("allow:")).otherwise(
                    F.lit("disallow:")
                ),
                F.col("_rb_w.pattern"),
            ),
        ).alias("robots_rule"),
    )


def robots_crawl_delays(
    robots: DataFrame,
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """Per-domain ``Crawl-delay`` seconds for our product token —
    ``(domain, crawl_delay_s)``; domains declaring no applicable delay
    drop out. Crawl-delay is not part of RFC 9309 but is the de-facto
    pacing directive large crawlers honor. Extraction rides the SAME
    group walker as ``robots_rules`` (``_parse_robots``) so stacked
    user-agent groups and group boundaries behave identically, and
    group selection mirrors ``robots_filter``: the agent-specific
    group EXCLUDES ``*`` when defined — a host that granted our bot a
    faster rate gets that rate. Multiple declarations in the selected
    scope keep the max (conservative politeness). Compose with
    ``schedule_fetch``: waves for bounded concurrency, delays for
    inter-wave sleep."""
    from pyspark.sql.functions import pandas_udf

    ua = user_agent.lower()

    @pandas_udf("array<struct<agent:string,delay:double>>")
    def _delays(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return []
            rules, delays = _parse_robots(t)
            out = [{"agent": a, "delay": d} for a, d in delays]
            # group-PRESENCE rows (NULL delay) for agents whose group
            # declares rules but no Crawl-delay: group selection must
            # key on group existence, exactly like robots_filter — an
            # examplebot group without a delay still excludes '*'
            declared = {a for a, _ in delays}
            out += [
                {"agent": a, "delay": None}
                for a in sorted({r[0] for r in rules} - declared)
            ]
            return out

        return texts.map(one)

    parsed = robots.select(
        F.col(domain_col).alias("domain"),
        F.explode(_delays(F.col(robots_col))).alias("d"),
    ).select(
        "domain",
        F.col("d.agent").alias("agent"),
        F.col("d.delay").alias("delay"),
    )
    # group selection mirrors robots_filter exactly: the agent-specific
    # GROUP (not merely an agent-specific delay) excludes '*' when
    # defined; multiple declarations within the selected scope keep the
    # max; a selected group with no declared delay drops the domain
    # (max over NULLs) — no applicable pacing directive
    spec = parsed.filter(F.col("agent") == ua)
    star = parsed.filter(F.col("agent") == "*").join(
        spec.select("domain").distinct(), "domain", "left_anti"
    )
    return (
        spec.unionByName(star)
        .groupBy("domain")
        .agg(F.max("delay").alias("crawl_delay_s"))
        .filter(F.col("crawl_delay_s").isNotNull())
    )


def schedule_fetch(
    frontier: DataFrame,
    url_col: str = "url",
    per_domain_per_wave: int = 1,
    priority_col: str | None = None,
) -> DataFrame:
    """Politeness scheduling: assign every frontier URL a ``wave``
    number such that no domain appears more than
    ``per_domain_per_wave`` times per wave — the fetcher executes wave
    0 across ALL domains in parallel, sleeps each domain's crawl
    delay, then wave 1, ... Robots answers MAY-fetch
    (``robots_filter``); this answers WHEN: per-host concurrency is
    the politeness constraint a distributed fetcher must bound,
    and wave numbering turns it into embarrassing parallelism across
    hosts.

    Within a domain, URLs order by ``priority_col`` DESCENDING when
    given (sitemap <priority>, PageRank, ...), then by URL for a
    deterministic total order. One window shuffle on domain; the long
    tail of single-page hosts all lands in wave 0. Appends ``domain``
    and ``wave`` (0-based) to the frontier columns."""
    if per_domain_per_wave < 1:
        raise ValueError("per_domain_per_wave must be >= 1")
    order = (
        [F.desc(priority_col)] if priority_col else []
    ) + [F.asc(url_col)]
    w = Window.partitionBy("domain").orderBy(*order)
    return (
        frontier.withColumn("domain", extract_domain(F.col(url_col)))
        .withColumn(
            "wave",
            # explicit floor (not cast-truncation) so the expression is
            # portable verbatim: DuckDB CAST rounds half-even, Spark
            # CAST truncates — floor agrees everywhere for rn >= 1
            F.floor(
                (F.row_number().over(w) - 1) / per_domain_per_wave
            ).cast("int"),
        )
    )


def fetch_timeline(
    frontier: DataFrame,
    delays: DataFrame,
    default_delay_s: float = 1.0,
) -> DataFrame:
    """The EXECUTABLE crawl schedule: compose ``schedule_fetch``'s wave
    numbers with ``robots_crawl_delays``' per-domain pacing into a
    per-URL earliest-start offset — ``earliest_fetch_offset_s = wave *
    coalesce(crawl_delay_s, default_delay_s)``. Waves answer "how many
    rounds before this URL's turn on its host"; delays answer "how long
    each round on that host must wait"; the product is the soonest
    second (relative to crawl start) a polite fetcher may issue the
    request. A distributed fetcher sorts each task's URLs by the offset
    and sleeps the gaps — no cross-host coordination needed, because
    politeness is per-host by construction.

    ``frontier`` must carry ``domain`` + ``wave`` (``schedule_fetch``
    output shape — fail-fast otherwise); ``delays`` is the
    ``robots_crawl_delays`` table ``(domain, crawl_delay_s)``. Appends
    ``crawl_delay_s`` (the delay actually applied — the coalesced
    value, so the plan is self-documenting) and
    ``earliest_fetch_offset_s``. Pure Columns after ONE broadcast join
    (the delays side is domains-sized); the frontier never reshuffles.
    ``default_delay_s`` must be >= 0 — a 0 default means undeclared
    hosts are paced only by wave concurrency."""
    missing = [c for c in ("domain", "wave") if c not in frontier.columns]
    if missing:
        raise ValueError(
            f"frontier lacks column(s) {missing} — run schedule_fetch "
            "first (fetch_timeline composes waves x delays)"
        )
    taken = {"crawl_delay_s", "earliest_fetch_offset_s"} & set(
        frontier.columns
    )
    if taken:
        raise ValueError(
            f"frontier already carries column(s) {sorted(taken)} — "
            "fetch_timeline was already applied (re-applying would "
            "produce duplicate column names); drop them first to "
            "re-schedule"
        )
    if default_delay_s < 0:
        raise ValueError(
            f"default_delay_s must be >= 0, got {default_delay_s}"
        )
    d = delays.select(
        F.col("domain").alias("_ft_domain"),
        F.col("crawl_delay_s").alias("_ft_delay"),
    )
    out = frontier.join(
        F.broadcast(d), frontier["domain"] == d["_ft_domain"], "left"
    )
    applied = F.coalesce(
        F.col("_ft_delay"), F.lit(float(default_delay_s))
    )
    return out.select(
        *[frontier[c] for c in frontier.columns],
        applied.alias("crawl_delay_s"),
        (F.col("wave") * applied).alias("earliest_fetch_offset_s"),
    )


"""Bounded-memory frequency sketches (beyond the reference surface —
the corpus-profiling tools a 100 TB pipeline needs before it can pick
caps and dedup parameters).

``heavy_hitters`` finds every item whose global frequency is at least a
``phi`` fraction of the corpus — EXACTLY — in two scans and without
ever shuffling the full item stream. Pass 1 runs a Misra-Gries
(space-saving) summary per partition inside ``mapInPandas``: a
capacity-``m`` summary retains every item whose local count exceeds
``n_p / m``, so by pigeonhole the union of per-partition candidate
sets contains every item with global count > N/m (Agarwal et al.,
"Mergeable Summaries", PODS 2012). With ``m = 2*ceil(1/phi)`` the
candidate union (≤ m rows per partition — kilobytes) is a guaranteed
superset of the phi-heavy items. Pass 2 broadcast-semi-joins the
corpus against the candidates and takes EXACT counts for just those
items. The full item stream is never the shuffle payload: the only
exchange carries candidate-matched rows reduced by partial
aggregation.

``hll_registers`` / ``hll_merge`` / ``hll_estimate`` are a
deterministic HyperLogLog (Flajolet et al. 2007, with the HLL++
linear-counting small-range correction) whose SKETCH is a first-class
DataFrame: ≤ 2^p rows of ``(register, max_rho)``. Spark's built-in
``approx_count_distinct`` answers one query over one frame; these
answer the 100 TB-corpus question the built-in can't — persist a
shard's registers next to the shard, MERGE register tables across
shards/snapshots (``GROUP BY register → MAX(rho)``), and re-estimate
the union's cardinality WITHOUT rescanning old data. Determinism:
items hash through md5 (not xxhash64) so the register table replays
bit-for-bit in pure Python/DuckDB; the estimator folds registers with
exact integer arithmetic (powers of two as longs, one division at the
end), so the estimate is identical regardless of partitioning or
merge order.

The batch-level Misra-Gries merge uses pandas ``value_counts`` per
Arrow batch (vectorized) and only touches Python dicts at summary
size, not stream size.

``bloom_sketch`` / ``bloom_query`` complete the
mergeable-sketch trio (HLL = cardinality, CMS = frequency, Bloom =
MEMBERSHIP): a deterministic Bloom filter (Bloom 1970; double hashing
per Kirsch & Mitzenmacher 2006, same md5 discipline as CMS) whose
sketch is a DataFrame of 64-bit WORDS — ``(word int, bits long)``, at
most ``m_bits / 64`` rows however many items were inserted. Merge is
union + per-word ``bit_or`` (associative, commutative, idempotent).
The guarantee is one-sided: NO FALSE NEGATIVES — ``filter_unseen``
therefore never lets a seen item through, which is the contract an
incremental crawl ingest needs for its "have we fetched this
URL/fingerprint before" gate; a false positive merely re-drops a
genuinely new item at rate ~``(1 - e^(-k*n/m))^k`` (``bloom_fpp``).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from fractions import Fraction
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _mg_merge(summary: dict, counts: dict, capacity: int) -> dict:
    """Merge a batch's exact counts into a Misra-Gries summary, then
    compress back to ``capacity`` entries by subtracting the
    (capacity+1)-th largest counter from all (the mergeable-summaries
    merge: error grows additively, the > n/m retention guarantee is
    preserved)."""
    for k, v in counts.items():
        summary[k] = summary.get(k, 0) + int(v)
    if len(summary) > capacity:
        cut = sorted(summary.values(), reverse=True)[capacity]
        summary = {k: v - cut for k, v in summary.items() if v > cut}
    return summary


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    phi: float,
    capacity: int | None = None,
) -> DataFrame:
    """All items whose frequency is ≥ ``phi * N`` (N = total rows),
    with EXACT counts, as ``(item, n)`` sorted by ``n`` descending then
    item ascending. One row of ``df`` = one item occurrence (explode
    upstream for n-grams). NULL items are ignored (they are not a
    frequency class). ``phi`` must be in (0, 1].

    Guarantee: complete AND exact — pass 1's per-partition Misra-Gries
    candidate union provably contains every phi-heavy item; pass 2
    re-counts candidates exactly. Items below the threshold never
    appear. Memory is O(capacity) per task; the default capacity
    ``2*ceil(1/phi)`` roughly doubles the pigeonhole requirement for
    slack, and an explicit capacity at or below ``ceil(1/phi)`` is
    rejected — Misra-Gries only guarantees retention for items with
    local count STRICTLY greater than ``n_p/(capacity)``, so at
    ``capacity == ceil(1/phi)`` an item with global count exactly
    ``ceil(phi*N)`` could be dropped from every partition summary;
    the floor is ``ceil(1/phi) + 1`` so the pigeonhole bound is
    strict at the boundary. The threshold
    ``ceil(phi*N)`` is computed in exact rational arithmetic on the
    decimal value of ``phi`` (never float products).

    At 100 TB: pass 1 is a mapInPandas scan emitting ≤ capacity rows
    per partition; pass 2 is a broadcast semi-join (candidate set is
    kilobytes) plus a partially-aggregated count whose exchange carries
    only candidate items. Nothing resembling the full n-gram stream is
    ever shuffled — compare a naive ``groupBy(item).count()`` whose
    exchange is the entire corpus vocabulary.
    """
    if not (0.0 < phi <= 1.0):
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    # Fraction(str(phi)) reads the DECIMAL the caller wrote (0.07 ->
    # 7/100), so thresholds and guards are exact — float math would
    # make ceil(0.07 * 100) = 8 and silently exclude an exactly-
    # phi-heavy item
    phi_frac = Fraction(str(phi))
    # strict pigeonhole: ceil(1/phi) counters only retain items whose
    # local count EXCEEDS n_p/m, so an exactly-phi-heavy item could be
    # dropped from every partition at the minimum — require one more
    min_capacity = math.ceil(1 / phi_frac) + 1
    m = int(capacity) if capacity is not None else 2 * (min_capacity - 1)
    if m < min_capacity:
        raise ValueError(
            f"capacity {capacity} breaks the completeness guarantee: "
            f"phi={phi} needs capacity > ceil(1/phi), i.e. "
            f">= {min_capacity}"
        )

    items = df.select(F.col(item_col).cast("string").alias("item"))

    out_schema = T.StructType(
        [
            T.StructField("item", T.StringType()),
            T.StructField("part_rows", T.LongType()),
        ]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary: dict = {}
        n_rows = 0
        for pdf in batches:
            col = pdf["item"].dropna()  # NULLs are not an item class
            n_rows += len(col)
            summary = _mg_merge(summary, col.value_counts().to_dict(), m)
        rows = [(k, 0) for k in summary]
        rows.append((None, n_rows))  # partition-size meta row
        yield pd.DataFrame(rows, columns=["item", "part_rows"])

    summary_df = items.mapInPandas(summarize, out_schema)
    summary_df = summary_df.persist()
    try:
        total = summary_df.agg(F.sum("part_rows").alias("n")).collect()[0]["n"] or 0
        candidates = summary_df.filter(F.col("item").isNotNull()).select(
            "item"
        ).distinct()
        threshold = math.ceil(phi_frac * total)
        exact = (
            items.join(F.broadcast(candidates), "item", "left_semi")
            .groupBy("item")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= F.lit(threshold))
            .orderBy(F.col("n").desc(), F.col("item"))
        )
        # materialize before unpersisting the summary the plan hangs off
        exact = exact.localCheckpoint(eager=True)
    finally:
        summary_df.unpersist()
    return exact


def _hll_check_p(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")


def _by_cols(by: "str | list[str] | None") -> list[str]:
    if by is None:
        return []
    return [by] if isinstance(by, str) else list(by)


def hll_registers(
    df: DataFrame,
    item_col: str,
    p: int = 12,
    by: str | list[str] | None = None,
) -> DataFrame:
    """The mergeable HyperLogLog sketch of ``item_col``'s distinct
    values as a DataFrame: ``(register int, max_rho int)``, at most
    ``2^p`` rows (a few KB — write it next to the shard it profiles).
    ``by`` keeps one sketch PER GROUP (``(*by, register, max_rho)``,
    ≤ 2^p rows per group) — "distinct URLs per domain", "vocabulary
    per language" — still mergeable across shards on the same keys.

    Hashing is md5-based so every engine replays it bit-for-bit
    (``tests/test_hll.py`` pins a pure-Python replay): the item is
    cast to string, the first 15 hex chars of its md5 form a 60-bit
    value ``h``; the top ``p`` bits pick the register and
    ``rho = (61 - p) - bit_length(h mod 2^(60-p))`` is the
    leading-zero rank (all integer/string ops — ``conv`` base-2 gives
    an exact bit length, no float log). NULL items are ignored, same
    as ``COUNT(DISTINCT)``; a NULL group key is a real group.

    Plan: one projection + one ``groupBy(*by, register).max(rho)`` —
    the exchange carries at most ``2^p`` rows per (map task, group),
    never the item stream.
    """
    _hll_check_p(p)
    keys = _by_cols(by)
    wbits = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    reg = F.shiftright(h, wbits).cast("int").alias("register")
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    rho = (
        F.when(w == 0, F.lit(wbits + 1))
        .otherwise(
            F.lit(wbits + 1) - F.length(F.conv(w.cast("string"), 10, 2))
        )
        .cast("int")
    )
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(*keys, reg, rho.alias("rho"))
        .groupBy(*keys, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(
    *sketches: DataFrame, by: str | list[str] | None = None
) -> DataFrame:
    """Merge register tables from shards/snapshots built with the SAME
    ``p`` (and, for grouped sketches, the same ``by`` keys): union
    then per-(group, register) max — associative, commutative,
    idempotent, so any merge tree over any shard order yields the
    identical sketch (pinned by test). This is the incremental path:
    estimating corpus ∪ refresh touches only the two sketches, not the
    data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*_by_cols(by), "register").agg(
        F.max("max_rho").alias("max_rho")
    )


def hll_estimate(
    sketch: DataFrame,
    p: int = 12,
    by: str | list[str] | None = None,
) -> DataFrame:
    """One-row cardinality estimate from a register table — or one row
    PER GROUP when ``by`` names the keys a grouped sketch carries:
    ``(*by, estimate double, method string, n_registers_set,
    n_zero_registers, p, m)``. Flajolet et al.'s raw estimator with the
    HLL++ small-range fallback: when ``E_raw <= 2.5m`` and empty
    registers remain, linear counting ``m * ln(m / zeros)`` is the
    better estimator (standard error ~1.04/sqrt(m) ≈ 1.6% at p=12).

    Exactness discipline: the harmonic-sum denominator is folded as
    ``SUM(1 << (maxrho_max - max_rho))`` — exact longs, order-free —
    plus ``zeros << maxrho_max``; floats appear only in the final
    single-row division/log, so the estimate is one deterministic
    number, not a shuffle-order-dependent one.

    Mismatch guard (BEST-EFFORT, not a proof): a sketch built with a
    larger ``p``, or a grouped sketch estimated without its ``by``
    keys, raises when its registers/rhos/row-count exceed this ``p``'s
    bounds — which dense sketches always do, but a very sparse
    larger-``p`` sketch can land inside the bounds by chance and a
    smaller-``p`` sketch is structurally indistinguishable from a
    sparse one. Carrying the right ``(p, by)`` to the estimate is the
    caller's contract; the guard just converts the common slips into
    loud errors."""
    _hll_check_p(p)
    m = 1 << p
    big_r = 61 - p  # max possible rho; 2^big_r scales the exact sum
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}[m]
    keys = _by_cols(by)
    agg = sketch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_set"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {big_r} - max_rho)")),
            F.lit(0).cast("long"),
        ).alias("z_present"),
        F.max("register").alias("_max_reg"),
        F.max("max_rho").alias("_max_rho"),
    )
    # n_set > m catches a GROUPED sketch estimated without its by=
    # keys (register rows repeat across groups); register/rho bounds
    # catch a larger-p sketch
    mismatched = (
        (F.col("_max_reg") >= m)
        | (F.col("_max_rho") > big_r)
        | (F.col("n_set") > m)
    )
    zeros = F.lit(m) - F.col("n_set")
    znum = F.col("z_present") + zeros * F.lit(1 << big_r).cast("long")
    e_raw = (
        F.lit(float(alpha * m * m))
        * F.lit(float(1 << big_r))
        / znum.cast("double")
    )
    use_lc = (e_raw <= F.lit(2.5 * m)) & (zeros > 0)
    e_lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return agg.select(
        *keys,
        # the guard rides the estimate column so pruning can't drop it;
        # NULL maxes (empty sketch) make `mismatched` NULL -> otherwise
        F.when(
            mismatched,
            F.raise_error(
                F.lit(
                    f"sketch registers exceed p={p} bounds "
                    f"(register >= {m}, rho > {big_r}, or more than "
                    f"{m} register rows) — was the sketch built with "
                    "a larger p, or grouped (pass by=)?"
                )
            ).cast("double"),
        )
        .otherwise(F.when(use_lc, e_lc).otherwise(e_raw))
        .alias("estimate"),
        F.when(use_lc, F.lit("linear_counting"))
        .otherwise(F.lit("hll"))
        .alias("method"),
        F.col("n_set").alias("n_registers_set"),
        zeros.cast("long").alias("n_zero_registers"),
        F.lit(p).alias("p"),
        F.lit(m).alias("m"),
    )


def _cms_check(
    width: int,
    depth: int,
    item_col: str | None = None,
    keys: list[str] = (),
) -> None:
    if width < 2 or width & (width - 1) != 0 or width > (1 << 26):
        raise ValueError(
            f"width must be a power of two in [2, 2^26], got {width}"
        )
    if not 1 <= depth <= 64:
        raise ValueError(f"depth must be in [1, 64], got {depth}")
    if item_col is not None:
        clash = {item_col, *keys} & {"row", "col", "cnt"}
        if clash:
            raise ValueError(
                f"column name(s) {sorted(clash)} collide with the "
                "sketch's internal row/col/cnt columns — rename "
                "(alias) them first"
            )


def _cms_cells(item: "F.Column", width: int, depth: int):
    """(h1, h2_odd) base hashes for the Kirsch-Mitzenmacher row family
    ``col_r = (h1 + r * h2_odd) mod width`` — one md5 per item, ``h2``
    forced odd so it is coprime with the power-of-two width and the
    ``depth`` rows land on genuinely distinct column schedules."""
    hx = F.md5(item.cast("string"))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % F.lit(width)
    h2 = (
        F.conv(F.substring(hx, 16, 15), 16, 10).cast("long")
        % F.lit(width)
    ).bitwiseOR(F.lit(1))
    return h1, h2


def cms_sketch(
    df: DataFrame,
    item_col: str,
    width: int = 2048,
    depth: int = 5,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of the item
    stream as a DataFrame of non-zero cells: ``(row int, col int,
    cnt long)``, at most ``width * depth`` rows regardless of stream
    size. With ``w`` columns over ``N`` total items, a point query
    overestimates by at most ``2N/w`` with probability ``1 - 2^-depth``
    (and NEVER underestimates). ``by`` keeps one sketch PER GROUP
    (``(*by, row, col, cnt)``, ≤ width*depth cells per group) — "token
    frequencies per domain", composing with ``hll_registers(by=)``'s
    per-group cardinality sketches in one artifact family — still
    mergeable across shards on the same keys.

    Same discipline as ``hll_registers``: md5-based hashing (pure-
    Python bit-exact replay pinned in ``tests/test_cms.py``), and the
    sketch is a mergeable artifact — persist per-shard cells, then
    ``cms_merge`` (union + cell-wise sum, exact longs) answers point
    frequencies over the union without rescanning shards. NULL items
    are ignored; a NULL group key is a real group.

    Plan: the base hashes are projected to bound columns BEFORE the
    depth-row explode (Catalyst does not CSE inside HOF lambdas — the
    md5 must not be re-evaluated per row index), then one
    ``groupBy(*by, row, col).count()`` whose exchange is
    partial-aggregated cells, never the item stream."""
    keys = _by_cols(by)
    _cms_check(width, depth, item_col, keys)
    h1, h2 = _cms_cells(F.col(item_col), width, depth)
    hashed = (
        df.filter(F.col(item_col).isNotNull())
        .select(*keys, h1.alias("_h1"), h2.alias("_h2"))
    )
    return (
        hashed.select(
            *keys,
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
            "_h1",
            "_h2",
        )
        .select(
            *keys,
            F.col("row").cast("int").alias("row"),
            ((F.col("_h1") + F.col("row") * F.col("_h2")) % F.lit(width))
            .cast("int")
            .alias("col"),
        )
        .groupBy(*keys, "row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(
    *sketches: DataFrame, by: str | list[str] | None = None
) -> DataFrame:
    """Cell-wise sum of count-min sketches built with the SAME
    (width, depth) (and, for grouped sketches, the same ``by`` keys):
    exact, associative, commutative — sketch(A ⊎ B) ==
    merge(sketch(A), sketch(B)) bit-for-bit (pinned by test)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*_by_cols(by), "row", "col").agg(
        F.sum("cnt").alias("cnt")
    )


# Broadcast-hint ceiling for the sketch side of cms_query: a cell row
# is ~16 B payload (+ Tungsten overhead), so 2^21 cells stays well
# under the session's 64 MB autoBroadcast threshold. Geometry is
# allowed up to width=2^26 x depth=64 (4e9 cells) — a dense merged
# sketch that size would OOM the driver if unconditionally hinted, so
# above the ceiling the optimizer picks the strategy (AQE will still
# broadcast a SPARSE big-geometry sketch if its runtime size is small).
CMS_BROADCAST_MAX_CELLS = 1 << 21


def cms_query(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    width: int = 2048,
    depth: int = 5,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for ``items`` (deduplicated; NULLs
    ignored) against a sketch built with the same (width, depth):
    ``(item_col, est long)`` where ``est = min over rows of the cell
    count`` — an upper bound on the true frequency, within ``2N/width``
    of it with probability ``1 - 2^-depth``. An absent cell counts as
    0, so items never inserted estimate 0 unless every row collides.
    For a grouped sketch pass the same ``by``: ``items`` must carry
    the group columns and the result is ``(*by, item_col, est)`` —
    one estimate per (group, item) pair present in ``items``; a group
    the sketch never saw estimates 0.

    Plan: the query side explodes to ``depth`` cells per item and
    LEFT-joins the sketch — hinted broadcast only while the declared
    geometry is ≤ ``CMS_BROADCAST_MAX_CELLS`` cells (an unconditional
    hint would OOM the driver on a dense 2^26-wide merged sketch;
    grouped sketches multiply by group count, so they always leave the
    strategy to the optimizer) — then one ``groupBy(item).min()``.
    Corpus-scale frequency lookups never reread the corpus.

    Mismatch guard (BEST-EFFORT, not a proof): a sketch built with a
    LARGER (width, depth) raises when any cell sits outside this
    geometry — a silent mismatch would UNDERestimate, breaking the one
    guarantee CMS makes — but a very low-cardinality larger-geometry
    sketch can land inside the bounds by chance, and a smaller
    geometry is structurally indistinguishable from a sparse sketch.
    Carrying the right parameters remains the caller's contract."""
    _cms_check(width, depth, item_col, _by_cols(by))
    oob = (
        (F.col("col") >= width)
        | (F.col("row") >= depth)
        | (F.col("col") < 0)
        | (F.col("row") < 0)
    )
    # the guard rides cnt (used downstream) so pruning can't drop it
    sketch = sketch.withColumn(
        "cnt",
        F.when(
            oob,
            F.raise_error(
                F.lit(
                    f"sketch cell outside width={width}, depth={depth} "
                    "— was the sketch built with larger parameters?"
                )
            ).cast("long"),
        ).otherwise(F.col("cnt")),
    )
    keys = _by_cols(by)
    h1, h2 = _cms_cells(F.col(item_col), width, depth)
    q = (
        items.filter(F.col(item_col).isNotNull())
        .select(*keys, item_col)
        .distinct()
        .select(*keys, F.col(item_col), h1.alias("_h1"), h2.alias("_h2"))
        .select(
            *keys,
            item_col,
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
            "_h1",
            "_h2",
        )
        .select(
            *keys,
            item_col,
            F.col("row").cast("int").alias("row"),
            ((F.col("_h1") + F.col("row") * F.col("_h2")) % F.lit(width))
            .cast("int")
            .alias("col"),
        )
    )
    if not keys and width * depth <= CMS_BROADCAST_MAX_CELLS:
        sketch = F.broadcast(sketch)
    if not keys:
        joined = q.join(sketch, ["row", "col"], "left")
    else:
        # group keys join NULL-SAFELY: a NULL key is a real group in
        # the sketch (groupBy semantics), so plain equality would make
        # every NULL-group item estimate 0 — a silent underestimate,
        # the one failure mode CMS must never have
        cond = (q["row"] == sketch["row"]) & (q["col"] == sketch["col"])
        for k in keys:
            cond = cond & q[k].eqNullSafe(sketch[k])
        joined = q.join(sketch, cond, "left").select(
            *[q[k] for k in keys], q[item_col], sketch["cnt"]
        )
    return (
        joined.groupBy(*keys, item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# --------------------------------------------------------------- bloom


# Broadcast-hint ceiling for the sketch side of bloom_query — same
# rationale as CMS_BROADCAST_MAX_CELLS: a word row is ~12 B payload,
# 2^27 bits = 2^21 words stays well under the 64 MB threshold; bigger
# (or grouped) sketches leave the join strategy to the optimizer.
BLOOM_BROADCAST_MAX_BITS = 1 << 27


def _bloom_check(
    m_bits: int,
    k: int,
    item_col: str | None = None,
    keys: list[str] = (),
) -> None:
    if m_bits < 64 or m_bits & (m_bits - 1) != 0 or m_bits > (1 << 32):
        raise ValueError(
            f"m_bits must be a power of two in [64, 2^32], got {m_bits}"
        )
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16], got {k}")
    if item_col is not None:
        clash = {item_col, *keys} & {"word", "bits"}
        if clash:
            raise ValueError(
                f"column name(s) {sorted(clash)} collide with the "
                "sketch's internal word/bits columns — rename (alias) "
                "them first"
            )


def _bloom_words(
    df: DataFrame,
    item_col: str,
    m_bits: int,
    k: int,
    carry: list[str],
) -> DataFrame:
    """The ONE derivation of Bloom probe cells — ``(carry..., word,
    _mask)``, ``k`` rows per input row — shared by sketch (insert) and
    query (probe) so the double-hashing scheme (the bit-exactness
    contract the tests pin) cannot silently diverge between them:
    Kirsch-Mitzenmacher ``pos_i = (h1 + i*h2_odd) mod m_bits`` over one
    md5 per item, base hashes projected to bound columns BEFORE the
    k-explode (no HOF-lambda re-evaluation). NULL items are dropped."""
    hx = F.md5(F.col(item_col).cast("string"))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % F.lit(m_bits)
    h2 = (
        F.conv(F.substring(hx, 16, 15), 16, 10).cast("long")
        % F.lit(m_bits)
    ).bitwiseOR(F.lit(1))
    pos = (F.col("_h1") + F.col("_i") * F.col("_h2")) % F.lit(m_bits)
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(*carry, h1.alias("_h1"), h2.alias("_h2"))
        .select(
            *carry,
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i"),
            "_h1",
            "_h2",
        )
        .select(
            *carry,
            F.shiftright(pos, 6).cast("int").alias("word"),
            pos.bitwiseAND(F.lit(63)).cast("int").alias("_off"),
        )
        .select(
            *carry,
            "word",
            F.expr("shiftleft(CAST(1 AS BIGINT), _off)").alias("_mask"),
        )
    )


def bloom_sketch(
    df: DataFrame,
    item_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Bloom-filter membership sketch of ``item_col``'s values as a
    DataFrame of non-zero 64-bit words: ``(word int, bits long)``, at
    most ``m_bits/64`` rows regardless of stream size (``by`` keeps
    one filter PER GROUP — "URLs seen per crawl snapshot" — still
    mergeable on the same keys). Insertion sets ``k`` bits per item
    via Kirsch-Mitzenmacher double hashing ``pos_i = (h1 + i*h2_odd)
    mod m_bits`` over one md5 per item (bit-exact pure-Python replay
    pinned in ``tests/test_bloom.py``). NULL items are ignored; a NULL
    group key is a real group.

    Size the filter with ``bloom_fpp``: ~10 bits/item and k=5 gives
    ~1% false positives; false NEGATIVES are impossible by
    construction, which is the useful direction for dedup gates.

    Plan: ``_bloom_words`` derives the probe cells (shared with
    ``bloom_query`` — insert and probe cannot diverge), then one
    ``groupBy(*by, word).agg(bit_or(mask))`` whose exchange carries
    partial-OR'd words, never the item stream."""
    keys = _by_cols(by)
    _bloom_check(m_bits, k, item_col, keys)
    return (
        _bloom_words(df, item_col, m_bits, k, carry=keys)
        .groupBy(*keys, "word")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_query(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Membership probes for ``items`` (deduplicated; NULLs ignored)
    against a sketch built with the same (m_bits, k): ``(item_col,
    maybe_present boolean)`` — ``false`` is DEFINITE absence (no false
    negatives), ``true`` is presence up to the ``bloom_fpp`` rate. For
    a grouped sketch pass the same ``by``: items must carry the group
    columns, probes are per (group, item), and group keys join
    NULL-SAFELY (a NULL group is a real group). A group the sketch
    never saw probes ``false``.

    Plan: the query side explodes to ``k`` (word, mask) probes per
    item and LEFT-joins the sketch — hinted broadcast only while
    ``m_bits ≤ BLOOM_BROADCAST_MAX_BITS`` and ungrouped — then one
    ``groupBy(item).agg(bool_and(hit))``. Absent words read as
    all-zero (miss). The probe-cell derivation is ``_bloom_words`` —
    the same code the sketch inserts with."""
    keys = _by_cols(by)
    _bloom_check(m_bits, k, item_col, keys)
    q = _bloom_words(
        items.select(*keys, item_col).distinct(),
        item_col,
        m_bits,
        k,
        carry=keys + [item_col],
    )
    if not keys and m_bits <= BLOOM_BROADCAST_MAX_BITS:
        sketch = F.broadcast(sketch)
    if not keys:
        joined = q.join(sketch, ["word"], "left")
    else:
        cond = q["word"] == sketch["word"]
        for kcol in keys:
            cond = cond & q[kcol].eqNullSafe(sketch[kcol])
        joined = q.join(sketch, cond, "left").select(
            *[q[kcol] for kcol in keys],
            q[item_col],
            q["_mask"],
            sketch["bits"],
        )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_mask"))
        == F.col("_mask")
    )
    return (
        joined.groupBy(*keys, item_col)
        .agg(F.bool_and(hit).alias("maybe_present"))
    )


def bloom_fpp(m_bits: int, k: int, n_items: int) -> float:
    """Expected false-positive probability after inserting ``n_items``
    into an ``(m_bits, k)`` filter: ``(1 - e^(-k*n/m))^k``. Use it to
    size the filter before a run (10 bits/item, k=5 → ~1%)."""
    _bloom_check(m_bits, k)
    if n_items < 0:
        raise ValueError(f"n_items must be >= 0, got {n_items}")
    return (1.0 - math.exp(-k * n_items / m_bits)) ** k


def filter_unseen(
    items: DataFrame,
    sketch: DataFrame,
    item_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """The incremental-ingest gate: rows of ``items`` whose
    ``item_col`` is DEFINITELY not in the sketched corpus (Bloom
    ``false`` ⇒ truly unseen — no seen item ever passes). The cost of
    the one-sided error is that ~``bloom_fpp`` of genuinely new items
    are conservatively dropped as maybe-seen; when new items must
    never be lost, route the maybe-present remainder through the exact
    ``dedup_against_corpus`` path instead of dropping it. NULL items
    are kept (a NULL key is not a membership class; drop upstream if
    unwanted).

    The semi-join's right side (the unseen item set) is BATCH-sized —
    bounded by the batch's distinct items, not by the filter — so it
    carries no broadcast hint: on a mostly-new crawl batch it is
    nearly the whole batch, and forcing it onto the driver would OOM
    exactly at crawl scale (AQE still broadcasts it when its runtime
    size turns out small). Only the sketch side inside ``bloom_query``
    is the ≤ m_bits/64-row broadcast."""
    probes = bloom_query(sketch, items, item_col, m_bits, k)
    unseen = probes.filter(~F.col("maybe_present")).select(item_col)
    return items.join(unseen, item_col, "left_semi").unionByName(
        items.filter(F.col(item_col).isNull())
    )


def _dyadic_check(levels: int, width: int, depth: int) -> None:
    if not 1 <= levels <= 62:
        raise ValueError(f"levels must be in [1, 62], got {levels}")
    _cms_check(width, depth)


def dyadic_rank_sketch(
    df: DataFrame,
    value_col: str,
    levels: int = 20,
    width: int = 2048,
    depth: int = 5,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Mergeable RANK/QUANTILE sketch: a count-min sketch per DYADIC
    LEVEL (Cormode & Muthukrishnan 2005 §4.2 — the range-sum
    construction; public algorithm), completing the mergeable-
    summaries family (Misra-Gries / HLL / CMS / Bloom / quantiles).
    Values must be integers in ``[0, 2^levels)`` (map your domain
    first: token counts and doc lengths already are; dates map to
    epoch days). Each value inserts its enclosing block ``v >> lvl``
    at every level ``0..levels``, so any prefix ``[0, x]`` is the sum
    of at most ``levels + 1`` CMS point queries and rank(x) is
    estimable WITHOUT sorting anything, ever.

    Why this and not a KLL/GK sampler: the cells are exact counts of
    deterministic md5 buckets — a pure function of the input MULTISET.
    Merge is cell-wise sum (associative, commutative, replay-proof),
    so shard sketches combine bit-identically under any partitioning,
    arrival order, or engine — the property every sketch in this
    family pins, and what sampling-based quantile sketches cannot
    give. Cost: rank estimates carry CMS overcount (NEVER undercount)
    of at most ``2 * (levels+1) * N / width`` w.h.p. — size ``width``
    to the rank resolution you need.

    ``(lvl, row, col, cnt)`` out, at most ``(levels+1) * width *
    depth`` cells regardless of input size; ``by`` keeps one sketch
    per group. NULL values are ignored; out-of-range values fail fast
    in-row (a silently clamped value would corrupt every rank).
    Plan: value-guard + level explode + one md5 per (value, level) +
    depth explode, collapsed by one partial-aggregated groupBy —
    items never shuffle, cells do."""
    keys = _by_cols(by)
    _dyadic_check(levels, width, depth)
    clash = {value_col, *keys} & {"lvl", "row", "col", "cnt"}
    if clash:
        raise ValueError(
            f"column name(s) {sorted(clash)} collide with the sketch's "
            "internal lvl/row/col/cnt columns — rename (alias) them first"
        )
    v = F.col(value_col).cast("long")
    guarded = F.when(v.isNull() | ((v >= 0) & (v < F.lit(1 << levels))), v).otherwise(
        F.raise_error(
            F.concat(
                F.lit("value "),
                v.cast("string"),
                F.lit(
                    f" outside [0, 2^{levels}) — dyadic_rank_sketch "
                    "cannot clamp silently; widen levels or map the "
                    "domain first"
                ),
            )
        )
    )
    blocks = (
        df.select(*keys, guarded.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .select(
            *keys,
            F.explode(F.sequence(F.lit(0), F.lit(levels))).alias("lvl"),
            F.col("_v"),
        )
        .select(
            *keys,
            F.col("lvl").cast("int").alias("lvl"),
            # python shiftright() only takes a literal shift; the SQL
            # form shifts by a column
            F.expr("shiftright(_v, lvl)").alias("_blk"),
        )
    )
    h1, h2 = _cms_cells(F.col("_blk"), width, depth)
    hashed = blocks.select(*keys, "lvl", h1.alias("_h1"), h2.alias("_h2"))
    return (
        hashed.select(
            *keys,
            "lvl",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
            "_h1",
            "_h2",
        )
        .select(
            *keys,
            "lvl",
            F.col("row").cast("int").alias("row"),
            ((F.col("_h1") + F.col("row") * F.col("_h2")) % F.lit(width))
            .cast("int")
            .alias("col"),
        )
        .groupBy(*keys, "lvl", "row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dyadic_rank_merge(
    *sketches: DataFrame, by: str | list[str] | None = None
) -> DataFrame:
    """Cell-wise sum of dyadic rank sketches built with the SAME
    (levels, width, depth) (and group keys): exact, associative,
    commutative — sketch(A ⊎ B) == merge(sketch(A), sketch(B))
    bit-for-bit, the family contract."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*_by_cols(by), "lvl", "row", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def _cms_point_py(cells: dict, lvl: int, block: int, width: int, depth: int) -> int:
    """Pure-python replay of the ``_cms_cells`` point query for one
    dyadic block — bit-identical to the Spark hashing (md5 of the
    value's decimal string, 15-hex-digit slices), so driver-side rank
    queries read exactly the cells the cluster wrote."""
    import hashlib as _hashlib

    hx = _hashlib.md5(str(block).encode()).hexdigest()
    h1 = int(hx[0:15], 16) % width
    h2 = (int(hx[15:30], 16) % width) | 1
    return min(
        cells.get((lvl, r, (h1 + r * h2) % width), 0) for r in range(depth)
    )


def rank_from_cells(
    cells: dict, x: int, levels: int, width: int, depth: int
) -> int:
    """Estimated count of values <= ``x`` from a collected cell dict
    ``{(lvl, row, col): cnt}``: the canonical dyadic decomposition of
    ``[0, x]`` — for every set bit ``l`` of ``y = x + 1``, the block
    ``(y >> l) - 1`` at level ``l`` — at most ``levels + 1`` point
    queries. NEVER underestimates (CMS never does); overestimates by
    <= 2 * (levels+1) * N / width w.h.p. ``x = -1`` is rank 0."""
    y = x + 1
    if y < 0 or y > (1 << levels):
        raise ValueError(f"x={x} outside [-1, 2^{levels} - 1]")
    total = 0
    for lvl in range(levels + 1):
        if (y >> lvl) & 1:
            total += _cms_point_py(cells, lvl, (y >> lvl) - 1, width, depth)
    return total


def quantiles_from_sketch(
    sketch: DataFrame, qs: Sequence[float], levels: int, width: int, depth: int
) -> dict:
    """Quantile estimates from an UNGROUPED dyadic rank sketch: collect
    the cell table (model-sized by construction — <= (levels+1) *
    width * depth rows, the same driver-side-artifact rule every
    sketch query in this family follows; filter a grouped sketch to
    one group first), then per ``q`` binary-search the smallest value
    whose estimated rank reaches ``ceil(q * N)``. ``N`` is the exact
    total (the level-``levels`` sketch holds the single whole-domain
    block). Rank never underestimates, so the returned value's TRUE
    rank sits within the CMS overcount bound of ``q * N`` — pinned
    empirically in ``tests/test_quantile_sketch.py``."""
    import math as _math

    _dyadic_check(levels, width, depth)
    extra = set(sketch.columns) - {"lvl", "row", "col", "cnt"}
    if extra:
        # a grouped sketch's cells share (lvl,row,col) keys ACROSS
        # groups — collapsing them into one dict would mix groups and
        # silently break the never-underestimate guarantee
        raise ValueError(
            f"sketch carries group column(s) {sorted(extra)} — filter "
            "to ONE group and drop the keys before querying quantiles"
        )
    rows = sketch.select("lvl", "row", "col", "cnt").collect()
    cells = {(r["lvl"], r["row"], r["col"]): r["cnt"] for r in rows}
    n = rank_from_cells(cells, (1 << levels) - 1, levels, width, depth)
    out = {}
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
        if n == 0:
            out[q] = None
            continue
        # exact-rational ceil (the heavy_hitters discipline):
        # 0.07 * 100 floats to 7.000000000000001 and would ceil to 8
        target = max(1, _math.ceil(Fraction(str(q)) * n))
        lo, hi = 0, (1 << levels) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if rank_from_cells(cells, mid, levels, width, depth) >= target:
                hi = mid
            else:
                lo = mid + 1
        out[q] = lo
    return out

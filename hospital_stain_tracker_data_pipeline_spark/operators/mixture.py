"""Token-budget data-mixture planning + sampling (beyond the reference
surface — the "how many tokens of each source goes into the run"
decision every pretraining data pipeline makes, à la the published
LLaMA/Pile mixtures): compute per-source token inventories, allocate a
global token budget across sources under per-source epoch caps
(water-filling the shortfall), and materialize the allocation as a
deterministic hash-ordered sample with explicit epoch replication.

Spark-first shape: the inventory is one partial-agg scan; the
allocation runs driver-side over k aggregated rows (k = number of
sources — dimension-sized by definition); the sampler is a per-source
cumulative-token window over an md5 permutation — the same
engine-replayable ordering trick as `cap_per_group` and
`train_test_split`, so the EXACT sampled id set is DuckDB-verifiable.

At 100 TB: sampling shuffles once on the source key for the cumsum
window. A mega-source concentrates its rows in one window task — the
documented mitigation is the same two-phase pruning `q_mixture_sample`
demonstrates (pre-prune per input partition before the exact window);
here the prefix is token-count-bounded rather than row-count-bounded,
so local pruning needs the per-source token quota as a local cumsum
bound. Epoch replication (`epoch` column) is explode-per-row — no
driver loop, and downstream shuffles see epoch-tagged ids so repeated
epochs never collide in dedup-sensitive consumers.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_token_count


def source_token_stats(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    tokens_col: Column | None = None,
) -> DataFrame:
    """Per-source inventory: ``(source, n_docs, n_tokens)``. One
    partial-agg scan; pass ``tokens_col`` to use a real tokenizer's
    counts instead of the whitespace default."""
    n_tok = (
        doc_token_count(F.col(text_col)) if tokens_col is None else tokens_col
    ).cast("long")
    return docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("n_tokens"),
    )


@dataclass
class SourceAllocation:
    source: str
    available_tokens: int
    weight: float
    target_tokens: int  # what the budget wants from this source
    epochs: float  # target_tokens / available_tokens (≤ max_epochs)


def plan_token_mixture(
    stats: DataFrame,
    target_tokens: int,
    weights: dict[str, float] | None = None,
    max_epochs: float = 1.0,
) -> list[SourceAllocation]:
    """Allocate ``target_tokens`` across sources by ``weights``
    (default: proportional to availability), capping every source at
    ``max_epochs`` passes over its data and WATER-FILLING the capped
    surplus onto the uncapped sources (re-normalized by their weights,
    iterated until stable — ≤ k rounds). The published-mixture shape:
    "2 epochs of books, 0.7 of web" falls out of weights + caps.

    Driver-side BY DESIGN: the input is the per-source aggregate
    (dimension-sized); the corpus itself is never touched here.
    Unknown weight keys raise (a silently dropped source is a wrong
    mixture); sources present in ``stats`` but absent from an explicit
    ``weights`` get weight 0 (excluded, reported with epochs=0).
    Returns allocations sorted by source for determinism.
    """
    if target_tokens < 0:
        raise ValueError(f"target_tokens must be >= 0, got {target_tokens}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    rows = {r["source"]: r for r in stats.collect()}
    if weights is not None:
        unknown = set(weights) - set(rows)
        if unknown:
            raise ValueError(
                f"weights name sources absent from stats: {sorted(unknown)}"
            )
        w = {s: float(weights.get(s, 0.0)) for s in rows}
    else:
        w = {s: float(rows[s]["n_tokens"] or 0) for s in rows}
    if any(v < 0 for v in w.values()):
        raise ValueError("weights must be >= 0")
    cap = {
        s: int(math.floor(max_epochs * int(rows[s]["n_tokens"] or 0)))
        for s in rows
    }
    alloc = {s: 0 for s in rows}
    remaining = int(target_tokens)
    active = {s for s in rows if w[s] > 0 and cap[s] > alloc[s]}
    # water-fill: distribute by weight, clamp at caps, push the
    # surplus back onto the still-uncapped set; each round caps ≥1
    # source or terminates, so ≤ k rounds
    while remaining > 0 and active:
        total_w = sum(w[s] for s in active)
        # largest-remainder rounding keeps the round's grants summing
        # to exactly `remaining` when nothing clamps
        grants = {s: int(remaining * w[s] / total_w) for s in active}
        leftover = remaining - sum(grants.values())
        for s in sorted(active)[:leftover]:
            grants[s] += 1
        progressed = False
        for s in list(active):
            take = min(grants[s], cap[s] - alloc[s])
            if take > 0:
                alloc[s] += take
                remaining -= take
                progressed = True
            if alloc[s] >= cap[s]:
                active.discard(s)
        if not progressed:
            break  # all grants rounded to zero — nothing left to place
    return [
        SourceAllocation(
            source=s,
            available_tokens=int(rows[s]["n_tokens"] or 0),
            weight=w[s],
            target_tokens=alloc[s],
            epochs=(
                alloc[s] / int(rows[s]["n_tokens"])
                if int(rows[s]["n_tokens"] or 0) > 0
                else 0.0
            ),
        )
        for s in sorted(rows)
    ]


def sample_token_mixture(
    docs: DataFrame,
    plan: list[SourceAllocation],
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: Column | None = None,
    seed: int = 0,
) -> DataFrame:
    """Materialize a mixture plan: for each source, emit
    ``floor(epochs)`` full passes plus a hash-ordered prefix holding
    the fractional remainder of the token quota. Output adds an
    ``epoch`` column (0-based) so repeated passes are distinguishable
    downstream.

    The fractional prefix takes docs in md5(seed:epoch:id) order while
    their PRECEDING cumulative token count is under the remainder —
    greedy take-until-reached, the first doc crossing the boundary is
    included (a training run overshoots by at most one document rather
    than undershooting the budget). Deterministic under any
    partitioning, exact-replayable in SQL (cumsum window over the same
    md5 order). Each epoch uses its own permutation — repeated passes
    stream the source in independent orders, matching how a training
    loop reshuffles per epoch.
    """
    quota = {
        a.source: a.target_tokens for a in plan if a.target_tokens > 0
    }
    avail = {a.source: a.available_tokens for a in plan}
    if not quota:
        empty = docs.withColumn("epoch", F.lit(0)).limit(0)
        return empty
    n_tok = (
        doc_token_count(F.col(text_col)) if tokens_col is None else tokens_col
    ).cast("long")
    max_full = {
        s: int(quota[s] // avail[s]) if avail[s] > 0 else 0 for s in quota
    }
    rem_tokens = {
        s: quota[s] - max_full[s] * avail[s] for s in quota
    }
    full_map = F.create_map(
        *[x for s in quota for x in (F.lit(s), F.lit(max_full[s]))]
    )
    rem_map = F.create_map(
        *[x for s in quota for x in (F.lit(s), F.lit(rem_tokens[s]))]
    )
    base = (
        docs.filter(F.col(source_col).isin(*quota.keys()))
        .withColumn("_n_tok", n_tok)
        .withColumn("_full", full_map[F.col(source_col)])
        .withColumn("_rem", rem_map[F.col(source_col)])
    )
    # full epochs: every doc of the source, epochs 0..full-1
    fulls = base.filter(F.col("_full") > 0).withColumn(
        "epoch",
        F.explode(F.sequence(F.lit(0), F.col("_full") - 1)),
    )
    # fractional epoch (index = _full): hash-ordered token prefix
    order = F.md5(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.col("_full").cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(order, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    frac = (
        base.filter(F.col("_rem") > 0)
        .withColumn("_cum", F.sum("_n_tok").over(w))
        .filter(F.col("_cum") - F.col("_n_tok") < F.col("_rem"))
        .withColumn("epoch", F.col("_full"))
        .drop("_cum")
    )
    out_cols = docs.columns + ["epoch"]
    return fulls.select(out_cols).unionByName(frac.select(out_cols))


def sample_exact_k(
    df: DataFrame, k: int, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly ``min(k, n)`` rows, drawn uniformly at random but fully
    deterministic: rank every row by ``md5(seed:id)`` (an id tiebreak
    makes the order total) and keep the first k. Unlike
    ``DataFrame.sample`` this is EXACT (no binomial row-count jitter)
    and replayable bit-for-bit by other engines — the same md5
    keyed-permutation trick as ``cap_per_group``/``epoch_shuffle``, so
    the kept-id set is DuckDB-oracle-checkable. A different ``seed``
    draws a statistically independent sample.

    Rows with a NULL ``id_col`` are EXCLUDED: sampling requires an
    identity (concat_ws would otherwise collapse every NULL id onto
    one shared key, making the k-boundary nondeterministic and
    engine-divergent — Spark sorts NULLs first ascending, DuckDB
    last).

    Plan: one TakeOrderedAndProject — per-partition top-k partials,
    k-row final merge; no global sort, no full-corpus shuffle, driver
    holds nothing. The right tool for "give me 100k random docs from
    100 TB to eyeball / tune thresholds on"."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    return (
        df.filter(F.col(id_col).isNotNull())
        .orderBy(key.asc(), F.col(id_col).asc())
        .limit(k)
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    k: int | None = None,
    fraction: float | None = None,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact per-stratum sampling: ``k`` rows from EVERY stratum
    (``min(k, n_s)`` where smaller), or ``floor(fraction * n_s)`` rows
    per stratum — exactly one of the two. The per-language /
    per-domain balanced draw a training-data pipeline needs for eval
    sets and threshold tuning, with none of ``sampleBy``'s binomial
    jitter (that can return 0 rows from a small stratum; this cannot,
    short of the stratum being smaller than the ask).

    Deterministic end to end: rows rank inside their stratum by
    ``md5(seed:id)`` with an id tiebreak (the same keyed-permutation
    trick as ``sample_exact_k``), so the kept set is a pure function
    of (data, strata_col, k/fraction, seed) and replays bit-for-bit in
    DuckDB (``row_number() over (partition by strata order by md5,
    id)`` — pinned in ``tests/test_mixture.py``). NULL ids are
    excluded as in ``sample_exact_k``; a NULL stratum is a REAL
    stratum (unattributed docs deserve representation too).

    Plan: one hash exchange on the stratum + per-stratum sort of
    (key, id) pairs for the row_number — the md5 key is uniform so the
    sort itself never skews, and fat strata split fine under AQE.
    ``fraction`` allocates from the same window's ``count(*)`` — no
    second scan, and double arithmetic (``floor(n_s * fraction)``)
    matches DuckDB's IEEE semantics exactly."""
    if (k is None) == (fraction is None):
        raise ValueError("pass exactly one of k / fraction")
    if k is not None and k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if fraction is not None and not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    taken = {"_rk", "_allow"} & set(df.columns)
    if taken:
        raise ValueError(
            f"columns {sorted(taken)} are reserved by sample_stratified; "
            "rename them first"
        )
    key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(strata_col).orderBy(
        key.asc(), F.col(id_col).asc()
    )
    ranked = df.filter(F.col(id_col).isNotNull()).withColumn(
        "_rk", F.row_number().over(w)
    )
    if k is not None:
        return ranked.filter(F.col("_rk") <= F.lit(k)).drop("_rk")
    # windows can't sit in a filter: bind the per-stratum allowance as
    # a column first (same window frame — one exchange, no second scan)
    n_s = F.count(F.lit(1)).over(Window.partitionBy(strata_col))
    return (
        ranked.withColumn(
            "_allow", F.floor(n_s * F.lit(float(fraction)))
        )
        .filter(F.col("_rk") <= F.col("_allow"))
        .drop("_rk", "_allow")
    )

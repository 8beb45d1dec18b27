"""Sequence packing for pretraining batches (beyond the reference
surface — a core LLM-training-data operation): concatenate documents in
a deterministic order and chunk the token stream at a fixed
sequence-length budget, the "concat-and-chunk" packing every
GPT/LLaMA-style data pipeline performs before batching.

Spark-first shape: one window cumsum per shard gives each document its
[start, end) token span in the shard's virtual concatenated stream;
each doc then explodes into exactly the chunks its span overlaps
(⌈n_tok/budget⌉+1 rows at most). No stateful scan, no driver loop —
the "greedy reset" formulation that needs per-row state is deliberately
avoided because floor(offset/budget) chunking is both the standard
semantics AND embarrassingly parallel.

At 100 TB: the stream is sharded (`shard = doc_id % n_shards`), so the
cumsum window parallelizes across shards instead of serializing the
corpus through one partition — n_shards should be ≥ cluster cores;
chunk boundaries are deterministic functions of (shard, doc order,
token counts), so a re-run (or a re-partitioned run) produces
bit-identical packing — the property that lets a training job resume
mid-corpus without re-reading packed shards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_token_count


def pack_token_chunks(
    docs: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Column | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Assign each document the training-sequence chunks it occupies.

    Returns one row per (document × overlapped chunk):
    ``shard, chunk_id, doc_id, n_tok, chunk_start, chunk_tokens`` where
    ``chunk_tokens`` is how many of the doc's tokens land in that chunk
    and ``chunk_start`` is the doc's offset within the chunk. Every
    chunk except the last of each shard holds exactly ``budget`` tokens
    (conservation is pinned by tests); docs longer than ``budget`` span
    multiple chunks — truncation/splitting mid-doc is precisely what
    concat-and-chunk packing does.

    ``tokens_col`` overrides the default whitespace token count with a
    caller-supplied per-doc token count column (e.g. a real BPE count).

    ``order_col`` names a LONG column that dictates the concatenation
    order — the hook that makes an epoch shuffle real. When given, the
    document stream is sharded by ``pmod(order_col, n_shards)`` and
    concatenated within each shard in ``(order_col, doc_id)`` order, so
    a keyed-permutation column (``epoch_shuffle``'s ``_order``) yields a
    genuinely different chunk composition AND shard assignment per
    seed, while staying a pure function of (corpus, key) — rerunnable
    bit-identically under any partitioning. The key column is carried
    through to the output (same name) so a writer can materialize
    stream order without re-deriving it. The key should be
    hash-uniform (it drives shard balance); a raw skewed column
    (e.g. a timestamp) still packs correctly but shards unevenly.
    When ``order_col`` is None the order is plain ``(doc_id, n_tok)``
    and sharding is ``pmod(doc_id, n_shards)`` — the DuckDB-replayable
    default.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if tokens_col is None:
        tokens_col = doc_token_count(F.col(text_col))
    n_tok = tokens_col.cast("long")
    if order_col is None:
        shard_expr = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
        key_cols: list[Column] = []
        order_by = ["doc_id", "n_tok"]
    else:
        # pmod of the (hash-uniform) shuffle key reshards the corpus
        # per key — a new seed reshuffles shard membership too, not
        # just intra-shard order
        shard_expr = (
            F.pmod(F.col(order_col).cast("long"), F.lit(n_shards)).cast("int")
        )
        key_cols = [F.col(order_col).cast("long").alias(order_col)]
        order_by = [order_col, "doc_id", "n_tok"]
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            shard_expr.alias("shard"),
            n_tok.alias("n_tok"),
            *key_cols,
        )
        # empty/null docs carry no tokens and would only inflate the
        # explode; dropping them cannot shift any other doc's span
        # boundaries (their span is empty)
        .filter(F.col("n_tok") > 0)
    )
    # ROWS frame, not the default RANGE: with RANGE, two rows carrying
    # the SAME doc_id (a re-ingested batch, unioned shards) are peers
    # and both receive a tok_end that includes BOTH rows' tokens —
    # overlapping spans and silently overfilled chunks. Under ROWS each
    # row gets its own disjoint span. The n_tok tiebreak makes the
    # OUTPUT deterministic even with duplicate ids: rows tied on
    # (doc_id, n_tok) are interchangeable — identical spans either way
    # — so task retries/speculation cannot produce a different packing
    # (dedup upstream if one-copy semantics are wanted).
    w = (
        Window.partitionBy("shard")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = base.select(
        "shard",
        "doc_id",
        "n_tok",
        *([order_col] if order_col is not None else []),
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("tok_start"),
        F.sum("n_tok").over(w).alias("tok_end"),
    )
    b = F.lit(budget).cast("long")
    # integer `div`, not floor(double-divide): token offsets in a 100 TB
    # shard can approach 2^53, where double division rounds and floor()
    # lands on the wrong chunk; offsets are non-negative so div == floor
    first_chunk = F.expr(f"tok_start div {int(budget)}")
    last_chunk = F.expr(f"(tok_end - 1) div {int(budget)}")
    passthrough = [order_col] if order_col is not None else []
    return (
        spans.select(
            "shard",
            "doc_id",
            "n_tok",
            "tok_start",
            *passthrough,
            F.explode(F.sequence(first_chunk, last_chunk)).alias("chunk_id"),
        )
        .select(
            "shard",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "doc_id",
            "n_tok",
            F.greatest(F.lit(0).cast("long"), F.col("tok_start") - F.col("chunk_id") * b)
            .alias("chunk_start"),
            (
                F.least(F.col("tok_start") + F.col("n_tok"), (F.col("chunk_id") + 1) * b)
                - F.greatest(F.col("tok_start"), F.col("chunk_id") * b)
            ).cast("long").alias("chunk_tokens"),
            *passthrough,
        )
    )


def filter_funnel(
    docs: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Corpus-cleaning funnel observability (C4/RefinedWeb-style):
    given ordered filter stages, report how many documents survive each
    cumulative prefix of the funnel — the per-stage attrition numbers a
    data-curation run publishes. ONE pass, conditional aggregation
    only: the alternative (filter → count per stage) scans the corpus
    len(stages) times; this scans once regardless of stage count,
    which at 100 TB is the difference between one job and N.

    Returns one row: ``total`` plus one ``after_<name>`` column per
    stage (cumulative — a doc counts for stage k only if it passed
    stages 1..k).
    """
    names = [name for name, _ in stages]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes or "total" in names:
        raise ValueError(
            f"stage names must be unique and not 'total': {sorted(dupes) or names}"
            " — duplicate output columns would make row access ambiguous"
        )
    aggs = [F.count(F.lit(1)).alias("total")]
    cum = None
    for name, cond in stages:
        cum = cond if cum is None else (cum & cond)
        # coalesce: SUM over zero rows is NULL; an empty corpus must
        # report an all-zero funnel row, not total=0 with NULL stages
        aggs.append(
            F.coalesce(F.sum(F.when(cum, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"after_{name}")
        )
    return docs.agg(*aggs)


def epoch_shuffle(
    df: DataFrame,
    seed: int,
    id_col: str = "doc_id",
    key_col: str = "_order",
    sort: bool = True,
) -> DataFrame:
    """Deterministic training-epoch shuffle: impose a reproducible
    pseudo-random global order on the corpus by sorting on the first
    60 bits of ``md5(seed:id)`` as a LONG — the same md5 keyed
    permutation ``cap_per_group`` / ``sample_stratified`` / the
    mixture sampler use (and the same hex-prefix→bigint fold the
    shard-manifest checksum uses), so one hash discipline covers
    every seeded ordering in the library AND the permutation replays
    bit-for-bit in other engines (DuckDB: ``ORDER BY
    CAST('0x' || substr(md5(seed || ':' || id), 1, 15) AS BIGINT)``
    — the driver-graded oracle). The same seed yields the same order
    on any cluster, any partitioning, any rerun (what makes a
    mid-epoch training resume possible); a different seed gives a
    statistically independent order per epoch. The hash key is kept
    as ``key_col`` (numeric, hash-uniform) so a writer can
    range-partition on it explicitly and ``pack_token_chunks`` can
    reshard on it.

    Scale: ``orderBy`` plans as a distributed range sort (sampled range
    boundaries → one exchange → per-partition sort) — no single-task
    stage; writing the result immediately preserves the order within
    and across output files (lexicographic file order = global order).
    The id tiebreak makes the permutation total even on hash collisions.

    ``sort=False`` only attaches ``key_col`` without the global sort —
    use it when the consumer imposes its own order FROM the key (e.g.
    ``pack_token_chunks(order_col=key_col)`` re-orders inside its shard
    window anyway), saving a dead range-sort exchange.
    """
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn(key_col, key)
    return out.orderBy(key_col, id_col) if sort else out


def write_packed_corpus(
    chunks: DataFrame, path: str, n_files: int | None = None
) -> None:
    """Materialize a packed-chunk frame to parquet in STREAM order —
    the SCALE.md writer recipe as an API: range-partition on
    ``(shard, chunk_id, chunk_start)`` and sort within partitions on
    the same keys, so lexicographic part-file order IS global stream
    order and in-file row order IS in-chunk order. A training reader
    then streams files sequentially with zero re-sorting, and a
    resumed job seeks to a (shard, chunk) boundary by file name.

    One sampled range exchange + per-partition sort — no single-task
    stage at any size. ``n_files`` sets the partition count (target
    ~1 GB files at scale); None lets AQE/defaults pick.

    Works for BOTH packers: concat-and-chunk rows order within a chunk
    by ``chunk_start``; no-split rows order by ``chunk_pos`` — the
    greedy walk position the packer records precisely so the epoch
    shuffle's in-chunk order survives the write (doc_id order inside a
    chunk is NOT walk order once ``order_col`` drives the pack).
    """
    in_chunk, _, _ = _chunk_shape(chunks, default="doc_id")
    cols = ["shard", "chunk_id", in_chunk]
    part = (
        chunks.repartitionByRange(n_files, *cols)
        if n_files
        else chunks.repartitionByRange(*cols)
    )
    part.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def _chunk_shape(
    chunks: DataFrame, default: str | None = None
) -> tuple[str, str | None, list[str]]:
    """THE one place that knows which packer produced a chunk frame.
    Returns ``(in_chunk, tok, extras)``: the in-chunk position column,
    the per-row token-count column, and the shape's remaining content
    columns (what a digest must cover beyond the identity tuple).
    ``default`` names a fallback position column for frames that match
    neither shape (``write_packed_corpus`` orders arbitrary frames by
    it); without a default an unrecognized frame raises."""
    if "chunk_start" in chunks.columns:
        return "chunk_start", "chunk_tokens", ["n_tok"]
    if "chunk_pos" in chunks.columns:
        return "chunk_pos", "n_tok", ["oversize"]
    if default is not None:
        return default, None, []
    raise ValueError(
        "not a packed-chunk frame: expected chunk_start (concat"
        "-and-chunk) or chunk_pos (no-split) among "
        f"{chunks.columns}"
    )


def shard_manifest(chunks: DataFrame) -> DataFrame:
    """Per-shard accounting for a packed corpus — the manifest a
    training job validates BEFORE streaming shard data (did every
    shard land? does the token total reconcile with the curation
    report? did a rewritten shard silently change content?). One row
    per shard: ``shard, n_rows, n_chunks, n_docs, n_tokens,
    checksum``.

    The checksum is the DECIMAL(38,0) sum of the repo's 60-bit
    md5-prefix hash over EVERY content column of the shape —
    concat-and-chunk: ``(shard, chunk_id, doc_id, chunk_start,
    chunk_tokens, n_tok)``; no-split: ``(shard, chunk_id, doc_id,
    chunk_pos, n_tok, oversize)`` — so zeroed per-doc token counts or
    flipped oversize flags move the digest, not just identity-tuple
    edits. (A user-supplied ``order_col`` passthrough key is the one
    exclusion: its name is unknown here, and it is re-derivable from
    the shuffle seed — audit it against ``epoch_shuffle`` directly.)
    Properties:

    - order-invariant — a distributed write lands rows in
      nondeterministic order across retries/speculation; CONTENT is
      what the digest certifies;
    - exact — decimal sums don't overflow at any real shard size
      (2^60 x 10^12 rows << 10^38) and, unlike a bit-xor set digest,
      never cancel duplicate row pairs to an unchanged checksum;
    - engine-portable — any SQL auditor replays it from the parquet
      (DuckDB: ``SUM(CAST(CONCAT('0x', substr(md5(...),1,15)) AS
      BIGINT))`` over the same concat), no Spark required.

    Accepts BOTH packers' shapes (``chunk_start``/``chunk_tokens``
    concat-and-chunk rows, ``chunk_pos``/``n_tok`` no-split rows),
    like ``write_packed_corpus``. One partial-aggregated groupBy —
    the manifest costs a single scan of the (narrow) chunk frame.
    """
    in_chunk, tok, extras = _chunk_shape(chunks)
    row_h = F.conv(
        F.substring(
            F.md5(
                # extras are NOT optional: a projected-away n_tok /
                # oversize must fail analysis, not silently weaken
                # the digest
                F.concat_ws(
                    "|", "shard", "chunk_id", "doc_id", in_chunk, tok,
                    *extras,
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return chunks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("chunk_id").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(tok).cast("long").alias("n_tokens"),
        F.sum(row_h.cast("decimal(38,0)")).alias("checksum"),
    )


def verify_packed_corpus(
    spark, data_path: str, manifest_path: str
) -> DataFrame:
    """Audit a packed corpus against its stored manifest: recompute
    ``shard_manifest`` from what is ON DISK and full-outer-join to the
    manifest on ``shard``. Returns the mismatch frame — one row per
    shard whose recomputed accounting differs (or that exists on only
    one side), with ``want_*``/``got_*`` column pairs; EMPTY means the
    corpus is exactly what the manifest certifies. The join is
    n_shards rows a side — the only corpus-sized work is the manifest
    rescan itself."""
    want = spark.read.parquet(manifest_path)
    got = shard_manifest(spark.read.parquet(data_path))
    metrics = ["n_rows", "n_chunks", "n_docs", "n_tokens", "checksum"]
    w = want.select("shard", *[F.col(m).alias(f"want_{m}") for m in metrics])
    g = got.select("shard", *[F.col(m).alias(f"got_{m}") for m in metrics])
    joined = w.join(g, "shard", "full_outer")
    mismatch = F.lit(False)
    for m in metrics:
        mismatch = mismatch | ~F.col(f"want_{m}").eqNullSafe(
            F.col(f"got_{m}")
        )
    return joined.filter(mismatch).orderBy("shard")


def pack_documents_no_split(
    docs: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Column | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Whole-document greedy packing (the "packing without
    cross-document splitting" variant — T5-style batching where a
    sequence never straddles an example boundary): walk each shard's
    document stream IN ORDER and open a new chunk whenever the next
    document would overflow ``budget``. Documents are never split;
    chunks are under-full by whatever tail space the next doc didn't
    fit into (the padding cost this strategy trades for clean example
    boundaries).

    Returns one row per document WITH AT LEAST ONE TOKEN: zero-token
    docs (blank/whitespace-only text, mirroring ``doc_token_count``'s
    blank-doc zeroing) are excluded — they contribute nothing to any
    chunk, so auditors reconciling doc counts against the pack output
    should compare against ``count(n_tok > 0)``, not ``count(*)``.
    Columns: ``shard, chunk_id, chunk_pos,
    doc_id, n_tok, oversize`` — ``chunk_pos`` is the document's
    0-based position in the greedy walk within its chunk (the
    concatenation order a writer must preserve; with ``order_col`` the
    walk follows the shuffle key, so doc_id order inside a chunk is
    NOT the stream order), ``oversize`` marks docs longer than
    ``budget``, placed alone in their own chunk — the consumer decides
    truncate/drop.

    Spark shape: greedy reset-at-boundary is a data-dependent
    recurrence no window expression computes, so each shard runs a
    linear Arrow-batched pass (``applyInPandas`` over the shard
    group — numpy argsorted walk, one Python frame per shard, NOT per
    row). The constraint that buys: a shard's (id, order, n_tok) slim
    projection must fit one task — size ``n_shards`` ≥ cluster cores
    AND corpus_rows/n_shards × ~24 B ≤ task memory; the payload text
    never enters the pass. Sharding/order follow ``pack_token_chunks``
    (``order_col`` hook = epoch shuffle; default doc_id order), so
    reruns are bit-identical under any partitioning.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if tokens_col is None:
        tokens_col = doc_token_count(F.col(text_col))
    n_tok = tokens_col.cast("long")
    if order_col is None:
        shard_expr = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
        base = docs.select(
            F.col(id_col).alias("doc_id"),
            shard_expr.alias("shard"),
            n_tok.alias("n_tok"),
            F.col(id_col).cast("long").alias("_ord"),
        )
    else:
        shard_expr = (
            F.pmod(F.col(order_col).cast("long"), F.lit(n_shards)).cast("int")
        )
        base = docs.select(
            F.col(id_col).alias("doc_id"),
            shard_expr.alias("shard"),
            n_tok.alias("n_tok"),
            F.col(order_col).cast("long").alias("_ord"),
        )
    base = base.filter(F.col("n_tok") > 0)
    b = int(budget)

    def _pack(pdf):
        import numpy as np
        import pandas as pd

        order = np.lexsort(
            (pdf["doc_id"].to_numpy(), pdf["_ord"].to_numpy())
        )
        toks = pdf["n_tok"].to_numpy()[order]
        chunk = np.empty(len(order), dtype=np.int64)
        cpos = np.empty(len(order), dtype=np.int64)
        cid, used, pos = 0, 0, 0
        for j, t in enumerate(toks):
            if used > 0 and used + t > b:
                cid += 1
                used = 0
                pos = 0
            chunk[j] = cid
            cpos[j] = pos
            used += t
            pos += 1
            if t > b:  # oversize doc sits alone; close its chunk
                cid += 1
                used = 0
                pos = 0
        out = pd.DataFrame(
            {
                "shard": pdf["shard"].to_numpy()[order],
                "chunk_id": chunk,
                "chunk_pos": cpos,
                "doc_id": pdf["doc_id"].to_numpy()[order],
                "n_tok": toks,
                "oversize": toks > b,
            }
        )
        return out

    return base.groupBy("shard").applyInPandas(
        _pack,
        schema=(
            "shard int, chunk_id long, chunk_pos long, doc_id long, "
            "n_tok long, oversize boolean"
        ),
    )


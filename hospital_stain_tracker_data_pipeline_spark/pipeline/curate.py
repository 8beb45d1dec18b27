"""End-to-end corpus curation recipe: the canonical composition of the
training-data operators into the pipeline a pretraining data run
actually executes —

    [optional HTML→text extraction] →
    [optional exact-URL dedup] → [optional per-source cap] →
    quality funnel → exact dedup →
    near-dup drop → [optional SemDeDup over embeddings] → [optional
    BM25 retrieval decontamination against an eval set] → [optional
    C4-style span-level dedup] → [optional exact substring dedup
    (Lee et al.)] → [optional CCNet-style LM perplexity gate] →
    [optional model-based quality probe (FineWeb-Edu-style classifier
    over hashed text features)] → epoch shuffle → sequence packing

    Span dedup runs BEFORE substring dedup on purpose: the substring
    stage whitespace-normalizes its output (tokens rejoined with
    single spaces), which would destroy the delimiter the span stage
    splits on — line-level boilerplate removal must see the original
    newlines.

Each stage is one of the library's standalone operators; this module
only wires them, so the scale properties are the stages' own (funnel:
one conditional-agg scan; exact dedup: fingerprint groupBy, payload
never shuffles; near-dup: banded MinHash-LSH candidates, no all-pairs;
shuffle: keyed permutation consumed by packing's shard window; packing:
per-shard cumsum window).

Action discipline (the 100 TB property): each pipeline stage EXECUTES
once — the quality-funnel counts come from one conditional-agg scan
(``filter_funnel``), every corpus-sized stage product is persisted
exactly once, and (round 15) no stage pays a dedicated count()
materialization pass: the next stage's own checkpoint action computes
the pending frame (filling its cache as a side effect), the attrition
counts are settled afterwards from the cache, and each frame is
released as soon as its successor is materialized. Pinned by
``test_curate_executes_lineage_once`` with a source-scan counter.

Plan-growth discipline (round-7 finding): every dedup/filter stage
joins the surviving corpus against a drop/keep set DERIVED FROM that
same corpus, so without intervention the logical plan DOUBLES per
stage — the data is cached but Catalyst still analyzes the full
2^stages tree on every action (measured: 13 s to count a cached
414-row frame with all six optional stages on). The fix is to eagerly
localCheckpoint ONLY the small id-sets (drop/keep/hits frames): the
stage join's derived side becomes a flat scan and plan growth is
linear, while the corpus-sized products stay under persist() — whose
storage, unlike localCheckpoint blocks, is releasable by unpersist.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import quality_score, token_count
from ..operators.dedup import (
    DEFAULT_MAX_BUCKET,
    connected_components_min_label,
    dedup_spans,
    exact_dedup,
    materialize,
    minhash_lsh_dedup_pairs,
    select_cluster_representatives,
)
from ..operators.lm import score_perplexity
from ..operators.packing import (
    epoch_shuffle,
    filter_funnel,
    pack_documents_no_split,
    pack_token_chunks,
)
from ..operators.quality import ensure_quality_signals
from ..operators.similarity import semantic_dedup_pairs
from ..operators.web import (
    cap_per_group,
    dedup_exact_urls,
    parse_html_documents,
)
from ..session import fs_delete, fs_exists, fs_read_bytes, fs_write_atomic


@dataclass
class CurationReport:
    total: int
    after_quality: int
    after_exact_dedup: int
    after_near_dedup: int
    chunks: int
    packed_tokens: int
    # docs still non-empty after the optional span-level dedup stage;
    # None when the stage is off
    after_span_dedup: int | None = None
    # docs surviving the optional per-source cap; None when off
    after_source_cap: int | None = None
    # docs surviving the optional LM-perplexity filter; None when off
    after_perplexity: int | None = None
    # docs surviving the optional SemDeDup stage; None when off
    after_semantic_dedup: int | None = None
    # docs surviving the optional retrieval decontamination; None when off
    after_decontamination: int | None = None
    # docs still non-empty after optional exact substring dedup; None when off
    after_substring_dedup: int | None = None
    # docs surviving the optional exact-URL dedup; None when off
    after_url_dedup: int | None = None
    # docs surviving the optional model-based quality probe; None when off
    after_quality_probe: int | None = None
    # min-label rounds the best_quality CC pass ran (diameter
    # telemetry — creep toward the max_iter guard should be visible in
    # run reports, not discovered as a raise); None under lowest_id or
    # when the clusters came back from a resumable run_dir checkpoint
    cc_iterations: int | None = None
    # round 14: MinHash band buckets the near-dup stage's hot-bucket
    # cap dropped (0 on a healthy corpus; >0 means boilerplate
    # signatures were skipped — the recall trade visible in the run
    # report, never silent); None when the drop/cluster set came back
    # from a resumable run_dir checkpoint (the stage didn't execute)
    hot_buckets_dropped: int | None = None


def _predicate_sig(c: Column) -> str:
    """A call-stable signature of a stage predicate Column. ``str(c)``
    is ALMOST stable, except higher-order-function lambda variables
    carry a session-global counter (``x_1`` vs ``x_2`` for the same
    expression built twice) — renumber them canonically so identical
    predicates hash identically across invocations. Only names that
    appear as LAMBDA BINDERS (``x_1 ->`` / ``(x_1, y_2) ->``) are
    renamed — a blanket ``\\w_\\d`` rewrite would collapse genuinely
    different predicates over columns named like ``id_1`` vs ``id_2``
    into one signature, silently loading the wrong artifact. Two
    predicates differing only in binder numbering are semantically
    identical, so canonical renumbering can't cause a false match."""
    import re

    s = str(c)
    binders: list[str] = []
    # single-arg `name_N ->` and multi-arg `(name_N, name_M) ->` forms
    for m in re.finditer(r"(\w+_\d+)\s*->", s):
        if m.group(1) not in binders:
            binders.append(m.group(1))
    for m in re.finditer(r"\(([\w\s,]+)\)\s*->", s):
        for name in m.group(1).split(","):
            name = name.strip()
            if re.fullmatch(r"\w+_\d+", name) and name not in binders:
                binders.append(name)
    for i, b in enumerate(binders):
        s = re.sub(rf"\b{re.escape(b)}\b", f"<λ{i}>", s)
    return s


class _StageStore:
    """Durable per-stage curation artifacts under ``run_dir`` — the
    restartability analog of the reference's ``pipeline_runs`` ledger
    (``backend/app/etl/ingest_capacity.py:85-96``), applied to the
    curation recipe: a crash at stage 9 of a 100 TB run must not
    repeat stages 1-8's candidate generation.

    Each checkpointed stage writes its product (an id-set, or the
    span/substring text product) as parquet under
    ``run_dir/<stage>/data`` and then — only after the write completes
    — a ``_STAGE_OK`` marker holding the stage's CONFIG-CHAIN HASH:
    md5 over this stage's parameters AND the hash of every
    checkpointed stage upstream of it. A rerun with the same
    ``run_dir`` loads any stage whose marker hash matches (resume);
    a changed parameter invalidates that stage AND everything
    downstream (the chain hash differs), which recomputes exactly the
    affected suffix. A kill mid-write leaves no marker, so the partial
    parquet is overwritten on resume — the marker is the commit point.
    Markers go through the ``session`` filesystem helpers, so
    ``run_dir`` may be a path of any Hadoop scheme.

    Loading from parquet doubles as the plan-growth truncation the
    in-memory path gets from ``materialize`` (a parquet scan is a flat
    leaf), so resume runs keep the linear-plan discipline for free.

    Scope contract: artifacts are keyed by CONFIG, not by data — the
    caller must use one run_dir per (corpus snapshot, side-input set).
    Side inputs that are DataFrames or callables (the LM model, eval
    docs, embeddings, a probe scorer) are represented in the hash only
    by their scalar companions (thresholds, dims); swapping one for a
    different artifact with the same thresholds requires a fresh
    run_dir."""

    def __init__(self, spark, run_dir: str) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.chain = "root"

    def _advance(self, name: str, params: dict) -> tuple[str, str]:
        payload = json.dumps(
            {"stage": name, "params": params, "upstream": self.chain},
            sort_keys=True,
            default=str,
        )
        h = hashlib.md5(payload.encode()).hexdigest()
        self.chain = h
        return os.path.join(self.run_dir, name), h

    def load_or(self, name: str, params: dict, compute) -> DataFrame:
        path, h = self._advance(name, params)
        data = os.path.join(path, "data")
        marker = os.path.join(path, "_STAGE_OK")
        if fs_exists(marker):
            if fs_read_bytes(marker).decode() == h:
                return self.spark.read.parquet(data)
            fs_delete(marker)  # stale config — rebuild below
        compute().write.mode("overwrite").parquet(data)
        fs_write_atomic(marker, h.encode())
        return self.spark.read.parquet(data)


def default_quality_stages(
    min_tokens: int = 5, min_quality: float = 0.2
) -> list[tuple[str, Column]]:
    """The C4-ish default funnel: non-blank, a minimum length, a
    minimum heuristic quality score. Stages are (name, predicate)
    pairs — callers append/replace to taste."""
    return [
        ("nonblank", F.trim(F.col("text")) != ""),
        ("min_tokens", token_count(F.col("text")) >= min_tokens),
        ("quality", quality_score(F.col("text")) >= min_quality),
    ]


def curate_documents(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 32,
    seed: int = 0,
    stages: list[tuple[str, Column]] | None = None,
    near_dup_threshold: float = 0.9,
    near_dup_policy: str = "lowest_id",
    span_dedup_delim: str | None = None,
    span_min_chars: int = 0,
    max_per_source: int | None = None,
    source_col: str = "source",
    ppl_lm=None,
    max_perplexity: float | None = None,
    quality_probe=None,
    min_probe_score: float | None = None,
    probe_dim: int = 128,
    embeddings: DataFrame | None = None,
    semantic_threshold: float | None = None,
    semantic_clusters: int = 16,
    decon_eval_docs: DataFrame | None = None,
    decon_min_score: float | None = None,
    no_split: bool = False,
    substring_min_tokens: int | None = None,
    url_col: str | None = None,
    html_col: str | None = None,
    run_dir: str | None = None,
    cc_max_iter: int = 20,
) -> tuple[DataFrame, CurationReport]:
    """Run the full curation pipeline over a ``(doc_id, text)`` corpus;
    returns ``(packed_chunks, report)``.

    Winner policy defaults to uniform across both dedup stages: the
    LOWEST doc_id of a duplicate group survives (deterministic under
    any partitioning). ``near_dup_policy="best_quality"`` switches the
    NEAR-DUP stage to quality-aware survivors: pair edges resolve into
    clusters (min-label connected components over the pairs — an
    id-sized graph, never the corpus) and each cluster keeps its
    highest-``quality_score`` member, ties to the lowest id
    (``select_cluster_representatives``) — worth the extra CC pass
    when duplicate copies differ in extraction quality. Near-dup pairs
    come from the banded MinHash-LSH operator; under the default
    policy the drop set is exactly "every doc that appears as
    the higher id in a ≥threshold pair" — transitive chains collapse
    to their minimum without a connected-components pass because each
    pair independently names a smaller survivor. The chunk composition
    is SEED-DEPENDENT by construction: the ``_order`` keyed-permutation
    column drives both packing's shard assignment and its
    concatenation order, so each seed packs a statistically
    independent mixture of documents — while staying a pure function
    of (corpus, stages, threshold, seed, budget, n_shards), rerunnable
    bit-identically, which is what a training job resuming mid-corpus
    needs (pinned by ``test_curate_seed_changes_chunk_composition``).

    ``span_dedup_delim`` switches on the C4-style span-level stage:
    after doc-level dedup, every span (split on the delimiter) keeps
    only its corpus-global first occurrence (``dedup_spans``), docs
    reduced to nothing are dropped, and the SURVIVING TEXT is what
    packs — boilerplate lines shared across otherwise-distinct pages
    stop consuming training tokens. Running it after (not before)
    doc-level dedup is deliberate: whole-doc duplicates are far cheaper
    to kill at the fingerprint level than span-by-span, and doc-level
    winners are what a user expects span attrition to be reported
    against.

    ``html_col`` switches on crawl ingest: ``parse_html_documents``
    derives ``text`` from the raw HTML column as the zeroth
    (zero-shuffle, scan-fused) step, so a pipeline can go straight
    from crawl records to packed tokens. ``url_col`` switches on
    exact-URL dedup as the (next) VERY FIRST id-level stage
    (``dedup_exact_urls`` — re-crawls of the same page under
    tracking-param/port/fragment variation collapse to their first
    occurrence before ANY text-level work, and before the source cap
    so the cap sees true per-source page counts, not re-crawl
    inflation; rows with a NULL/unparseable URL pass through). Then
    ``max_per_source`` switches on the provenance control (the
    cheapest text-free stage — it sees only (id, source) — and the standard
    web-pipeline order: cap a mega-source before paying any text-level
    work for its excess): at most that many docs survive per
    ``source_col`` group, chosen by ``cap_per_group``'s seeded
    deterministic permutation (the same ``seed`` as the epoch
    shuffle). ``ppl_lm`` + ``max_perplexity`` switch on the
    CCNet-style LM quality gate late among the doc-level stages
    (scoring explodes every doc into n-grams — run it on the
    smallest corpus the pipeline can offer): docs whose perplexity
    under the caller's trusted-corpus model exceeds the bound (or is
    NULL — empty docs) are dropped. Train the model with
    ``operators.lm.train_ngram_lm`` on a *trusted* reference corpus,
    not on the corpus being filtered.

    ``quality_probe`` + ``min_probe_score`` switch on the model-based
    quality gate (FineWeb-Edu-style classifier), which runs LAST among
    the doc-level stages, after the LM gate, for the same
    smallest-corpus reason. ``quality_probe`` is either a scorer
    callable (``inference.linear_probe_scorer(weights, bias)``) or a
    ``(weights, bias)`` PAIR — note ``train_text_probe`` returns
    ``(weights, bias, loss_history)``, so pass ``result[:2]``, not the
    raw return. ``probe_dim`` must equal the training featurization
    dim (the only train/score coupling; ``save_text_probe`` artifacts
    record it). Docs scoring under the threshold — or NULL (blank
    text: no usable signal) — are dropped.

    ``run_dir`` makes the run RESUMABLE: every expensive stage product
    (the dedup keep/drop id-sets, near-dup clusters, decon hits, LM /
    probe keep-sets, and the span/substring text products) is written
    to durable storage under ``run_dir`` with a config-chain hash, and
    a rerun with the same ``run_dir`` + same configuration loads
    completed stages instead of recomputing them — a crash at stage 9
    of a 100 TB run repeats none of stages 1-8's candidate generation.
    A changed parameter invalidates exactly the affected stage and its
    downstream suffix. The resumed run's chunks are bit-identical to
    an uninterrupted run (pinned by
    ``test_curate_run_dir_kill_and_resume_bit_identical``). See
    ``_StageStore`` for the scope contract (one run_dir per corpus
    snapshot + side-input set).

    The returned chunk frame reads from the persisted post-dedup
    corpus; call ``unpersist_curated(chunks)`` (or
    ``spark.catalog.clearCache()``) when done with it to release
    executor storage."""
    if (ppl_lm is None) != (max_perplexity is None):
        raise ValueError(
            "ppl_lm and max_perplexity must be provided together"
        )
    if (embeddings is None) != (semantic_threshold is None):
        raise ValueError(
            "embeddings and semantic_threshold must be provided together"
        )
    if (decon_eval_docs is None) != (decon_min_score is None):
        raise ValueError(
            "decon_eval_docs and decon_min_score must be provided together"
        )
    if (quality_probe is None) != (min_probe_score is None):
        raise ValueError(
            "quality_probe and min_probe_score must be provided together"
        )
    if near_dup_policy not in ("lowest_id", "best_quality"):
        # validate at entry with the other guards — failing after the
        # funnel/exact-dedup stages would waste minutes of cluster work
        raise ValueError(
            "near_dup_policy must be 'lowest_id' or 'best_quality', "
            f"got {near_dup_policy!r}"
        )
    stages = stages if stages is not None else default_quality_stages()

    store = (
        _StageStore(docs.sparkSession, run_dir)
        if run_dir is not None
        else None
    )

    def _ids(name: str, params: dict, compute) -> DataFrame:
        """Checkpoint an id-sized stage product: durable parquet under
        run_dir (resumable), else eager localCheckpoint (the in-memory
        plan-growth truncation). Either way the stage join's derived
        side becomes a flat scan."""
        if store is not None:
            return store.load_or(name, params, compute)
        return materialize(compute())

    def _text(name: str, params: dict, compute) -> DataFrame:
        """Checkpoint a corpus-TEXT stage product (span/substring
        output): durable parquet under run_dir, else computed lazily
        (the caller persists it — text never goes through
        localCheckpoint, the never-payloads rule)."""
        if store is not None:
            return store.load_or(name, params, compute)
        return compute()

    if html_col is not None:
        # crawl ingest: extract prose from raw HTML as the zeroth
        # stage — BEFORE even the URL dedup, so every text-level stage
        # (funnel signals, fingerprints, shingles, spans) sees prose,
        # never markup. Pure Column regex chain: fuses into the scan,
        # adds no action and no shuffle, so it needs no report row —
        # attrition from docs whose HTML contains no visible text
        # shows up at the quality funnel (blank text) like any other
        # empty doc.
        docs = parse_html_documents(docs, html_col=html_col, text_col="text")
        if html_col != "text":
            # the raw markup (typically 5-10x the prose) must NOT ride
            # through every downstream persist/shuffle/join — nothing
            # after extraction reads it (round-8 review)
            docs = docs.drop(html_col)

    n_cap: int | None = None
    n_url: int | None = None
    if url_col is not None:
        # pre-stage totals need their own (cheap, text-free) counts;
        # the funnel's `total` below reports the post-url/post-cap corpus
        n_before_url = docs.count()
        if store is not None:
            url_src = docs
            kept_url = _ids(
                "url_dedup",
                {"url_col": url_col},
                lambda: dedup_exact_urls(
                    url_src, url_col=url_col, id_col="doc_id"
                ).select("doc_id"),
            )
            docs = docs.join(kept_url, "doc_id", "left_semi")
        else:
            # checkpoint_winners: the winner id-set joins back against
            # the frame it derives from — truncate it so plan growth
            # stays linear (module docstring, plan-growth discipline)
            docs = dedup_exact_urls(
                docs, url_col=url_col, id_col="doc_id",
                checkpoint_winners=True,
            )
    if max_per_source is not None:
        total_in = docs.count()
        if store is not None:
            cap_src = docs
            kept_cap = _ids(
                "source_cap",
                {
                    "source_col": source_col,
                    "max": max_per_source,
                    "seed": seed,
                },
                lambda: cap_per_group(
                    cap_src, source_col, max_per_source,
                    id_col="doc_id", seed=seed,
                ).select("doc_id"),
            )
            docs = docs.join(kept_cap, "doc_id", "left_semi")
        else:
            docs = cap_per_group(
                docs, source_col, max_per_source, id_col="doc_id", seed=seed
            )

    # one conditional-agg scan yields total + every cumulative stage
    # count — NOT len(stages)+1 separate count() actions
    if stages:
        # stage predicates may reference quality_signals columns
        # (gopher_stage_predicates contract) — auto-project them when
        # the caller passed a raw (doc_id, text) frame, and restore
        # the caller's schema right after the filter below
        in_cols = docs.columns
        docs = ensure_quality_signals(docs, stages)
        [funnel] = filter_funnel(docs, stages).collect()
        total = int(funnel["total"])
        n_clean = int(funnel[f"after_{stages[-1][0]}"])
    else:
        total = docs.count()
        n_clean = total
    if max_per_source is not None:
        n_cap = total
        total = total_in
    if url_col is not None:
        n_url = total
        total = n_before_url

    cond = None
    for _, c in stages:
        cond = c if cond is None else (cond & c)
    clean = docs.filter(cond).select(in_cols) if cond is not None else docs

    # exact dedup: keep each fingerprint's lowest doc_id. The KEEP
    # SET (ids only — orders of magnitude smaller than the corpus) is
    # materialized (eager localCheckpoint) so the stage join's right
    # side is a FLAT scan: every optional stage below joins the
    # surviving corpus against a set derived from that same corpus,
    # and without truncating the small side the logical plan doubles
    # per stage (see module docstring — Catalyst then re-analyzes a
    # 2^stages tree on every action). Truncating only the id sets
    # keeps plan growth linear while the corpus-sized stage products
    # stay under persist() with progressive unpersist — storage that
    # CAN be released (localCheckpoint blocks cannot, short of GC).
    keep = _ids(
        "exact_keep",
        # the funnel + html config shape everything downstream of the
        # clean corpus, so they enter the hash chain here (the url/cap
        # stages entered when they ran)
        {
            "stages": [[n, _predicate_sig(c)] for n, c in stages],
            "html_col": html_col,
        },
        lambda: exact_dedup(clean).select(F.col("keep_id").alias("doc_id")),
    )

    # Round-15 fold discipline (guide §1.2/§2.4): every corpus-sized
    # stage product is still persisted exactly once — the stage joins
    # and their scale shape are unchanged — but no stage pays a
    # dedicated count() materialization pass any more. Stage
    # consumption is strictly sequential and every stage reads its
    # input in full, so the NEXT stage's own checkpoint action computes
    # the pending frame and fills its cache as a side effect; the
    # attrition counts then read straight from the cache (a cheap
    # in-memory scan, settled after each eager action) and each frame
    # is released as soon as its successor is materialized. Net: ONE
    # corpus-sized pass per stage instead of two, identical stage
    # products, identical counts (the same frames, counted later).
    # When several LAZY stages stack between eager actions (span +
    # substring), their products compute in one fused pass and up to
    # that many frames are cache-resident together — MEMORY_AND_DISK
    # spills the overflow, the documented trade for the removed passes.
    pending: list[tuple[str, DataFrame]] = []
    stage_counts: dict[str, int] = {}

    def _push(label: str, frame: DataFrame) -> DataFrame:
        f = frame.persist(StorageLevel.MEMORY_AND_DISK)
        pending.append((label, f))
        return f

    def _settle() -> None:
        """After an eager action: every pending frame is in the newest
        frame's lineage and is now materialized — count each from
        cache, release all but the newest (downstream still reads it).
        Counts run OLDEST-FIRST and every unpersist happens only after
        ALL counts: on a run_dir RESUME a skipped stage fires no
        action, so a count here may be the computation itself — and
        counting up the chain fills each cache before its successor
        reads it, keeping resume at one pass per stage (releasing a
        predecessor before counting its successor would recompute the
        whole upstream lineage per settle)."""
        for label, f in pending:
            if label not in stage_counts:
                stage_counts[label] = f.count()
        while len(pending) > 1:
            _, f = pending.pop(0)
            f.unpersist()

    exact = _push("exact", clean.join(keep, "doc_id", "left_semi"))

    # near-dup stage. Default policy: every higher id of a >=
    # threshold pair goes — transitive chains collapse to their
    # minimum without a components pass because each pair
    # independently names a smaller survivor. The LSH candidate join
    # executes during this materialize — once.
    n_cc_iter: int | None = None
    dedup_tel: dict = {}
    if near_dup_policy == "lowest_id":
        drop = _ids(
            "near_drop",
            {"threshold": near_dup_threshold, "policy": near_dup_policy},
            lambda: minhash_lsh_dedup_pairs(
                exact, threshold=near_dup_threshold, telemetry=dedup_tel
            )
            .select(F.col("id_b").alias("doc_id"))
            .distinct(),
        )
        _settle()
        deduped = _push("near", exact.join(drop, "doc_id", "left_anti"))
    else:
        # quality-aware survivor: resolve pair edges into clusters
        # (iterative min-label CC — pairs only, not the corpus) and
        # keep each cluster's best-scoring member instead of its
        # lowest id. Costs the CC pass the default skips; clusters is
        # an id-sized frame, checkpointed to keep plan growth linear.
        # pairs materializes FIRST: CC's edge checkpoint and node set
        # both consume it, and a lazy producer would re-execute the
        # LSH candidate join once per consumer (round-8 review).
        cc_tel: dict = {}

        def _cc_clusters() -> DataFrame:
            pairs = materialize(
                minhash_lsh_dedup_pairs(
                    exact, threshold=near_dup_threshold, telemetry=dedup_tel
                )
            )
            edges = pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            )
            return connected_components_min_label(
                edges, max_iter=cc_max_iter, telemetry=cc_tel
            )

        clusters = _ids(
            "near_clusters",
            {"threshold": near_dup_threshold, "policy": near_dup_policy},
            _cc_clusters,
        )
        _settle()
        n_cc_iter = cc_tel.get("iterations")  # None on checkpoint reuse
        deduped = _push(
            "near", select_cluster_representatives(exact, clusters)
        )

    if embeddings is not None:
        # SemDeDup over the SURVIVORS' embeddings only (semi-join
        # restricts the k-means fit + pair join to docs still alive);
        # same lowest-id winner policy as the text-level stages
        emb_alive = embeddings.join(
            deduped.select("doc_id"), "doc_id", "left_semi"
        )
        sem_drop = _ids(  # ids only — flat join side
            "sem_drop",
            {
                "threshold": float(semantic_threshold),
                "clusters": semantic_clusters,
            },
            lambda: semantic_dedup_pairs(
                emb_alive,
                threshold=float(semantic_threshold),
                n_clusters=semantic_clusters,
                id_col="doc_id",
            )
            .select(F.col("id_b").alias("doc_id"))
            .distinct(),
        )
        _settle()
        deduped = _push("sem", deduped.join(sem_drop, "doc_id", "left_anti"))

    if decon_eval_docs is not None:
        # retrieval-based decontamination: any surviving doc whose BM25
        # similarity to ANY eval doc crosses the bound goes. Index is
        # built over survivors only (the smallest corpus available)
        from ..operators.retrieval import bm25_bulk_scores, build_bm25_index

        decon_src = deduped
        hits = _ids(  # ids only — flat join side
            "decon_hits",
            {"min_score": float(decon_min_score)},
            lambda: bm25_bulk_scores(
                build_bm25_index(decon_src),
                decon_eval_docs,
                min_score=float(decon_min_score),
            )
            .select("doc_id")
            .distinct(),
        )
        _settle()
        deduped = _push("decon", deduped.join(hits, "doc_id", "left_anti"))

    if span_dedup_delim is not None:
        # single reference to `deduped` (no self-join) — plan growth
        # is linear here without any truncation
        span_src = deduped
        deduped = _push(
            "span",
            _text(
                "span_dedup",
                {"delim": span_dedup_delim, "min_chars": span_min_chars},
                lambda: dedup_spans(
                    span_src, delim=span_dedup_delim, min_chars=span_min_chars
                )
                .filter(F.trim(F.col("text_deduped")) != "")
                .select("doc_id", F.col("text_deduped").alias("text")),
            ),
        )

    if substring_min_tokens is not None:
        # Lee-et-al exact substring dedup: corpus-global duplicated
        # passages >= the threshold survive only at their first
        # occurrence; docs reduced to nothing drop
        from ..operators.dedup import dedup_substrings

        sub_src = deduped
        sub = _text(
            "substring_dedup",
            {"min_tokens": substring_min_tokens},
            lambda: dedup_substrings(sub_src, min_tokens=substring_min_tokens)
            .filter(F.col("text_deduped") != "")
            .select("doc_id", F.col("text_deduped").alias("text")),
        )
        # `sub` carries corpus-sized TEXT, so it is NOT checkpointed
        # (materialize's never-payloads rule); this one stage accepts
        # a single 2x plan reference to `deduped` — a constant factor,
        # not the per-stage doubling the id-set truncation prevents
        # (the 2x reference is computed once even when the input frame
        # is persisted-but-unfilled: cache partition locks serialize
        # the two subtrees' first touch)
        deduped = _push(
            "substr", deduped.drop("text").join(sub, "doc_id", "inner")
        )

    if ppl_lm is not None:
        # the n-gram explode + model joins execute during this
        # checkpoint — once; ids only, flat join side
        ppl_src = deduped
        keep_ppl = _ids(
            "lm_keep",
            {"max_perplexity": float(max_perplexity)},
            lambda: score_perplexity(ppl_src, ppl_lm)
            .filter(
                F.col("perplexity").isNotNull()
                & (F.col("perplexity") <= F.lit(float(max_perplexity)))
            )
            .select("doc_id"),
        )
        _settle()
        deduped = _push(
            "ppl", deduped.join(keep_ppl, "doc_id", "left_semi")
        )

    # model-based quality gate (the FineWeb-Edu / CCNet-classifier
    # recipe): a trained logistic probe over hashed text features
    # scores every surviving doc; those under the operating threshold
    # drop. quality_probe is a scorer callable or a (weights, bias)
    # PAIR; probe_dim must match the training featurization (the only
    # train/score coupling — there is no vocabulary artifact). Blank
    # docs score NULL and drop (no usable signal clears no threshold).
    if quality_probe is not None:
        from ..operators.features import score_text_probe
        from ..operators.inference import linear_probe_scorer

        if callable(quality_probe):
            scorer = quality_probe
        else:
            # strict 2-unpack: the raw train_text_probe return is a
            # 3-tuple whose loss history would otherwise bind to
            # linear_probe_scorer's `logistic` flag — an empty history
            # (iters=0) silently gating raw margins against a
            # probability threshold. Fail fast instead.
            weights, bias = quality_probe
            scorer = linear_probe_scorer(weights, bias)
        # featurization + scoring execute during this checkpoint —
        # once; ids only, flat join side
        probe_src = deduped
        keep_probe = _ids(
            "probe_keep",
            {"min_probe_score": float(min_probe_score), "dim": probe_dim},
            lambda: score_text_probe(
                probe_src.select("doc_id", "text"), scorer, dim=probe_dim
            )
            .filter(
                F.col("score").isNotNull()
                & (F.col("score") >= F.lit(float(min_probe_score)))
            )
            .select("doc_id"),
        )
        _settle()
        deduped = _push(
            "probe", deduped.join(keep_probe, "doc_id", "left_semi")
        )

    # no_split switches the packer: greedy whole-document chunks
    # (T5-style) instead of concat-and-chunk splitting
    # sort=False: packing's shard window consumes the _order KEY, so a
    # global range sort here would be a dead exchange
    shuffled = epoch_shuffle(deduped, seed=seed, sort=False)
    if no_split:
        chunks = pack_documents_no_split(
            shuffled, budget=budget, n_shards=n_shards, order_col="_order"
        )
        tok_col = "n_tok"
    else:
        chunks = pack_token_chunks(
            shuffled, budget=budget, n_shards=n_shards, order_col="_order"
        )
        tok_col = "chunk_tokens"
    agg = chunks.agg(
        F.count_distinct("shard", "chunk_id").alias("n_chunks"),
        F.sum(tok_col).alias("tok"),
    ).collect()[0]

    # the pack aggregate materialized every still-pending stage frame;
    # settle the remaining attrition counts from cache and release all
    # but the final corpus (the chunks frame's lineage reads it)
    _settle()
    n_exact = stage_counts["exact"]
    n_near = stage_counts["near"]
    n_sem = stage_counts.get("sem")
    n_decon = stage_counts.get("decon")
    n_span = stage_counts.get("span")
    n_substr = stage_counts.get("substr")
    n_ppl = stage_counts.get("ppl")
    n_probe = stage_counts.get("probe")

    report = CurationReport(
        total=total,
        after_quality=n_clean,
        after_exact_dedup=n_exact,
        after_near_dedup=n_near,
        chunks=int(agg.n_chunks or 0),
        packed_tokens=int(agg.tok or 0),
        after_span_dedup=n_span,
        after_source_cap=n_cap,
        after_perplexity=n_ppl,
        after_quality_probe=n_probe,
        after_semantic_dedup=n_sem,
        after_decontamination=n_decon,
        after_substring_dedup=n_substr,
        after_url_dedup=n_url,
        cc_iterations=n_cc_iter,
        hot_buckets_dropped=dedup_tel.get("hot_buckets_dropped"),
    )
    # handle for unpersist_curated — the chunks frame's lineage reads
    # from this persisted corpus
    chunks._curate_persisted = deduped  # type: ignore[attr-defined]
    return chunks, report


def unpersist_curated(chunks: DataFrame) -> None:
    """Release the persisted post-dedup corpus backing a
    ``curate_documents`` result. Safe on any DataFrame (no-op when the
    frame didn't come from ``curate_documents``). The small id-set
    localCheckpoints are reclaimed by the ContextCleaner once garbage
    collected (bounded residue, ids only). After this, actions on the
    chunk frame recompute the final stage's lineage — unpersist only
    once the chunks are materialized (written/collected)."""
    backing = getattr(chunks, "_curate_persisted", None)
    if backing is not None:
        backing.unpersist()
        try:
            delattr(chunks, "_curate_persisted")
        except AttributeError:
            pass


@dataclass
class MediaCurationReport:
    """Per-stage attrition of ``curate_media`` — the multimodal
    counterpart of ``CurationReport``."""

    total: int
    after_exact_dedup: int
    by_modality: dict
    non_native: int
    image_near_dropped: int
    audio_near_dropped: int
    video_near_dropped: int
    kept: int
    # round 12: the cross-modal PDF→text near-dup stage (0 when the
    # stage is off)
    pdf_text_dropped: int = 0
    # round 14: per-modality count of (band, val) fingerprint buckets
    # the hot-bucket cap dropped before the near-dup self-join (0 on a
    # healthy corpus; >0 means blank/solid/silent boilerplate was
    # skipped — the recall trade is visible here, never silent)
    hot_buckets_dropped: dict = field(default_factory=dict)


def curate_media(
    media: DataFrame,
    image_max_hamming: int = 3,
    audio_max_hamming: int = 4,
    video_max_hamming: int = 4,
    video_n_samples: int = 8,
    fake_decode: bool = False,
    pdf_text_stage: bool = False,
    pdf_near_dup_threshold: float = 0.9,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> tuple[DataFrame, MediaCurationReport]:
    """End-to-end MEDIA curation recipe — the multimodal counterpart
    of ``curate_documents``, wiring the library's media-dedup tiers
    into the pass a mixed image/audio/video lake actually runs:

        header-only modality routing carried AS COLUMNS
        (``tag_media_modality`` — one Arrow pass, no join) →
        exact payload dedup (sha256, any modality) →
        per-modality near-dup drop (image dHash / audio
        lag-energy fingerprint / video frame-vote hash)

    Semantics: exact dedup keeps the smallest ``media_id`` per
    byte-identical payload (NULL payloads are ABSENT, not equal — each
    keeps its own group); each near-dup tier then drops every id that
    pairs with a smaller id (keep-first), matching the ``lowest_id``
    policy of the text recipe. Payloads the native decoders cannot
    handle (WebP, MP3/Ogg, non-MJPEG video, encrypted PDFs — env
    ceilings, flagged by the header-only ``native`` gate) PASS THROUGH
    untouched and are counted in ``non_native``; ``unknown``
    modality likewise passes through. ``document`` payloads pass
    through the media tiers, but with ``pdf_text_stage=True`` the
    native PDFs additionally route through the TEXT near-dup gate
    (round 12's cross-modal link): ``extract_pdf_text`` → MinHash-LSH
    pairs at ``pdf_near_dup_threshold`` in the SAME id space,
    keep-lowest-id — so a re-serialized PDF with identical text dedups
    even though its bytes differ. Extraction inside the stage runs
    with the deterministic stand-in fallback and FILTERS to
    ``extracted`` rows, so PDFs beyond the parser's ceiling (damaged,
    exotic filters) pass through rather than aborting the recipe —
    stand-ins never pair (each is a distinct payload hash).

    Scale shape (the pinned contract): the tagged frame is persisted
    and every stage reads it ONCE — modality subsets are pure FILTERS
    on the routing columns (never a join against a corpus-sized id
    set, which would drag payload bytes through a shuffle); the exact
    stage shuffles only (id, digest) projections; every drop-set is a
    LOSER-sized id frame, lineage-truncated (localCheckpoint) and
    anti-joined (AQE broadcasts it). The input payload column never
    crosses a shuffle anywhere. Returns ``(survivors, report)`` with
    the input schema unchanged; the survivors frame carries the
    persisted routing pass — call ``unpersist_curated(survivors)``
    after materializing it."""
    from pyspark.sql import functions as F

    from ..operators.dedup import hamming_pairs
    from ..operators.fingerprint import AUDIO, IMAGE, VIDEO
    from ..operators.multimodal import tag_media_modality

    from ..session import _materialize_observed

    def _ckpt_with_count(frame: DataFrame) -> tuple[DataFrame, int]:
        """Eagerly checkpoint an id-sized loser set and return its row
        count OBSERVED during the same checkpoint action (round 15) —
        the count used to be a second Spark job per stage over a frame
        the checkpoint had just computed."""
        ck, seen = _materialize_observed(frame, n=F.count(F.lit(1)))
        return ck, int(seen["n"])

    tagged = tag_media_modality(media).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    total = tagged.count()

    # exact stage: slim (id, digest) frames only; losers = non-min ids
    # of multi-member digest groups (duplicate-sized, not corpus-sized)
    digests = tagged.select(
        "media_id",
        F.coalesce(
            F.sha2(F.col("payload").cast("binary"), 256),
            F.concat(F.lit("null:"), F.col("media_id").cast("string")),
        ).alias("_d"),
    )
    groups = digests.groupBy("_d").agg(
        F.min("media_id").alias("_keep"), F.count(F.lit(1)).alias("_n")
    )
    exact_losers, exact_dropped = _ckpt_with_count(
        digests.join(groups, "_d")
        .filter((F.col("_n") > 1) & (F.col("media_id") != F.col("_keep")))
        .select("media_id")
    )

    slim = tagged.select("media_id", "modality", "native").join(
        exact_losers, "media_id", "left_anti"
    )
    # one aggregation serves both the per-modality histogram and the
    # non-native tally (round 15 — it used to be a second full pass)
    mod_rows = (
        slim.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("modality") != "unknown") & ~F.col("native"), 1
                ).otherwise(0)
            ).alias("nn"),
        )
        .collect()
    )
    by_modality = {r["modality"]: r["n"] for r in mod_rows}
    non_native = int(sum(r["nn"] for r in mod_rows))

    # each tier decodes + fingerprints ONCE (hamming_pairs
    # materializes its hash input); the hot-bucket drop count comes
    # from the cap's own telemetry out-param — the same hook the
    # minhash tier uses — so no stage runs a second banding pass
    tiers = (
        (IMAGE, image_max_hamming, {}),
        (AUDIO, audio_max_hamming, {}),
        (VIDEO, video_max_hamming, {"n_samples": video_n_samples}),
    )
    dropped = {}
    hot_buckets: dict[str, int] = {}
    all_losers = exact_losers
    for family, max_hamming, params in tiers:
        modality = family.name
        params = family.params(**params)
        subset = tagged.filter(
            (F.col("modality") == modality) & F.col("native")
        ).join(exact_losers, "media_id", "left_anti")
        tier_tel: dict = {}
        # slim id set, derived from the corpus — truncate lineage
        # before it joins back (the plan-growth discipline); the drop
        # count rides the checkpoint action
        losers, dropped[modality] = _ckpt_with_count(
            hamming_pairs(
                family.fingerprint(subset, fake_decode, **params).select(
                    "media_id", family.hash_col
                ),
                hash_col=family.hash_col,
                id_col="media_id",
                nbits=family.nbits(params),
                max_hamming=max_hamming,
                max_bucket=max_bucket,
                telemetry=tier_tel,
            )
            .select(F.col("id_b").alias("media_id"))
            .distinct()
        )
        # the recall trade must be visible in the report, never silent
        hot_buckets[modality] = tier_tel.get("hot_buckets_dropped", 0)
        all_losers = all_losers.unionByName(losers)

    pdf_text_dropped = 0
    if pdf_text_stage:
        from ..operators.dedup import minhash_lsh_dedup_pairs
        from ..operators.pdf import extract_pdf_text

        pdf_subset = tagged.filter(
            (F.col("modality") == "document") & F.col("native")
        ).join(exact_losers, "media_id", "left_anti")
        # stand-in fallback keeps the recipe total on ceiling PDFs;
        # the extracted filter keeps stand-ins out of the pair gate
        texts = (
            extract_pdf_text(pdf_subset, fake_decode=True)
            .filter(F.col("extracted"))
            .select("media_id", "text")
        )
        pdf_losers, pdf_text_dropped = _ckpt_with_count(
            minhash_lsh_dedup_pairs(
                texts,
                text_col="text",
                id_col="media_id",
                threshold=pdf_near_dup_threshold,
            )
            .select(F.col("id_b").alias("media_id"))
            .distinct()
        )
        all_losers = all_losers.unionByName(pdf_losers)

    survivors = tagged.join(all_losers, "media_id", "left_anti").drop(
        "modality", "native"
    )
    report = MediaCurationReport(
        total=total,
        after_exact_dedup=total - exact_dropped,
        by_modality=by_modality,
        non_native=non_native,
        image_near_dropped=dropped["image"],
        audio_near_dropped=dropped["audio"],
        video_near_dropped=dropped["video"],
        kept=total - exact_dropped - sum(dropped.values())
        - pdf_text_dropped,
        pdf_text_dropped=pdf_text_dropped,
        hot_buckets_dropped=hot_buckets,
    )
    # the unpersist_curated handshake: the survivors frame reads the
    # persisted routing pass until the caller materializes it
    survivors._curate_persisted = tagged
    return survivors, report

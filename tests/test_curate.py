"""End-to-end curation recipe: funnel → exact dedup → near-dup drop →
epoch shuffle → packing, with attrition accounting and packing
invariants verified on a golden corpus and on the documents fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
    curate_documents,
    default_quality_stages,
)
from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
    load_fixture_table,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain keeps "
    "falling on the quiet town and nobody seems to mind the weather at all"
)


def _corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),                       # exact dup of 1 → dropped
        (3, BASE.replace("dog", "cat")), # near dup of 1 → dropped
        (4, "completely different content about astronomy telescopes "
            "galaxies nebulae and the slow drift of planets across skies"),
        (5, "tiny"),                     # fails min_tokens
        (6, ""),                         # fails nonblank
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_golden_attrition_and_packing(spark):
    chunks, rep = curate_documents(
        _corpus(spark), budget=16, n_shards=2, seed=1, near_dup_threshold=0.5
    )
    assert rep.total == 6
    assert rep.after_quality == 4          # 5, 6 fail the funnel
    assert rep.after_exact_dedup == 3      # 2 dropped (dup of 1)
    assert rep.after_near_dedup == 2       # 3 dropped (near dup of 1)
    survivors = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    assert survivors == {1, 4}
    # conservation: packed tokens == total tokens of survivors
    n_tok = (
        _corpus(spark)
        .filter(F.col("doc_id").isin(1, 4))
        .select(F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert rep.packed_tokens == n_tok
    assert rep.chunks >= 2


def test_curate_is_deterministic(spark):
    a, ra = curate_documents(_corpus(spark), budget=16, n_shards=2, seed=9)
    b, rb = curate_documents(_corpus(spark), budget=16, n_shards=2, seed=9)
    assert ra == rb
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_curate_fixture_smoke_and_funnel_report(spark):
    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    chunks, rep = curate_documents(docs, budget=512, n_shards=4, seed=3)
    # the report's funnel only ever narrows
    assert rep.total >= rep.after_quality >= rep.after_exact_dedup
    assert rep.after_exact_dedup >= rep.after_near_dedup > 0
    assert rep.packed_tokens > 0 and rep.chunks > 0
    # every non-final chunk per shard holds exactly the budget
    per_chunk = chunks.groupBy("shard", "chunk_id").agg(
        F.sum("chunk_tokens").alias("tok")
    )
    last = per_chunk.groupBy("shard").agg(F.max("chunk_id").alias("last"))
    bad = (
        per_chunk.join(last, "shard")
        .filter((F.col("chunk_id") != F.col("last")) & (F.col("tok") != 512))
        .count()
    )
    assert bad == 0


def test_curate_seed_changes_chunk_composition(spark):
    """The flagship composition is real: the seed flows through
    epoch_shuffle's key into packing's shard window, so different
    seeds yield genuinely different chunk layouts (round-5 gap: the
    seed was a no-op), while attrition, survivors and total packed
    tokens are seed-invariant."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        unpersist_curated,
    )

    docs = load_fixture_table(spark, "/root/testdata/sf0.001", "documents")
    a, ra = curate_documents(docs, budget=256, n_shards=4, seed=0)
    b, rb = curate_documents(docs, budget=256, n_shards=4, seed=1)
    try:
        la = sorted((r.shard, r.chunk_id, r.doc_id) for r in a.collect())
        lb = sorted((r.shard, r.chunk_id, r.doc_id) for r in b.collect())
        assert la != lb                           # seed changes the packing
        # ...but not the attrition or the token mass; chunk COUNT may
        # differ by up to n_shards (each shard's last chunk is partial,
        # and shard membership is seed-dependent)
        assert (ra.total, ra.after_quality, ra.after_exact_dedup,
                ra.after_near_dedup, ra.packed_tokens) == (
            rb.total, rb.after_quality, rb.after_exact_dedup,
            rb.after_near_dedup, rb.packed_tokens)
        assert abs(ra.chunks - rb.chunks) <= 4
        assert sorted({d for *_, d in la}) == sorted({d for *_, d in lb})
    finally:
        unpersist_curated(a)
        unpersist_curated(b)


def test_curate_executes_lineage_once(spark):
    """Action discipline: the recipe fires several actions (funnel row,
    two dedup counts, chunk aggregate) but the SOURCE is scanned a
    bounded number of times (funnel scan + materialization of the
    persisted dedup stages), and — the 100 TB property — re-running an
    action on the returned chunks does NOT re-execute the lineage
    (the LSH candidate join would otherwise run again)."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        unpersist_curated,
    )

    acc = spark.sparkContext.accumulator(0)
    base = _corpus(spark)
    n = base.count()

    def probe(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    docs = base.mapInPandas(probe, schema="doc_id long, text string")
    chunks, rep = curate_documents(
        docs, budget=16, n_shards=2, seed=1, near_dup_threshold=0.5
    )
    try:
        scans_during = acc.value
        # funnel scan (1x) + materializing the persisted exact-dedup
        # corpus (2x: build + semi-join probe); everything downstream
        # reads the caches. Pre-fix this was ~10x.
        assert scans_during <= 3 * n, scans_during
        assert rep.after_near_dedup == 2          # outputs unchanged
        chunks.count()
        assert acc.value == scans_during          # no lineage re-execution
    finally:
        unpersist_curated(chunks)


def test_curate_optional_span_dedup_strips_boilerplate(spark):
    """With span_dedup_delim the recipe runs C4-style span-level dedup
    after doc-level dedup: a boilerplate line shared across surviving
    docs packs only once (its first occurrence), a doc reduced to
    nothing is dropped, and the report's after_span_dedup counts the
    survivors."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        unpersist_curated,
    )

    boiler = "subscribe to our newsletter for updates every single day"
    rows = [
        (1, f"{boiler}\nunique alpha content words here for doc one body"),
        (2, f"{boiler}\ndifferent beta content entirely separate topic text"),
        (3, boiler),  # nothing but the boilerplate -> dropped entirely
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks, rep = curate_documents(
        docs,
        budget=16,
        n_shards=2,
        seed=0,
        near_dup_threshold=0.95,
        span_dedup_delim="\n",
    )
    try:
        assert rep.after_near_dedup == 3       # docs are pairwise distinct
        assert rep.after_span_dedup == 2       # doc 3 emptied out
        survivors = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
        assert survivors == {1, 2}
        # the boilerplate's tokens are packed exactly once: doc1 keeps
        # both lines (first occurrence), doc2 keeps only its unique line
        n_boiler = len(boiler.split())
        n1 = len(rows[0][1].split())
        n2 = len(rows[1][1].split()) - n_boiler
        assert rep.packed_tokens == n1 + n2
    finally:
        unpersist_curated(chunks)


def test_curate_span_dedup_off_is_unchanged(spark):
    """Default (span stage off): report field None, behavior identical
    to the pre-span recipe on the same corpus."""
    chunks, rep = curate_documents(
        _corpus(spark), budget=16, n_shards=2, seed=1, near_dup_threshold=0.5
    )
    assert rep.after_span_dedup is None
    assert rep.after_near_dedup == 2


def test_curate_source_cap_stage(spark):
    """max_per_source engages first: 10 docs from one source capped to
    3 before any text stage; attrition is reported against the true
    input total."""
    rows = [
        (i, BASE.replace("fox", f"fox{i}"), "srcA") for i in range(1, 11)
    ] + [(20, BASE.replace("fox", "vulpes"), "srcB")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    chunks, rep = curate_documents(
        docs,
        budget=16,
        n_shards=2,
        seed=1,
        near_dup_threshold=0.99,
        max_per_source=3,
    )
    assert rep.total == 11
    assert rep.after_source_cap == 4  # 3 of srcA + 1 of srcB
    assert rep.after_quality <= rep.after_source_cap
    # deterministic: same call again yields the identical chunk set
    chunks2, rep2 = curate_documents(
        docs,
        budget=16,
        n_shards=2,
        seed=1,
        near_dup_threshold=0.99,
        max_per_source=3,
    )
    assert rep2 == rep
    assert sorted(map(tuple, chunks.collect())) == sorted(
        map(tuple, chunks2.collect())
    )


def test_curate_perplexity_stage(spark):
    """The LM gate drops the out-of-distribution doc: train the model
    on in-domain text, curate a corpus holding one in-domain and one
    gibberish doc with a threshold between their perplexities."""
    from hospital_stain_tracker_data_pipeline_spark.operators.lm import (
        score_perplexity,
        train_ngram_lm,
    )

    trusted = spark.createDataFrame(
        [(i, BASE) for i in range(5)], "doc_id long, text string"
    )
    lm = train_ngram_lm(trusted, n=2, k=0.1)
    corpus = spark.createDataFrame(
        [
            (1, BASE),
            (2, "zxqv wvut qqqq plk mnb asdf ghjk zxcv tyui opas dfgh jkl"),
        ],
        "doc_id long, text string",
    )
    ppls = {
        r["doc_id"]: r["perplexity"]
        for r in score_perplexity(corpus, lm).collect()
    }
    cut = (ppls[1] + ppls[2]) / 2
    chunks, rep = curate_documents(
        corpus,
        budget=16,
        n_shards=1,
        near_dup_threshold=0.99,
        ppl_lm=lm,
        max_perplexity=cut,
    )
    assert rep.after_near_dedup == 2
    assert rep.after_perplexity == 1
    packed_docs = {r["doc_id"] for r in chunks.select("doc_id").collect()}
    assert packed_docs == {1}
    # the two optional args must travel together
    import pytest

    with pytest.raises(ValueError, match="together"):
        curate_documents(corpus, ppl_lm=lm)


def test_curate_semantic_dedup_stage(spark):
    """Two docs with distinct text (survive text-level dedup) but
    near-identical embeddings: the SemDeDup stage drops the higher id;
    a doc without an embedding row is untouched (no pair can name it)."""
    corpus = spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE.replace("fox", "wolf").replace("dog", "hound")),
            (3, "completely different content about astronomy telescopes "
                "galaxies nebulae and the slow drift of planets across skies"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9999, 0.0001, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "doc_id long, embedding array<double>",
    )
    chunks, rep = curate_documents(
        corpus,
        budget=16,
        n_shards=1,
        near_dup_threshold=0.99,
        embeddings=emb,
        semantic_threshold=0.99,
        semantic_clusters=1,
    )
    assert rep.after_near_dedup == 3
    assert rep.after_semantic_dedup == 2
    packed = {r["doc_id"] for r in chunks.select("doc_id").collect()}
    assert packed == {1, 3}
    import pytest

    with pytest.raises(ValueError, match="together"):
        curate_documents(corpus, embeddings=emb)


def test_curate_fully_filtered_corpus_reports_zero_chunks(spark):
    """Every doc fails the funnel: the recipe must complete with an
    all-zero tail (no crash in the shuffle/packing stages on an empty
    frame) and an empty chunk frame."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "tiny")], "doc_id long, text string"
    )
    chunks, rep = curate_documents(docs, budget=16, n_shards=2)
    assert rep.total == 3
    assert rep.after_quality == 0
    assert rep.after_exact_dedup == 0
    assert rep.after_near_dedup == 0
    assert rep.chunks == 0 and rep.packed_tokens == 0
    assert chunks.count() == 0


def test_curate_all_duplicates_single_survivor(spark):
    docs = spark.createDataFrame(
        [(i, BASE) for i in range(1, 6)], "doc_id long, text string"
    )
    chunks, rep = curate_documents(docs, budget=16, n_shards=2)
    assert rep.after_exact_dedup == 1
    assert rep.after_near_dedup == 1
    packed = {r["doc_id"] for r in chunks.select("doc_id").collect()}
    assert packed == {1}


def test_curate_retrieval_decontamination_stage(spark):
    """An eval doc lexically close to one corpus doc: that doc must be
    dropped by the decontamination stage, the unrelated one kept."""
    corpus = spark.createDataFrame(
        [
            (1, "the quantum physics benchmark question about entanglement "
                "and superposition states measured in qubits repeatedly"),
            (2, "completely different content about gardening tomatoes "
                "seedlings compost watering schedules and sunlight hours"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "quantum entanglement benchmark question superposition qubits")],
        "eval_id long, text string",
    )
    chunks, rep = curate_documents(
        corpus,
        budget=16,
        n_shards=1,
        stages=[],
        near_dup_threshold=0.99,
        decon_eval_docs=eval_docs,
        decon_min_score=3.0,
    )
    assert rep.after_near_dedup == 2
    assert rep.after_decontamination == 1
    packed = {r["doc_id"] for r in chunks.select("doc_id").collect()}
    assert packed == {2}
    import pytest

    with pytest.raises(ValueError, match="together"):
        curate_documents(corpus, decon_eval_docs=eval_docs)


def test_curate_no_split_packing_variant(spark):
    """no_split=True packs whole documents (one row per doc, no chunk
    straddling); packed token mass equals the survivors' token mass."""
    docs = spark.createDataFrame(
        [(i, BASE.replace("fox", f"f{i}")) for i in range(1, 5)],
        "doc_id long, text string",
    )
    chunks, rep = curate_documents(
        docs, budget=30, n_shards=2, near_dup_threshold=0.99, no_split=True
    )
    pdf = chunks.toPandas()
    assert pdf["doc_id"].is_unique  # docs never split
    assert rep.packed_tokens == int(pdf["n_tok"].sum())
    assert rep.chunks == len(pdf.groupby(["shard", "chunk_id"]))


def test_curate_substring_dedup_stage(spark):
    """Two docs sharing a long passage with otherwise-distinct text:
    the later doc loses the passage but survives with its remainder."""
    shared = " ".join(f"s{i}" for i in range(12))
    corpus = spark.createDataFrame(
        [
            (1, f"first unique opener {shared} first unique closer words"),
            (2, f"second version begins {shared} second ending tokens here"),
        ],
        "doc_id long, text string",
    )
    chunks, rep = curate_documents(
        corpus,
        budget=16,
        n_shards=1,
        stages=[],
        near_dup_threshold=0.99,
        substring_min_tokens=10,
    )
    assert rep.after_near_dedup == 2
    assert rep.after_substring_dedup == 2  # both survive, doc 2 shrunk
    # packed token mass reflects the removal: doc1 keeps all 19
    # tokens (3 + 12 shared + 4), doc2 contributes only its 7 unique
    assert rep.packed_tokens == 19 + 7


def test_curate_span_and_substring_stages_compose(spark):
    """Span dedup must run BEFORE substring dedup (substring output is
    whitespace-normalized, destroying newlines): a boilerplate line
    shared across docs is still removed at the line level when both
    stages are on."""
    boiler = "subscribe to our newsletter for updates"
    docs = spark.createDataFrame(
        [
            (1, f"real article content here\n{boiler}\nmore real words"),
            (2, f"different article body text\n{boiler}\nother closing line"),
        ],
        "doc_id long, text string",
    )
    chunks, rep = curate_documents(
        docs,
        budget=16,
        n_shards=1,
        stages=[],
        near_dup_threshold=0.99,
        span_dedup_delim="\n",
        span_min_chars=1,
        substring_min_tokens=50,  # longer than any doc: no-op here
    )
    # the line-level stage genuinely fired: doc 2 lost the boilerplate
    assert rep.after_span_dedup == 2
    # 6 + 6 tokens of boilerplate counted once: doc1 keeps 4+6+3=13?
    # doc1: 4 + 6 + 3 tokens; doc2: 4 + 3 (boiler line removed)
    t1 = len("real article content here".split()) + len(boiler.split()) + len("more real words".split())
    t2 = len("different article body text".split()) + len("other closing line".split())
    assert rep.packed_tokens == t1 + t2


def test_curate_url_dedup_stage(spark):
    """url_col engages before everything: re-crawls of one page under
    tracking-param/port variation collapse to the lowest doc_id, the
    source cap then sees deduped counts, and NULL-url docs pass."""
    rows = [
        (1, BASE, "https://site.com/page?utm_source=feed", "srcA"),
        (2, BASE.replace("fox", "fox2"), "https://site.com:443/page", "srcA"),
        (3, BASE.replace("fox", "fox3"), "https://site.com/other", "srcA"),
        (4, BASE.replace("fox", "vulpes4"), None, "srcB"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string, source string"
    )
    chunks, rep = curate_documents(
        docs,
        budget=16,
        n_shards=2,
        seed=1,
        near_dup_threshold=0.99,
        url_col="url",
    )
    assert rep.total == 4
    assert rep.after_url_dedup == 3       # 2 is a re-crawl of 1
    assert rep.after_quality == 3
    survivors = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    assert survivors == {1, 3, 4}

    # composes with the source cap: cap sees post-url counts
    _, rep_cap = curate_documents(
        docs,
        budget=16,
        n_shards=2,
        seed=1,
        near_dup_threshold=0.99,
        url_col="url",
        max_per_source=1,
    )
    assert rep_cap.after_url_dedup == 3
    assert rep_cap.after_source_cap == 2  # 1 of srcA + 1 of srcB
    assert rep_cap.total == 4


def test_curate_url_dedup_off_reports_none(spark):
    _, rep = curate_documents(
        _corpus(spark), budget=16, n_shards=2, seed=1, near_dup_threshold=0.5
    )
    assert rep.after_url_dedup is None


def test_curate_repeat_call_plan_is_stable(spark):
    """Round-7 watch item (VERDICT r7 §wrong-4): the sf0.01 bench once
    recorded a *warm* curate_full run 23% slower than cold — the
    signature of state accumulating across calls. Profiling at HEAD
    showed warm <= cold in both isolated and full-bench contexts
    (no-release 3-run profile: 29.9 -> 14.6 -> 13.3 s; bench context
    cold 16.8 / warm 14.6 s at sf0.01), i.e. the anomaly was GC/JIT
    noise, not plan growth. This pin makes the benign cause durable:
    a SECOND in-process call must produce a logical plan of exactly
    the same shape as the first — any cross-call plan/lineage
    accumulation changes the explain output and fails here
    deterministically, without a flaky timing assert."""
    import re

    def _shape(df):
        # normalize per-run ids: plan ids (#123), RDD/checkpoint ids,
        # and persisted-frame hex addresses vary call to call
        s = df._jdf.queryExecution().analyzed().toString()
        s = re.sub(r"#\d+", "#x", s)
        s = re.sub(r"\[id=#?\w+\]", "[id=x]", s)
        s = re.sub(r"0x[0-9a-f]+", "0xX", s)
        # HOF lambda variables use a session-global counter (x_1, x_5,
        # ...) — same plan shape, different names on repeat calls
        s = re.sub(r"\bx_\d+", "x_n", s)
        return s

    a, _ = curate_documents(_corpus(spark), budget=16, n_shards=2, seed=9)
    b, _ = curate_documents(_corpus(spark), budget=16, n_shards=2, seed=9)
    assert _shape(a) == _shape(b)


def test_curate_best_quality_near_dup_policy(spark):
    """near_dup_policy='best_quality': the near-dup cluster keeps its
    highest-quality_score member instead of the lowest id, singletons
    and the rest of the pipeline unchanged."""
    rich = (
        "substantive detailed report covering methodology results "
        "analysis discussion conclusions recommendations appendix "
        "references glossary index preface summary introduction "
        "background literature survey experiments datasets metrics "
        "baselines ablations findings limitations implications future "
        "directions acknowledgments funding sources contributions "
        "tables figures charts diagrams notation terminology errata"
    )
    docs = spark.createDataFrame(
        [
            # near-dup pair: 1 is a degraded copy (stopword-soup tail
            # lowers its quality_score), 2 is the clean copy —
            # best_quality must keep 2, lowest_id keeps 1
            (1, rich + " the of and a the of and a"),
            (2, rich),
            (3, "completely unrelated standalone document about rivers "
                "and mountains flowing through the landscape today"),
        ],
        "doc_id long, text string",
    )
    lo, rl = curate_documents(
        docs, budget=64, n_shards=2, seed=0, near_dup_threshold=0.5
    )
    bq, rq = curate_documents(
        docs, budget=64, n_shards=2, seed=0, near_dup_threshold=0.5,
        near_dup_policy="best_quality",
    )
    kept_lo = {r.doc_id for r in lo.select("doc_id").distinct().collect()}
    kept_bq = {r.doc_id for r in bq.select("doc_id").distinct().collect()}
    assert rl.after_near_dedup == rq.after_near_dedup == 2
    assert kept_lo == {1, 3}
    assert kept_bq == {2, 3}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="near_dup_policy"):
        curate_documents(docs, near_dup_policy="nope")


def test_curate_html_ingest_stage(spark):
    """html_col: the recipe accepts raw crawl HTML and every text
    stage sees extracted prose — markup never reaches fingerprints,
    and a doc whose HTML has no visible text dies at the funnel."""
    body = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "keeps falling on the quiet town and nobody minds the weather"
    )
    rows = [
        (1, f"<html><body><p>{body}</p></body></html>"),
        # same prose, different markup -> exact dup after extraction
        (2, f"<html><body><div>{body}</div></body></html>"),
        (3, "<html><head><script>var x=1;</script></head><body></body></html>"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, html string")
    chunks, rep = curate_documents(
        docs, budget=32, n_shards=2, seed=0, html_col="html"
    )
    assert rep.total == 3
    assert rep.after_quality == 2          # doc 3 extracted to blank
    assert rep.after_exact_dedup == 1      # markup-invariant dedup
    kept = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    assert kept == {1}


def test_curate_quality_probe_stage(spark):
    """The model-based quality gate: a probe trained to separate two
    disjoint vocabularies drops the low-scoring half inside
    curate_documents, the attrition lands in after_quality_probe, and
    the survivors match a direct score-and-filter."""
    from hospital_stain_tracker_data_pipeline_spark.operators.features import (
        score_text_probe,
        train_text_probe,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.inference import (
        linear_probe_scorer,
    )
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        curate_documents,
        unpersist_curated,
    )

    good_words = ["clear", "concise", "prose", "article", "reference"]
    junk_words = ["zzz", "spam", "click", "buy", "winner"]
    train_rows, corpus_rows = [], []
    for i in range(40):
        g = " ".join(good_words[(i + j) % 5] for j in range(8))
        b = " ".join(junk_words[(i + j) % 5] for j in range(8))
        train_rows += [(2 * i, g, 1.0), (2 * i + 1, b, 0.0)]
    for i in range(10):
        # a unique tail per doc so the dedup stages upstream of the
        # probe keep all 20 (rotations alone collapse under exact +
        # near-dup, which is those stages doing their job)
        g = " ".join(good_words[(i + j) % 5] for j in range(8))
        b = " ".join(junk_words[(i + j) % 5] for j in range(8))
        corpus_rows += [
            (1000 + 2 * i, f"{g} uniq{i}a uniq{i}b uniq{i}c"),
            (1000 + 2 * i + 1, f"{b} sep{i}a sep{i}b sep{i}c"),
        ]
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string, label double"
    )
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    w, b, _ = train_text_probe(train, dim=64, iters=30, lr=1.0)
    scorer = linear_probe_scorer(w, b)

    chunks, rep = curate_documents(
        corpus,
        budget=64,
        n_shards=2,
        quality_probe=scorer,
        min_probe_score=0.5,
        probe_dim=64,
    )
    want_ids = {
        r["doc_id"]
        for r in score_text_probe(corpus, scorer, dim=64)
        .filter("score >= 0.5")
        .collect()
    }
    assert want_ids and all(i % 2 == 0 for i in want_ids)  # good half only
    assert rep.after_quality_probe == len(want_ids)
    kept = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    assert kept == want_ids
    unpersist_curated(chunks)

    # paired-param validation
    import pytest

    with pytest.raises(ValueError, match="quality_probe"):
        curate_documents(corpus, quality_probe=scorer)
    # off → None in the report
    chunks2, rep2 = curate_documents(corpus, budget=64, n_shards=2)
    assert rep2.after_quality_probe is None
    unpersist_curated(chunks2)


# ------------------------------------------------------ run_dir resume


def _resume_corpus(spark):
    """~20 docs engineered so EVERY optional stage drops something:
    url re-crawls, an over-cap source, funnel failures, exact + near
    dups, shared boilerplate lines, a repeated long passage, an
    eval-set contamination hit, and a near-identical embedding pair."""
    long_a = (
        "astronomy telescopes galaxies nebulae and the slow drift of "
        "planets across northern skies through the long winter night"
    )
    long_b = (
        "gardening tips for growing tomatoes peppers and squash in "
        "raised beds with drip irrigation and weekly compost feeding"
    )
    boiler = "subscribe to our newsletter for weekly updates"
    passage = (
        "this exact passage is repeated verbatim across two documents "
        "to trigger the substring stage"
    )
    rows = [
        # (doc_id, text, source, url)
        (1, long_a, "s1", "https://ex.com/a?utm_source=x"),
        (2, long_b, "s1", "https://ex.com/a"),          # url dup of 1
        (3, long_a, "s1", "https://ex.com/c"),          # exact dup of 1
        (4, long_a.replace("winter", "summer"), "s1", "https://ex.com/d"),  # near dup
        (5, boiler + "\n" + long_b.replace("tomatoes", "basil herbs"),
         "s1", "https://ex.com/e"),
        (6, boiler + "\n" + "completely different prose about sailing "
            "boats across the bay in steady wind and calm water",
         "s2", "https://ex.com/f"),
        (7, passage + " first carrier document with extra words here",
         "s2", "https://ex.com/g"),
        (8, passage + " second carrier document with other words after",
         "s2", "https://ex.com/h"),
        (9, "tiny", "s2", "https://ex.com/i"),          # fails min_tokens
        (10, "", "s2", "https://ex.com/j"),             # fails nonblank
        (11, "the quarterly earnings report shows steady growth across "
             "all regional markets despite currency headwinds this year",
         "s2", "https://ex.com/k"),
        (12, "an unrelated essay on the history of typography and the "
             "quiet craft of letterforms through the centuries of print",
         "s3", "https://ex.com/l"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, url string"
    )
    emb = spark.createDataFrame(
        [
            (11, [1.0, 0.0, 0.0, 0.0]),
            (12, [0.99, 0.12, 0.0, 0.0]),  # near-identical to 11 → drop 12
            (5, [0.0, 1.0, 0.0, 0.0]),
        ],
        "doc_id long, embedding array<double>",
    )
    eval_docs = spark.createDataFrame(
        [(100, "the quarterly earnings report shows steady growth")],
        "eval_id long, text string",
    )  # contaminates doc 11
    return docs, emb, eval_docs


def _resume_kwargs(emb, eval_docs):
    return dict(
        budget=32,
        n_shards=2,
        seed=5,
        near_dup_threshold=0.5,
        max_per_source=4,           # s1 has 5 docs → one capped
        url_col="url",
        span_dedup_delim="\n",
        substring_min_tokens=8,
        embeddings=emb,
        semantic_threshold=0.3,
        semantic_clusters=2,
        decon_eval_docs=eval_docs,
        decon_min_score=5.0,
        quality_probe=([0.0] * 16, 5.0),   # sigmoid(5) ≈ .99 → keeps all
        min_probe_score=0.5,
        probe_dim=16,
    )


def _chunk_rows(chunks):
    return sorted(
        tuple(r) for r in chunks.select(sorted(chunks.columns)).collect()
    )


def test_run_dir_stage_marker_lands_under_a_uri(spark, tmp_path):
    """A ``file://`` run_dir: the stage marker lands under the real
    directory, and a second store on it loads the stage without
    computing it again."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        _StageStore,
    )

    computed = []

    def compute():
        computed.append(True)
        return spark.range(3)

    for _ in range(2):
        store = _StageStore(spark, "file://" + str(tmp_path / "run"))
        got = store.load_or("ids", {"k": 1}, compute)
        assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]
    assert computed == [True]
    assert (tmp_path / "run" / "ids" / "_STAGE_OK").is_file()


@pytest.mark.parametrize("uri", [False, True], ids=["plain", "uri"])
def test_curate_run_dir_kill_and_resume_bit_identical(spark, tmp_path, uri):
    """A run_dir run equals the plain run, and a resume after its last
    stages were killed recomputes only those stages and is bit-identical,
    with the run_dir a plain path and a ``file://`` URI."""
    import dataclasses
    import os
    import shutil

    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        unpersist_curated,
    )

    docs, emb, eval_docs = _resume_corpus(spark)
    kw = _resume_kwargs(emb, eval_docs)

    # A: uninterrupted, no run_dir — the ground truth
    chunks_a, rep_a = curate_documents(docs, **kw)
    rows_a = _chunk_rows(chunks_a)
    unpersist_curated(chunks_a)
    assert rows_a, "corpus must survive to packing"
    # every optional stage actually dropped/transformed something
    assert rep_a.after_url_dedup == 11
    assert rep_a.after_source_cap == 9  # s2 has 6 docs, cap 4 drops 2
    assert rep_a.after_exact_dedup < rep_a.after_quality
    assert rep_a.after_near_dedup < rep_a.after_exact_dedup
    assert rep_a.after_semantic_dedup < rep_a.after_near_dedup
    assert rep_a.after_decontamination < rep_a.after_semantic_dedup

    # B: same config, run_dir — writes artifacts, same result
    local = str(tmp_path / "run")  # what the os calls below inspect
    run_dir = "file://" + local if uri else local
    chunks_b, rep_b = curate_documents(docs, **kw, run_dir=run_dir)
    assert _chunk_rows(chunks_b) == rows_a
    assert rep_b == rep_a
    unpersist_curated(chunks_b)
    stage_dirs = sorted(os.listdir(local))
    for s in [
        "url_dedup", "source_cap", "exact_keep", "near_drop", "sem_drop",
        "decon_hits", "span_dedup", "substring_dedup", "probe_keep",
    ]:
        assert s in stage_dirs, f"missing stage artifact {s}"

    # simulate a crash before the LAST stages completed: nuke the late
    # artifacts, keep everything upstream
    early_markers = {
        s: os.path.getmtime(os.path.join(local, s, "_STAGE_OK"))
        for s in ("url_dedup", "source_cap", "exact_keep", "near_drop")
    }
    for late in ("probe_keep", "substring_dedup"):
        shutil.rmtree(os.path.join(local, late))

    # C: resume — recomputes only the killed suffix, bit-identical
    chunks_c, rep_c = curate_documents(docs, **kw, run_dir=run_dir)
    assert _chunk_rows(chunks_c) == rows_a
    # near_drop loaded from its artifact, so its execution telemetry is
    # None by design; every DATA field is bit-identical
    assert rep_c.hot_buckets_dropped is None and rep_a.hot_buckets_dropped == 0
    assert dataclasses.replace(rep_c, hot_buckets_dropped=0) == rep_a
    unpersist_curated(chunks_c)
    for s, t in early_markers.items():
        assert os.path.getmtime(os.path.join(local, s, "_STAGE_OK")) == t, (
            f"stage {s} was rewritten on resume — it should have loaded"
        )


def test_curate_run_dir_loads_artifacts_not_recompute(spark, tmp_path):
    """Doctor a completed stage artifact (remove a survivor from the
    final probe keep-set — the last checkpointed stage, so no stale
    downstream text artifact can mask it) and resume: the result must
    reflect the DOCTORED set — proof the stage was loaded, not
    recomputed. (Doctoring an EARLIER stage's ids is outside the
    store's contract: downstream artifacts are keyed by CONFIG, so a
    data-only edit upstream leaves them validly loadable.)"""
    import os
    import shutil

    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        unpersist_curated,
    )

    docs, emb, eval_docs = _resume_corpus(spark)
    kw = _resume_kwargs(emb, eval_docs)
    run = str(tmp_path / "run")
    chunks, _ = curate_documents(docs, **kw, run_dir=run)
    base_ids = {
        r["doc_id"] for r in chunks.select("doc_id").distinct().collect()
    }
    unpersist_curated(chunks)
    victim = max(base_ids)

    data = os.path.join(run, "probe_keep", "data")
    doctored = spark.read.parquet(data).filter(
        F.col("doc_id") != victim
    )
    tmp_out = os.path.join(run, "probe_keep", "data_doctored")
    doctored.write.parquet(tmp_out)
    shutil.rmtree(data)
    os.rename(tmp_out, data)

    chunks2, _ = curate_documents(docs, **kw, run_dir=run)
    ids2 = {
        r["doc_id"] for r in chunks2.select("doc_id").distinct().collect()
    }
    unpersist_curated(chunks2)
    assert victim not in ids2
    assert ids2 == base_ids - {victim}


def test_curate_run_dir_config_drift_invalidates_suffix(spark, tmp_path):
    """Changing a mid-pipeline parameter recomputes that stage and its
    downstream suffix (fresh-run-equivalent result) while upstream
    artifacts stay loaded."""
    import os

    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        unpersist_curated,
    )

    docs, emb, eval_docs = _resume_corpus(spark)
    kw = _resume_kwargs(emb, eval_docs)
    run = str(tmp_path / "run")
    chunks, _ = curate_documents(docs, **kw, run_dir=run)
    unpersist_curated(chunks)
    upstream_mtime = os.path.getmtime(
        os.path.join(run, "exact_keep", "_STAGE_OK")
    )

    kw2 = dict(kw, near_dup_threshold=0.95)  # drops fewer near-dups
    fresh, rep_fresh = curate_documents(docs, **kw2)
    rows_fresh = _chunk_rows(fresh)
    unpersist_curated(fresh)

    resumed, rep_resumed = curate_documents(docs, **kw2, run_dir=run)
    assert _chunk_rows(resumed) == rows_fresh
    assert rep_resumed == rep_fresh
    unpersist_curated(resumed)
    assert (
        os.path.getmtime(os.path.join(run, "exact_keep", "_STAGE_OK"))
        == upstream_mtime
    ), "upstream stage should have been loaded, not rewritten"


def test_predicate_sig_is_stable_and_binder_scoped(spark):
    """_predicate_sig must (a) hash the same predicate identically
    across builds (Spark's HOF lambda counter is session-global), and
    (b) NOT collapse genuinely different columns whose names look like
    lambda counters (id_1 vs id_2) — a false match would load the
    wrong run_dir artifact (round-9 review)."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline.curate import (
        _predicate_sig,
    )

    # same config built twice → identical sigs (incl. the HOF stage)
    a = [_predicate_sig(c) for _, c in default_quality_stages()]
    b = [_predicate_sig(c) for _, c in default_quality_stages()]
    assert a == b

    # columns named like lambda counters stay distinct
    assert _predicate_sig(F.col("id_1") > 0) != _predicate_sig(
        F.col("id_2") > 0
    )

    # single-arg binder renumbering collapses
    def hof():
        return F.exists(F.split(F.col("text"), " "), lambda x: x == "a")

    assert _predicate_sig(hof()) == _predicate_sig(hof())

    # multi-arg binders ((x_N, y_M) ->) renumber too
    def hof2():
        return (
            F.size(
                F.zip_with(
                    F.split(F.col("t"), " "),
                    F.split(F.col("u"), " "),
                    lambda x, y: F.concat(x, y),
                )
            )
            > 0
        )

    assert _predicate_sig(hof2()) == _predicate_sig(hof2())

"""Hot-bucket guard for the LSH candidate self-joins (MinHash + ANN).

A band/table bucket with m members contributes C(m,2) candidate rows to
the pair join before any distinct — on a boilerplate-heavy corpus
(templated pages, failed-encode zero vectors) one ubiquitous signature
makes the candidate stage quadratic in the corpus. The guard drops
buckets whose membership exceeds ``max_bucket`` BEFORE the self-join,
mirroring ``ngram_jaccard_pairs``' ``max_df`` cap: hot buckets carry no
near-dup signal (every member trivially matches every other), so the
drop is a documented recall trade, not a correctness loss.

The planted corpora here are the worst case the guard exists for:
thousands of documents/vectors with IDENTICAL signatures. Uncapped,
the MinHash case alone is 8 bands × C(10 000, 2) ≈ 4·10⁸ join rows;
capped, the whole operator finishes in seconds and real near-dups
planted outside the hot bucket still pair up.
"""

from __future__ import annotations

from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    dedup_against_corpus,
    dedup_pairs_against_corpus,
    minhash_hot_bucket_report,
    minhash_lsh_candidates,
    minhash_lsh_dedup_pairs,
    minhash_signature_index,
)
from hospital_stain_tracker_data_pipeline_spark.operators.similarity import (
    ANN_MAX_BUCKET,
    ann_hot_bucket_report,
    ann_lsh_candidates,
    ann_lsh_pairs,
)

BOILERPLATE = (
    "click here to accept cookies and subscribe to our newsletter today"
)


def _boilerplate_corpus(spark, n=10_000):
    """n identical-signature docs + one genuine near-dup pair whose
    buckets stay far below any cap."""
    rows = [(i, BOILERPLATE) for i in range(n)]
    rows.append((n, "the quick brown fox jumps over the lazy dog again and again"))
    rows.append((n + 1, "the quick brown fox jumps over the lazy cat again and again"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_cap_bounds_planted_10k_identical_signatures(spark):
    docs = _boilerplate_corpus(spark, 10_000)
    pairs = minhash_lsh_dedup_pairs(docs, threshold=0.3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # the 10k-doc hot bucket contributes ZERO candidates (dropped whole,
    # C(10k,2) ≈ 5·10⁷ pairs per band avoided); the planted near-dup
    # outside it still pairs
    assert (10_000, 10_001) in got
    assert all(a >= 10_000 and b >= 10_000 for a, b in got)
    # candidate hook shows the same bound
    n_cands = minhash_lsh_candidates(docs).count()
    assert n_cands == 1


def test_minhash_hot_bucket_report_surfaces_the_drop(spark):
    docs = _boilerplate_corpus(spark, 2_000)
    rep = minhash_hot_bucket_report(docs).collect()
    # identical signatures collide in EVERY band → one hot bucket per
    # band, each holding all 2 000 boilerplate docs
    assert len(rep) == 8
    assert all(r.members == 2_000 for r in rep)
    # no cap → nothing dropped → empty report
    assert minhash_hot_bucket_report(docs, max_bucket=None).count() == 0


def test_minhash_cap_is_inert_below_threshold(spark):
    """Graded-fixture safety: on a corpus whose largest bucket is far
    below the cap, capped and uncapped results are identical rows."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the lazy cat again and again"),
        (4, "completely different text about weather patterns in spring"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = sorted(
        map(tuple, minhash_lsh_dedup_pairs(docs, threshold=0.3).collect())
    )
    uncapped = sorted(
        map(
            tuple,
            minhash_lsh_dedup_pairs(
                docs, threshold=0.3, max_bucket=None
            ).collect(),
        )
    )
    assert capped == uncapped and len(capped) >= 2
    assert DEFAULT_MAX_BUCKET == 1024


def test_incremental_probe_caps_both_sides(spark):
    """dedup_pairs_against_corpus drops hot buckets on the corpus AND
    new-batch sides; matches outside hot buckets survive."""
    corpus_rows = [(i, BOILERPLATE) for i in range(60)]
    corpus_rows.append(
        (1000, "the quick brown fox jumps over the lazy dog again and again")
    )
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    index = minhash_signature_index(corpus)
    new = spark.createDataFrame(
        [
            (2000, BOILERPLATE),  # boilerplate → hot corpus bucket → dropped
            (2001, "the quick brown fox jumps over the lazy cat again and again"),
        ],
        "doc_id long, text string",
    )
    matches = dedup_pairs_against_corpus(
        new, index, threshold=0.3, max_bucket=50
    ).collect()
    got = {(r.new_id, r.corpus_id) for r in matches}
    assert got == {(2001, 1000)}
    survivors = {
        r.doc_id
        for r in dedup_against_corpus(
            new, index, threshold=0.3, max_bucket=50
        ).collect()
    }
    # the boilerplate doc is NOT matched (its bucket was dropped), so it
    # survives the anti-join — the documented recall trade
    assert survivors == {2000}


def _vec(seed, dim=64):
    # deterministic distinct vector without numpy randomness
    return [float(((seed * 2654435761 + j * 40503) % 1000) - 500) / 500.0
            for j in range(dim)]


def test_ann_cap_bounds_planted_identical_vectors(spark):
    n = 5_000
    base = _vec(7)
    rows = [(i, base) for i in range(n)]
    # planted genuine pair in its own bucket region
    v = _vec(99)
    w = [x * 1.0000001 for x in v]
    rows.append((n, v))
    rows.append((n + 1, w))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cands = ann_lsh_candidates(df, nbits=4, tables=2, max_bucket=100)
    got = {(r.id_a, r.id_b) for r in cands.collect()}
    # identical vectors bucket together in every table (> cap → dropped
    # whole); the planted pair survives
    assert (n, n + 1) in got
    assert all(a >= n and b >= n for a, b in got)
    pairs = ann_lsh_pairs(
        df, threshold=0.9, nbits=4, tables=2, max_bucket=100
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(n, n + 1)}


def test_ann_hot_bucket_report_and_inert_below_cap(spark):
    rows = [(i, _vec(7)) for i in range(300)] + [(300, _vec(99))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = ann_hot_bucket_report(df, nbits=4, tables=2, max_bucket=100)
    r = rep.collect()
    # one hot bucket per table, holding all 300 identical vectors (the
    # distinct vector may happen to share a bucket, hence >=)
    assert len(r) == 2 and all(row.members >= 300 for row in r)
    # default cap (4096) is inert on this corpus: identical candidates
    capped = ann_lsh_candidates(df, nbits=4, tables=2).count()
    uncapped = ann_lsh_candidates(
        df, nbits=4, tables=2, max_bucket=None
    ).count()
    assert capped == uncapped
    assert ANN_MAX_BUCKET == 4096


def test_ann_candidates_single_checkpoint_per_call(spark, monkeypatch):
    """One localCheckpoint per ann_lsh_candidates call — capped, it is
    the CAPPED bucket table (the gemm rides a short-lived persist for
    the cap's two consumers); uncapped, it is the raw bucket table
    (gemm protection for the self-join). The pre-round-14 form wrote
    both — two full checkpoint copies of the biggest intermediate."""
    rows = [(i, _vec(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cls = type(df)  # the concrete (classic) DataFrame class, not the ABC
    calls = []
    orig = cls.localCheckpoint

    def counting(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    ann_lsh_candidates(df, nbits=4, tables=2).count()
    assert len(calls) == 1
    calls.clear()
    ann_lsh_candidates(df, nbits=4, tables=2, max_bucket=None).count()
    assert len(calls) == 1


# ---------------------------------------------------------------------------
# Round 14: the shared Hamming-banded pair engine (simhash text +
# image/audio/video fingerprints). Identical fingerprints are MORE
# common here than identical MinHash signatures in text — blank
# images, black frames and silence all collapse to one 64-bit value —
# and they agree on EVERY band, multiplying the C(m,2) blowup by the
# band count. These are the planted-hot-key siblings of the MinHash
# tests above.
# ---------------------------------------------------------------------------

from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (  # noqa: E402
    hamming_hot_bucket_report,
    hamming_pairs,
    hamming_pairs_against_corpus,
    simhash_hot_bucket_report,
    simhash_pairs,
)

FOX_A = "the quick brown fox jumps over the lazy dog again and again"
FOX_B = FOX_A  # identical text → Hamming 0 → always a true near-dup


def test_simhash_cap_bounds_planted_10k_identical_fingerprints(spark):
    rows = [(i, BOILERPLATE) for i in range(10_000)]
    rows += [(10_000, FOX_A), (10_001, FOX_B)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # the 10k identical-simhash docs collide in EVERY band (4 bands ×
    # C(10k,2) ≈ 2·10⁸ join rows uncapped) — dropped whole; the
    # planted pair outside the hot bucket still pairs at Hamming 0
    assert (10_000, 10_001) in got
    assert all(a >= 10_000 and b >= 10_000 for a, b in got)


def test_simhash_hot_bucket_report_surfaces_the_drop(spark):
    rows = [(i, BOILERPLATE) for i in range(2_000)] + [(9_999, FOX_A)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = simhash_hot_bucket_report(docs, max_bucket=1_000).collect()
    # identical fingerprints agree on every band: max_hamming+1 = 4
    # hot buckets, each holding all 2 000 boilerplate docs
    assert len(rep) == 4
    assert all(r.members == 2_000 for r in rep)
    assert simhash_hot_bucket_report(docs, max_bucket=None).count() == 0


def test_simhash_cap_is_inert_below_threshold(spark):
    rows = [(i, f"document number {i} talks about topic {i % 7}")
            for i in range(60)]
    rows += [(100, FOX_A), (101, FOX_B)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = simhash_pairs(docs).collect()
    uncapped = simhash_pairs(docs, max_bucket=None).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    assert (100, 101, 0) in {(r.id_a, r.id_b, r.hamming) for r in capped}


def test_hamming_cap_bounds_planted_10k_identical_fingerprints(spark):
    n = 10_000
    blank = 0  # the all-black-frame / blank-image fingerprint
    rows = [(i, blank) for i in range(n)]
    rows += [(n, 0x0F0F0F0F0F0F0F0F), (n + 1, 0x0F0F0F0F0F0F0F0E)]
    df = spark.createDataFrame(rows, "media_id long, fp long")
    pairs = hamming_pairs(df, "fp", "media_id", nbits=64, max_hamming=3)
    got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}
    assert got == {(n, n + 1, 1)}
    # report names the dropped buckets: 4 bands × the one blank value
    rep = hamming_hot_bucket_report(df, "fp", "media_id").collect()
    assert len(rep) == 4 and all(r.members == n for r in rep)


def test_hamming_cap_is_inert_below_threshold(spark):
    rows = [(i, (i * 2654435761) % (1 << 63)) for i in range(200)]
    rows += [(1_000, 77), (1_001, 76)]
    df = spark.createDataFrame(rows, "media_id long, fp long")
    capped = hamming_pairs(df, "fp", "media_id").collect()
    uncapped = hamming_pairs(df, "fp", "media_id", max_bucket=None).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    assert hamming_hot_bucket_report(df, "fp", "media_id").count() == 0


def test_hamming_corpus_probe_caps_both_sides(spark):
    # blanks are fp=0 (every band val 0); the planted pair's SHARED
    # bands carry non-zero values so the hot blank bucket can't be its
    # only meeting point
    pair_fp = 0x00FF00FF00FF00FF
    corpus_rows = [(i, 0) for i in range(60)] + [(1_000, pair_fp)]
    corpus = spark.createDataFrame(corpus_rows, "media_id long, phash long")
    new = spark.createDataFrame(
        [(2_000, 0), (2_001, pair_fp ^ 1)], "media_id long, phash long"
    )
    matches = hamming_pairs_against_corpus(
        new, corpus, max_hamming=3, max_bucket=50
    ).collect()
    # the blank bucket (60 corpus + 1 new member) is dropped on the
    # corpus side (>50); the planted pair outside it still matches
    assert {(r.new_id, r.corpus_id, r.hamming) for r in matches} == {
        (2_001, 1_000, 1)
    }
    # uncapped, the blank probe matches all 60 corpus blanks
    n_uncapped = hamming_pairs_against_corpus(
        new, corpus, max_hamming=3, max_bucket=None
    ).count()
    assert n_uncapped == 61


def test_minhash_telemetry_reports_drop_count(spark):
    """The telemetry out-param surfaces how many band buckets the cap
    dropped (what CurationReport.hot_buckets_dropped publishes):
    8 bands × one boilerplate bucket here, 0 on a healthy corpus."""
    docs = _boilerplate_corpus(spark, 2_000)
    tel: dict = {}
    minhash_lsh_dedup_pairs(docs, threshold=0.3, telemetry=tel).count()
    assert tel["hot_buckets_dropped"] == 8
    clean = spark.createDataFrame(
        [(1, "one text"), (2, "another text entirely")],
        "doc_id long, text string",
    )
    tel2: dict = {}
    minhash_lsh_dedup_pairs(clean, telemetry=tel2).count()
    assert tel2["hot_buckets_dropped"] == 0
    tel3: dict = {}
    minhash_lsh_dedup_pairs(clean, max_bucket=None, telemetry=tel3).count()
    assert tel3["hot_buckets_dropped"] == 0


def test_capped_lazy_cap_adds_no_action_without_telemetry(spark):
    """Round 15: callers that don't request drop telemetry get the cap
    as a PLAN NODE (lazy anti-join), not a per-call count() action —
    building a capped operator fires exactly the ONE job the
    ``materialize`` of the (id, hash) frame always cost, same as the
    uncapped form (the count-first form paid one extra whole job per
    call, which the driver measured as a 25-47% regression on the
    audio/video near-dup extras). Telemetry callers keep the eager
    count (the report is the point there), so they fire one more."""
    import uuid

    sc = spark.sparkContext

    def build_jobs(fn) -> int:
        gid = f"lazycap_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(gid, "lazy-cap construction job count")
        fn()  # only BUILD the operator - no action on the result
        sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(gid))

    rows = [(i, (i * 2654435761) % (1 << 63)) for i in range(200)]
    df = spark.createDataFrame(rows, "media_id long, fp long")
    capped = build_jobs(lambda: hamming_pairs(df, "fp", "media_id"))
    uncapped = build_jobs(
        lambda: hamming_pairs(df, "fp", "media_id", max_bucket=None)
    )
    assert capped == uncapped == 1  # the materialize of h, nothing else
    tel: dict = {}
    with_tel = build_jobs(
        lambda: hamming_pairs(df, "fp", "media_id", telemetry=tel)
    )
    # materialize + the eager hot count (AQE may split the count into
    # several stage-jobs; the pin is "strictly more than lazy", not an
    # AQE-internal job tally)
    assert with_tel > capped
    assert tel["hot_buckets_dropped"] == 0

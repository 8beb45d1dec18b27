"""Property-based tests (hypothesis): invariants that must hold for ANY
input, run as one Spark batch per generated example set to keep the
round-trip count low.

- validation split partitions the input: accepted ∪ rejected = input,
  accepted ∩ rejected = ∅, and every reject reason is the FIRST failing
  rule's string
- last-writer-wins upsert: idempotent (f(f(x)) = f(x)), keys unique
  after merge, incoming always beats existing on conflicts
- strain index is always within [0, 100] and NULL ICU falls back to the
  bed score
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.functions.metrics import strain_index
from hospital_stain_tracker_data_pipeline_spark.operators.upsert import (
    upsert_last_writer_wins,
)
from hospital_stain_tracker_data_pipeline_spark.operators.validate import (
    split_valid_invalid,
)

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row_st = st.tuples(
    st.integers(0, 10**6),
    st.one_of(st.none(), st.integers(-5, 500)),
    st.one_of(st.none(), st.sampled_from(["click", "view", ""])),
)


@_slow
@given(st.lists(row_st, min_size=1, max_size=40))
def test_validation_split_partitions_input(spark, rows):
    df = spark.createDataFrame(
        [(i, v, t) for i, (i2, v, t) in enumerate(rows)],
        "id long, value int, event_type string",
    )
    rules = [
        (F.col("event_type").isNull(), "event_type is required"),
        (F.col("value").isNull(), "value is required"),
        (F.col("value") < 0, "value cannot be negative"),
        (F.col("value") > 450, "value cannot exceed 450"),
    ]
    accepted, rejected = split_valid_invalid(df, rules)
    acc = {r.id for r in accepted.collect()}
    rej = {r.id: r._reject_reason for r in rejected.collect()}
    assert acc | set(rej) == {r.id for r in df.collect()}
    assert acc & set(rej) == set()
    # first-match-wins: recompute expected reason in plain Python
    for i, (_, v, t) in enumerate(rows):
        if t is None:
            expect = "event_type is required"
        elif v is None:
            expect = "value is required"
        elif v < 0:
            expect = "value cannot be negative"
        elif v > 450:
            expect = "value cannot exceed 450"
        else:
            expect = None
        if expect is None:
            assert i in acc
        else:
            assert rej.get(i) == expect, (i, rej.get(i), expect)


kv_st = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 1000)), min_size=1, max_size=30
)


@_slow
@given(existing=kv_st, incoming=kv_st)
def test_upsert_last_writer_wins_properties(spark, existing, incoming):
    ex = spark.createDataFrame(
        [(k, v, 0) for k, v in existing], "k int, v int, version int"
    ).dropDuplicates(["k"])
    inc = spark.createDataFrame(
        [(k, v, 1) for k, v in incoming], "k int, v int, version int"
    ).dropDuplicates(["k"])
    merged = upsert_last_writer_wins(ex, inc, ["k"], "version")
    rows = {r.k: (r.v, r.version) for r in merged.collect()}
    # keys unique and complete
    ex_keys = {r.k for r in ex.collect()}
    inc_rows = {r.k: r.v for r in inc.collect()}
    assert set(rows) == ex_keys | set(inc_rows)
    # incoming wins every conflict
    for k, v in inc_rows.items():
        assert rows[k] == (v, 1)
    # idempotent: merging incoming again changes nothing
    again = upsert_last_writer_wins(merged, inc, ["k"], "version")
    assert {r.k: (r.v, r.version) for r in again.collect()} == rows


@_slow
@given(
    st.lists(
        st.tuples(
            st.floats(0, 2, allow_nan=False),
            st.one_of(st.none(), st.floats(0, 2, allow_nan=False)),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_strain_index_bounded_and_null_fallback(spark, pairs):
    df = spark.createDataFrame(pairs, "bed double, icu double")
    out = df.select(
        "bed", "icu", strain_index(F.col("bed"), F.col("icu")).alias("s")
    ).collect()
    for r in out:
        assert 0.0 <= r.s <= 100.0
        if r.icu is None:
            # coalesce fallback: icu score = bed score
            expect = min(100.0, max(0.0, r.bed * 100.0))
            assert abs(r.s - round(expect, 2)) <= 0.01


# --- SimHash pigeonhole banding: pure-Python invariants (no Spark) ---

@settings(max_examples=200, deadline=None)
@given(
    nbits=st.integers(1, 64),
    max_hamming=st.integers(0, 64),
)
def test_band_bounds_tile_the_fingerprint(nbits, max_hamming):
    """_band_bounds must partition [0, nbits) exactly: contiguous,
    non-overlapping, every bit covered once, widths differ by ≤ 1."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import _band_bounds

    bands = min(max_hamming + 1, nbits)
    bounds = _band_bounds(nbits, bands)
    assert len(bounds) == bands
    pos = 0
    widths = []
    for off, w in bounds:
        assert off == pos and w >= 1
        pos += w
        widths.append(w)
    assert pos == nbits
    assert max(widths) - min(widths) <= 1


@settings(max_examples=200, deadline=None)
@given(
    data=st.data(),
    nbits=st.integers(4, 32),
    max_hamming=st.integers(0, 6),
)
def test_pigeonhole_guarantees_shared_band(data, nbits, max_hamming):
    """The recall guarantee behind simhash_pairs: ANY two fingerprints
    within Hamming distance ≤ max_hamming (< nbits) agree exactly on at
    least one of the max_hamming+1 bands."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import _band_bounds

    if max_hamming >= nbits:
        return
    a = data.draw(st.integers(0, 2**nbits - 1))
    # flip at most max_hamming distinct bits
    n_flips = data.draw(st.integers(0, max_hamming))
    bits = data.draw(
        st.lists(
            st.integers(0, nbits - 1), min_size=n_flips, max_size=n_flips,
            unique=True,
        )
    )
    b = a
    for j in bits:
        b ^= 1 << j
    bands = min(max_hamming + 1, nbits)
    shared = any(
        (a >> off) & ((1 << w) - 1) == (b >> off) & ((1 << w) - 1)
        for off, w in _band_bounds(nbits, bands)
    )
    assert shared


@_slow
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=25),
    st.integers(1, 16),
    st.integers(1, 4),
)
def test_pack_token_chunks_invariants(spark, tok_counts, budget, n_shards):
    """Packing invariants for ANY corpus/budget/shard count, checked
    against a plain-Python replay: token conservation per doc, exactly
    `budget` tokens in every non-final chunk per shard, and span
    arithmetic (chunk_start/chunk_tokens) matching the reference."""
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_token_chunks,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(tok_counts)],
        "doc_id long, text string",
    )
    got = {
        (r.shard, r.chunk_id, r.doc_id): (r.n_tok, r.chunk_start, r.chunk_tokens)
        for r in pack_token_chunks(docs, budget=budget, n_shards=n_shards).collect()
    }

    # plain-Python reference replay
    want = {}
    offsets = {}
    for doc_id, n in enumerate(tok_counts):
        if n == 0:
            continue
        shard = doc_id % n_shards
        start = offsets.get(shard, 0)
        end = start + n
        offsets[shard] = end
        for chunk in range(start // budget, (end - 1) // budget + 1):
            lo, hi = max(start, chunk * budget), min(end, (chunk + 1) * budget)
            want[(shard, chunk, doc_id)] = (n, max(0, start - chunk * budget), hi - lo)
    assert got == want


@_slow
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", ""]), min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    )
)
def test_dedup_spans_matches_python_reference(spark, doc_lines):
    """Span dedup invariant for ANY corpus: globally-first occurrence
    of each distinct (trimmed, len >= min_chars) span survives, order
    within docs is preserved — replayed in plain Python."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    docs = [(i, "\n".join(lines)) for i, lines in enumerate(doc_lines)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_deduped, r.n_spans, r.n_spans_kept)
        for r in dedup_spans(df, min_chars=1).collect()
    }

    seen = set()
    want = {}
    for doc_id, text in docs:
        spans = text.split("\n")
        kept = []
        for s in spans:
            key = s.strip()
            if len(key) < 1:          # below min_chars: always survives
                kept.append(s)
            elif key not in seen:
                seen.add(key)
                kept.append(s)
        want[doc_id] = ("\n".join(kept), len(spans), len(kept))
    assert got == want


@_slow
@given(
    docs=st.lists(
        st.text(
            alphabet=st.sampled_from("ab xyz"),
            max_size=30,
        ),
        min_size=1,
        max_size=15,
    ),
    n=st.integers(1, 3),
    k=st.floats(0.01, 2.0),
)
def test_ngram_lm_perplexity_properties(spark, docs, n, k):
    """Any corpus, any order n, any add-k: (1) scored self-perplexity
    is finite and ≥ 1 for docs with tokens, NULL for token-free docs;
    (2) every per-gram probability is a proper distribution, so
    avg_neg_logp > 0 unless the model is deterministic on that doc
    (perplexity == 1.0 exactly when every gram has probability 1 —
    impossible under add-k with a nonempty vocab, so ppl > 1)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.lm import (
        score_perplexity,
        train_ngram_lm,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    lm = train_ngram_lm(df, n=n, k=k)
    rows = score_perplexity(df, lm, round_to=None).collect()
    assert len(rows) == len(docs)
    has_tokens = lm.vocab_size > 0
    for r in rows:
        if r["n_grams"] == 0:
            assert r["perplexity"] is None
        else:
            assert has_tokens
            # add-k smoothing spreads mass onto the OOV bucket, so no
            # gram is ever certain: perplexity strictly above 1
            assert r["perplexity"] > 1.0
            assert r["avg_neg_logp"] > 0.0


@_slow
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b", "c", None])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    cap=st.integers(0, 6),
    seed=st.integers(0, 3),
)
def test_cap_per_group_properties(spark, rows, cap, seed):
    """Any corpus/cap/seed: every non-NULL group ends ≤ cap, NULL
    groups pass through whole, kept rows are a subset of the input,
    and under-cap groups are untouched."""
    from collections import Counter

    from hospital_stain_tracker_data_pipeline_spark.operators.web import (
        cap_per_group,
    )

    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = cap_per_group(df, "source", cap, seed=seed).collect()
    in_counts = Counter(s for _, s in rows)
    out_counts = Counter(r["source"] for r in got)
    in_ids = {i for i, _ in rows}
    assert all(r["doc_id"] in in_ids for r in got)
    for g, n_in in in_counts.items():
        if g is None:
            assert out_counts[g] == n_in
        else:
            assert out_counts[g] == min(n_in, cap)


@_slow
@given(
    tokens=st.lists(st.integers(1, 20), min_size=1, max_size=12),
    frac=st.floats(0.1, 2.9),
    seed=st.integers(0, 2),
)
def test_sample_token_mixture_budget_conservation(spark, tokens, frac, seed):
    """Any corpus and fractional epoch target: the sampled token mass
    per source lands in [quota, quota + max_doc) — greedy
    take-until-reached overshoots by less than one document — and
    full epochs replicate the whole source."""
    from hospital_stain_tracker_data_pipeline_spark.operators.mixture import (
        plan_token_mixture,
        sample_token_mixture,
        source_token_stats,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n), "s") for i, n in enumerate(tokens)],
        "doc_id long, text string, source string",
    )
    stats = source_token_stats(docs)
    avail = sum(tokens)
    target = max(1, int(avail * frac))
    plan = plan_token_mixture(stats, target_tokens=target, max_epochs=3.0)
    quota = plan[0].target_tokens
    assert quota == min(target, int(3.0 * avail))
    out = sample_token_mixture(docs, plan, seed=seed).collect()
    tok_by_id = dict(enumerate(tokens))
    got_tokens = sum(tok_by_id[r["doc_id"]] for r in out)
    assert got_tokens >= quota
    assert got_tokens - max(tokens) < quota
    # every full epoch contains the entire source exactly once
    from collections import Counter

    per_epoch = Counter(r["epoch"] for r in out)
    n_full = quota // avail
    for e in range(n_full):
        assert per_epoch[e] == len(tokens)


@_slow
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("ab c"), max_size=25),
        min_size=1,
        max_size=10,
    ),
    query=st.text(alphabet=st.sampled_from("abc "), min_size=1, max_size=10),
)
def test_bm25_matches_reference_on_random_corpora(spark, docs, query):
    """Any corpus/query: Spark BM25 equals the single-process reference
    scorer exactly (same formula, distributed vs loop)."""
    from hospital_stain_tracker_data_pipeline_spark.operators.retrieval import (
        bm25_reference,
        bm25_topk,
        build_bm25_index,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_bm25_index(df)
    want = bm25_reference(rows, query)
    if not query.split():
        return  # tokenless query raises; covered by the unit test
    if idx.avgdl == 0:
        return  # all-empty corpus: no scores by contract
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(idx, query, k=1000, round_to=None).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) < 1e-9


@_slow
@given(
    tokens=st.lists(st.integers(1, 30), min_size=1, max_size=25),
    budget=st.integers(1, 40),
)
def test_no_split_packing_matches_greedy_reference(spark, tokens, budget):
    """Any token profile/budget (single shard): the distributed packer
    equals a plain-python greedy walk — same chunk assignment for every
    doc, including oversize singleton semantics."""
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_documents_no_split,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(tokens)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["chunk_id"]
        for r in pack_documents_no_split(docs, budget=budget, n_shards=1).collect()
    }
    want = {}
    cid, used = 0, 0
    for i, t in enumerate(tokens):
        if used > 0 and used + t > budget:
            cid += 1
            used = 0
        want[i] = cid
        used += t
        if t > budget:
            cid += 1
            used = 0
    assert got == want


@_slow
@given(
    docs=st.lists(
        st.lists(st.integers(0, 3), min_size=0, max_size=14),
        min_size=1,
        max_size=6,
    ),
    L=st.integers(2, 5),
)
def test_dedup_substrings_matches_python_reference(spark, docs, L):
    """Random small-alphabet corpora (duplicates likely): the
    distributed substring dedup equals a direct python replay of the
    spec — window keys, global first occurrence, merged-interval cut."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_substrings,
    )

    texts = [(i, " ".join(f"t{x}" for x in ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_deduped"], r["n_tokens_removed"])
        for r in dedup_substrings(df, min_tokens=L).collect()
    }

    toks = {i: t.split() if t else [] for i, t in texts}
    occ: dict[tuple, list] = {}
    for i in sorted(toks):
        ts = toks[i]
        for p in range(len(ts) - L + 1):
            occ.setdefault(tuple(ts[p:p + L]), []).append((i, p))
    cuts: dict[int, list] = {}
    for key, places in occ.items():
        if len(places) > 1:
            for d, p in sorted(places)[1:]:
                cuts.setdefault(d, []).append((p, p + L))
    want = {}
    for i, ts in toks.items():
        ivs = sorted(cuts.get(i, []))
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        covered = set()
        for s, e in merged:
            covered.update(range(s, e))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        want[i] = (" ".join(kept), len(ts) - len(kept))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(-8000, 8000), min_size=1, max_size=400),
    st.integers(1, 4),
    st.sampled_from([4000, 8000, 11025, 16000, 44100]),
)
def test_audio_fingerprint_gain_invariance_property(samples, gain, rate):
    """For ANY integer PCM signal, ANY integer gain (no clipping by
    construction), and ANY source rate: the fingerprint is EXACTLY
    invariant — every bit is the sign of a difference of lag-energy
    differences, and uniform scaling multiplies all energies by
    gain^2."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.audio_fp import (
        _afp_bits,
    )

    x = np.asarray(samples, dtype=np.int64).reshape(-1, 1)
    assert _afp_bits(x * gain, rate) == _afp_bits(x, rate)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(-30000, 30000), min_size=4, max_size=300),
    st.lists(st.integers(-30000, 30000), min_size=4, max_size=300),
)
def test_audio_fingerprint_exact_downsample_property(samples, odd_filler):
    """A 2x-rate recording whose EVEN samples are the base signal
    fingerprints identically to the base, whatever the odd samples
    hold — the internal nearest-resample's exact integer index map
    picks index (i * 2n) // n = 2i."""
    import numpy as np

    from hospital_stain_tracker_data_pipeline_spark.operators.audio_fp import (
        AFP_RATE,
        _afp_bits,
    )

    base = np.asarray(samples, dtype=np.int64)
    n = base.shape[0]
    filler = np.resize(np.asarray(odd_filler, dtype=np.int64), n)
    doubled = np.empty(2 * n, dtype=np.int64)
    doubled[0::2] = base
    doubled[1::2] = filler
    assert _afp_bits(doubled.reshape(-1, 1), 2 * AFP_RATE) == _afp_bits(
        base.reshape(-1, 1), AFP_RATE
    )


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=0, max_size=200),
    st.lists(st.integers(-1, 255), min_size=1, max_size=20),
)
def test_dyadic_rank_never_underestimates_property(values, probes):
    """For ANY multiset and ANY probe: the estimated rank from cells
    built with the operator's exact hashing scheme is >= the true
    rank (CMS never undercounts), and the whole-domain rank is
    EXACTLY N (the top-level block shares its level with nothing)."""
    import hashlib

    from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
        rank_from_cells,
    )

    levels, width, depth = 8, 64, 3
    cells: dict = {}
    for v in values:
        for lvl in range(levels + 1):
            block = v >> lvl
            hx = hashlib.md5(str(block).encode()).hexdigest()
            h1 = int(hx[0:15], 16) % width
            h2 = (int(hx[15:30], 16) % width) | 1
            for r in range(depth):
                key = (lvl, r, (h1 + r * h2) % width)
                cells[key] = cells.get(key, 0) + 1
    for x in probes:
        true_rank = sum(1 for v in values if v <= x)
        assert rank_from_cells(cells, x, levels, width, depth) >= true_rank
    assert (
        rank_from_cells(cells, (1 << levels) - 1, levels, width, depth)
        == len(values)
    )


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126
                ),
                min_size=0,
                max_size=60,
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=3,
    ),
    st.booleans(),
)
def test_pdf_writer_extractor_roundtrip_property(pages, compress):
    """For ANY printable-ASCII page content (parens, backslashes, PDF
    delimiters included) and either stream encoding, text written
    through the rig extracts back exactly — the writer's escaping and
    the extractor's tokenizer are true inverses."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (
        build_simple_pdf,
        extract_pdf_text_bytes,
    )

    raw = build_simple_pdf(pages, compress=compress)
    n_pages, text = extract_pdf_text_bytes(raw)
    assert n_pages == len(pages)
    got = [p.split("\n") for p in text.split("\f")]
    # the extractor emits one line per Td + a trailing break per page
    want = [[ln for ln in page] + [""] for page in pages]
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126
                ),
                min_size=0,
                max_size=60,
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=3,
    ),
    st.booleans(),
)
def test_pdf_objstm_writer_matches_classic_property(pages, compress):
    """For ANY printable-ASCII page content, the ObjStm/xref-stream
    (PDF 1.5) serialization extracts EXACTLY the same text as the
    classic-xref 1.4 serialization of the same pages — the two writers
    and the one extractor agree over the whole input space, not just
    the fixtures."""
    from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (
        build_objstm_pdf,
        build_simple_pdf,
        extract_pdf_text_bytes,
    )

    raw15 = build_objstm_pdf(pages, compress=compress)
    raw14 = build_simple_pdf(pages, compress=compress)
    got15 = extract_pdf_text_bytes(raw15)
    assert got15 is not None
    assert got15 == extract_pdf_text_bytes(raw14)
    assert got15[0] == len(pages)
